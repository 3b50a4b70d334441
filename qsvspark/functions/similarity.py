"""Similarity search over an embedding column (array<float>).

brute_force_topk — exact cosine top-k: one scan, one codegen'd dot
product per row, TakeOrderedAndProject for the top-k (no full sort, no
collect). This is the verification baseline.

lsh_ann_topk — the scale path: random-hyperplane LSH. Each vector gets a
B-bit signature (sign of dot with B fixed pseudo-random hyperplanes,
derived deterministically from a seed); the query probes only vectors
whose signature is within `probe_hamming` bits, then exact-reranks the
candidates. At cluster scale, signatures are computed once and stored
(partitioned/bucketed by signature prefix), so a query touches a handful
of buckets instead of the whole table — turning an O(n) scan into an
O(n/2^B · probes) bucket read.
"""

from __future__ import annotations

import itertools
import math
import random

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from qsvspark.functions.dedup import _dot, cosine
from qsvspark.io.snapshot import SnapshotCatalog


def brute_force_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k for one query vector (broadcast as a literal)
    → TakeOrderedAndProject. Also the exact rerank of every ANN
    candidate set."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        df.select(F.col(id_col), F.round(cosine(F.col(vec_col), q), 6).alias("cos"))
        .orderBy(F.col("cos").desc(), F.col(id_col))
        .limit(k)
    )


def _hyperplanes(dim: int, bits: int, seed: int) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(bits)]


def signature_expr(vec_col: str, planes: list[list[float]]) -> Column:
    """B-bit signature as a long: bit b = 1 iff dot(v, plane_b) > 0."""
    sig = F.lit(0).cast("long")
    for b, plane in enumerate(planes):
        dot = _dot(F.col(vec_col), F.array(*[F.lit(float(x)) for x in plane]))
        sig = sig.bitwiseOR(F.when(dot > 0, F.shiftleft(F.lit(1).cast("long"), b)).otherwise(F.lit(0).cast("long")))
    return sig


def query_signature(query_vec: list[float], planes: list[list[float]]) -> int:
    """Driver-side signature of the query vector (same bit rule as
    signature_expr; Python float ops are IEEE-double, identical to the
    executor-side fold)."""
    qsig = 0
    for b, plane in enumerate(planes):
        if sum(q * p for q, p in zip(query_vec, plane)) > 0:
            qsig |= 1 << b
    return qsig


def lsh_ann_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bits: int = 12,
    probe_hamming: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Approximate cosine top-k: filter to signature-near candidates
    (hamming ≤ probe_hamming), exact-rerank the survivors. Signatures are
    recomputed per query — the one-off / ad-hoc path; for repeated
    queries build an AnnIndex once and probe only its buckets."""
    planes = _hyperplanes(len(query_vec), bits, seed)
    qsig = query_signature(query_vec, planes)
    sig = signature_expr(vec_col, planes)
    cand = df.withColumn("__sig", sig).filter(
        F.bit_count(F.col("__sig").bitwiseXOR(F.lit(qsig).cast("long"))) <= probe_hamming
    )
    return brute_force_topk(cand, query_vec, k, vec_col, id_col)


# --- IVF (inverted-file) ANN — the second scale path ------------------
#
# faiss-style recipe re-expressed for Spark: train centroids on a small
# deterministic sample (bounded driver collect — training data size is
# fixed regardless of table size), assign every vector to its nearest
# centroid with a codegen'd argmax expression, and probe only the nprobe
# nearest centroid cells for a query. With IvfIndex the assignment is
# computed ONCE and stored as a partition column, so a query is a
# partition-pruned read of nprobe/n_centroids of the table.


def _lloyd(x, n_centroids: int, iters: int) -> list[list[float]]:
    """Shared float64 Lloyd core: unit-normalize, init from the first
    n_centroids rows, iterate argmax-cosine assignment / renormalized
    means. Components are rounded to 6 decimals on output so the
    centroid LITERALS embedded in Spark expressions and generated oracle
    SQL are short, stable, and parse to the same value in both engines."""
    import numpy as np

    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    cents = xn[:n_centroids].copy()
    for _ in range(iters):
        assign = (xn @ cents.T).argmax(axis=1)
        for c in range(n_centroids):
            members = xn[assign == c]
            if len(members):
                v = members.mean(axis=0)
                norm = np.linalg.norm(v)
                if norm > 0:
                    cents[c] = v / norm
    return [[round(float(v), 6) for v in c] for c in cents]


def train_ivf_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int = 16,
    sample_n: int = 256,
    iters: int = 5,
) -> list[list[float]]:
    """Deterministic IVF training: the sample_n lowest-id vectors (an
    order-stable bounded collect — training size is fixed regardless of
    table size) + Lloyd iterations on the driver. Deterministic given the
    table contents — reruns and the value oracle see identical centroids."""
    import numpy as np

    rows = df.select(id_col, vec_col).orderBy(id_col).limit(sample_n).collect()
    x = np.array([list(r[1]) for r in rows], dtype=np.float64)
    return _lloyd(x, n_centroids, iters)


def train_ivf_centroids_from_parquet(
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int = 16,
    sample_n: int = 256,
    iters: int = 5,
) -> list[list[float]]:
    """Same training, driven by pyarrow instead of a SparkSession —
    byte-identical centroids (same float64 Lloyd core on the same
    lowest-id sample). Used where no Spark is available, e.g. generating
    the DuckDB value oracle for the IVF query."""
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=[id_col, vec_col])
    order = np.argsort(t[id_col].to_numpy(), kind="stable")[:sample_n]
    vecs = t[vec_col].to_pylist()
    x = np.array([vecs[i] for i in order], dtype=np.float64)
    return _lloyd(x, n_centroids, iters)


def ivf_assign_expr(vec_col: str, centroids: list[list[float]]) -> Column:
    """0-based nearest-centroid id as a codegen'd expression: argmax over
    the per-centroid cosines, each rounded to 6 decimals so the argmax is
    reproducible across engines (first index wins ties — DuckDB's
    list_indexof uses the same rule, which the driver oracle relies on)."""
    sims = F.array(*[
        F.round(cosine(F.col(vec_col), F.array(*[F.lit(float(x)) for x in c])), 6)
        for c in centroids
    ])
    return (F.array_position(sims, F.array_max(sims)) - 1).cast("int")


def probed_centroids(
    query_vec: list[float], centroids: list[list[float]], nprobe: int
) -> list[int]:
    """Driver-side: the nprobe centroid ids nearest the query (same
    round-6 cosine rule as ivf_assign_expr)."""
    qn = math.sqrt(sum(v * v for v in query_vec))
    sims = []
    for i, c in enumerate(centroids):
        cn = math.sqrt(sum(v * v for v in c))
        sims.append((round(sum(a * b for a, b in zip(query_vec, c)) / (qn * cn), 6), i))
    sims.sort(key=lambda t: (-t[0], t[1]))
    return sorted(i for _, i in sims[:nprobe])


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF approximate top-k without a prebuilt index: assign-and-filter
    in one scan (16 codegen'd dot products per row), exact-rerank the
    survivors. The ad-hoc path; IvfIndex stores the assignment so
    repeated queries skip the scan entirely."""
    probe = probed_centroids(query_vec, centroids, nprobe)
    cand = df.filter(ivf_assign_expr(vec_col, centroids).isin(*probe))
    return brute_force_topk(cand, query_vec, k, vec_col, id_col)


def semantic_dedup(
    df: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    method: str = "expr",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
    the embedding space, compare pairs only WITHIN a cluster, and drop
    every vector that has a lower-id cluster-mate with cosine ≥
    threshold (round-6, the cross-engine comparison rule used
    everywhere here). Keep-lowest-id is the deterministic stand-in for
    the paper's keep-farthest-from-centroid — same dedup power, stable
    under reruns and reproducible in the value oracle.

    Returns every input row as ``(id_col, cluster, kept)``.

    Scale shape: assignment is the codegen'd argmax over the centroid
    literals (one scan); the pair comparison happens only WITHIN a
    cluster, so each cluster's O(|c|²) work stays inside its own group
    and NO cross-cluster pair is ever materialized. That bound is the
    whole point of SemDeDup: k grows with the corpus (the paper uses
    50k clusters for LAION) so |c| stays small and the quadratic term
    is per-cluster, not global. At fixed k the largest cluster is the
    skew/parallelism ceiling — size k to the corpus, or pre-split hot
    clusters, before scaling up.

    ``method``:

    * ``"expr"`` (default) — engine-portable expression path: a
      cluster-keyed self-join with a per-pair round-6 cosine fold. The
      verification baseline: every step is a deterministic Column
      expression reproducible in any SQL engine.
    * ``"blas"`` — Arrow-batched applyInPandas per cluster: numpy
      normalizes the cluster block and takes one X·Xᵀ matmul, then
      drops any row with a lower-id mate at round-6 ≥ threshold.
      Identical verdicts (pytest-pinned against expr), measured 6×
      faster at sf0.1; this is the 100-TB path — per-pair cost
      collapses into BLAS and the shuffle moves each vector exactly
      once (the join path moves both sides and folds a 64-element
      zip_with per pair).
    """
    assigned = df.select(
        F.col(id_col),
        F.col(vec_col),
        ivf_assign_expr(vec_col, centroids).alias("cluster"),
    )
    if method == "blas":
        import pandas as pd  # noqa: F401 — applyInPandas contract

        thr = float(threshold)

        def _dedup_cluster(pdf):
            import numpy as np

            pdf = pdf.sort_values(id_col, kind="stable").reset_index(drop=True)
            x = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            norms = np.linalg.norm(x, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            xn = x / norms
            # round-6 HALF-UP, the rule of the expr path (Spark round)
            # and the oracle; np.round would round ties half-to-even
            sims = np.floor(xn @ xn.T * 1e6 + 0.5) / 1e6
            # strictly-lower-triangular: sims[i, j<i] is against a
            # lower-id mate (ids are sorted above)
            tri = np.tril(sims >= thr, k=-1)
            kept = ~tri.any(axis=1)
            return pdf[[id_col, "cluster"]].assign(kept=kept)

        id_type = assigned.schema[id_col].dataType.simpleString()
        return assigned.groupBy("cluster").applyInPandas(
            _dedup_cluster,
            schema=f"{id_col} {id_type}, cluster int, kept boolean",
        )
    a = assigned.select(
        "cluster", F.col(id_col).alias("__ida"), F.col(vec_col).alias("__va")
    )
    b = assigned.select(
        "cluster", F.col(id_col).alias("__idb"), F.col(vec_col).alias("__vb")
    )
    dropped = (
        a.join(b, "cluster")
        .filter(F.col("__ida") < F.col("__idb"))
        .filter(F.round(cosine(F.col("__va"), F.col("__vb")), 6) >= threshold)
        .select(F.col("__idb").alias(id_col))
        .distinct()
    )
    return (
        assigned.join(
            dropped.withColumn("__dropped", F.lit(True)), id_col, "left"
        )
        .select(
            F.col(id_col),
            "cluster",
            F.coalesce(~F.col("__dropped"), F.lit(True)).alias("kept"),
        )
    )


class IvfIndex:
    """Build-once persistent IVF index: every vector's nearest-centroid
    id is computed once and stored in a SnapshotCatalog table PARTITIONED
    BY centroid, so a query reads exactly the nprobe probed partition
    directories — nprobe/n_centroids of the data, no scan, no per-row
    work outside the probed cells. The directories come from the
    snapshot manifest through ``SnapshotCatalog.read_partitions``, never
    from listing storage. Maps 1:1 to an Iceberg table partitioned by
    the centroid id on a real cluster."""

    def __init__(self, warehouse: str, table: str = "ivf_index"):
        self.catalog = SnapshotCatalog(warehouse)
        self.table = table
        self.centroids: list[list[float]] | None = None
        self.vec_col = "embedding"
        self.id_col = "vec_id"

    def build(
        self,
        df: DataFrame,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        n_centroids: int = 16,
        sample_n: int = 256,
        input_fingerprint: str = "",
    ) -> dict:
        self.vec_col, self.id_col = vec_col, id_col
        self.centroids = train_ivf_centroids(
            df, vec_col, id_col, n_centroids=n_centroids, sample_n=sample_n
        )
        indexed = df.select(
            F.col(id_col), F.col(vec_col),
            ivf_assign_expr(vec_col, self.centroids).alias("centroid"),
        )
        return self.catalog.write(
            indexed,
            self.table,
            input_fingerprint=input_fingerprint or f"ivf-{n_centroids}-{sample_n}",
            lineage={"stages": ["ivf_index_build"], "n_centroids": n_centroids,
                     "centroids": self.centroids,
                     "id_col": id_col, "vec_col": vec_col},
            partition_by="centroid",
            count_by="centroid",
        )

    def query(
        self,
        spark: SparkSession,
        query_vec: list[float],
        k: int = 10,
        nprobe: int = 4,
    ) -> DataFrame:
        lin = (self.catalog.manifest(self.table) or {}).get("lineage") or {}
        if self.centroids is None:
            if lin.get("centroids") is None:
                raise ValueError("IvfIndex not built (or centroids not loaded)")
            self.centroids = lin["centroids"]
        probe = probed_centroids(query_vec, self.centroids, nprobe)
        cand = self.catalog.read_partitions(spark, self.table, probe)
        return brute_force_topk(
            cand, query_vec, k, lin.get("vec_col", self.vec_col), lin.get("id_col", self.id_col)
        )


class AnnIndex:
    """Build-once persistent LSH-ANN index: signatures are computed ONCE
    and stored with the vectors in a SnapshotCatalog table PARTITIONED BY
    a signature prefix, so a query reads only the partition directories
    whose prefix could hold a candidate instead of scanning every row.

    Completeness: hamming(sig, qsig) ≤ h implies the prefix bits alone
    differ by ≤ h, so enumerating every prefix within hamming
    min(h, prefix_bits) of the query's prefix covers ALL candidates —
    the indexed query returns EXACTLY lsh_ann_topk's result while
    reading a strict subset of the buckets (pytest-asserted). At cluster
    scale the same layout maps to an Iceberg table partitioned by
    sig_prefix; the probe is a partition-pruned read of
    sum_{i<=h} C(prefix_bits, i) of the 2^prefix_bits directories, which
    ``SnapshotCatalog.read_partitions`` resolves from the snapshot
    manifest.
    """

    def __init__(
        self,
        warehouse: str,
        table: str = "ann_index",
        bits: int = 12,
        prefix_bits: int = 6,
        seed: int = 42,
    ):
        if not 0 < prefix_bits <= bits:
            raise ValueError("prefix_bits must be in (0, bits]")
        self.catalog = SnapshotCatalog(warehouse)
        self.table = table
        self.bits = bits
        self.prefix_bits = prefix_bits
        self.seed = seed
        self.dim: int | None = None
        self.vec_col = "embedding"
        self.id_col = "vec_id"

    def build(
        self,
        df: DataFrame,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        dim: int = 64,
        input_fingerprint: str = "",
    ) -> dict:
        """One pass over the vectors: signature + prefix, written
        partitioned by sig_prefix (per-bucket counts land in the
        manifest). Rebuilds are snapshot-versioned like any other table."""
        self.dim, self.vec_col, self.id_col = dim, vec_col, id_col
        planes = _hyperplanes(dim, self.bits, self.seed)
        mask = (1 << self.prefix_bits) - 1
        indexed = df.select(
            F.col(id_col),
            F.col(vec_col),
            signature_expr(vec_col, planes).alias("sig"),
        ).withColumn("sig_prefix", F.col("sig").bitwiseAND(F.lit(mask)))
        return self.catalog.write(
            indexed,
            self.table,
            input_fingerprint=input_fingerprint or f"ann-{self.bits}-{self.seed}",
            lineage={"stages": ["ann_index_build"], "bits": self.bits,
                     "prefix_bits": self.prefix_bits, "seed": self.seed,
                     "dim": dim, "id_col": id_col, "vec_col": vec_col},
            partition_by="sig_prefix",
            count_by="sig_prefix",
        )

    def probed_prefixes(self, qsig: int, probe_hamming: int) -> list[int]:
        """All prefix values within hamming ≤ min(probe, prefix_bits) of
        the query prefix — the only buckets a candidate can live in."""
        qprefix = qsig & ((1 << self.prefix_bits) - 1)
        flips = min(probe_hamming, self.prefix_bits)
        out = []
        for n in range(flips + 1):
            for pos in itertools.combinations(range(self.prefix_bits), n):
                p = qprefix
                for b in pos:
                    p ^= 1 << b
                out.append(p)
        return sorted(out)

    def query(
        self,
        spark: SparkSession,
        query_vec: list[float],
        k: int = 10,
        probe_hamming: int = 3,
    ) -> DataFrame:
        """Probe only the buckets that can contain a candidate, filter on
        full-signature hamming, exact-rerank. Identical results to
        lsh_ann_topk at the same (bits, probe, seed)."""
        if self.dim is None:
            self.dim = len(query_vec)
        planes = _hyperplanes(self.dim, self.bits, self.seed)
        qsig = query_signature(query_vec, planes)
        lin = (self.catalog.manifest(self.table) or {}).get("lineage") or {}
        probe = self.probed_prefixes(qsig, probe_hamming)
        cand = self.catalog.read_partitions(spark, self.table, probe).filter(
            F.bit_count(F.col("sig").bitwiseXOR(F.lit(qsig).cast("long"))) <= probe_hamming
        )
        return brute_force_topk(
            cand, query_vec, k, lin.get("vec_col", self.vec_col), lin.get("id_col", self.id_col)
        )
