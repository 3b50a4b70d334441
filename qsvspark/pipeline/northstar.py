r"""The north-star pipeline: parse → enrich → route → aggregate over an
Iceberg-style table of pre-tokenized training sequences, resumable from
snapshot manifests (BASELINE.json north_rule).

Stage design (all DataFrame-declarative; Catalyst/AQE pick physical plans):

  parse      grok/regex extraction of route fields (shard, seq) from the
             doc_id string column with native regexp_extract: whole-stage
             codegen, zero Python, so the token arrays never leave the JVM.
             The pattern uses only ASCII classes and \z, so the JVM regex
             engine matches exactly what a reference regex would; there is
             no need for a Python engine (see parse_stage).
  dedup      (optional, dedup="exact") drop duplicate token sequences,
             keep-first by doc_id: WindowGroupLimit emits one local
             candidate per 128-bit content key map-side before the
             shuffle; increments anti-join against the committed
             dedup_keys chain (16 bytes/row) so cross-increment dedup
             never re-reads committed token data.
  enrich     broadcast hash join against the small source dimension
             (explicit F.broadcast — never a shuffle, never skew-prone).
  quarantine (optional, quarantine=True) dead-letter routing: rows the
             pipeline cannot place (grok miss, unknown source, doc_id /
             source disagreement) are re-sunk to QUARANTINE_SINK with an
             error_reason column instead of silently landing in a null
             partition; aggregates exclude them via a partition-pruned
             filter on the sink column.
  route      single-pass fan-out to per-sink partitions via
             write.partitionBy(sink): every executor writes its slice of
             every sink; no per-sink job loop, no collect. The snapshot
             manifest records per-sink row counts (lineage + metrics).
  aggregate  per-sink groupBy(source, n_tok bucket) → seq count, uniq doc
             count, token sum. Partial aggregation collapses heavy-hitter
             keys map-side; an optional explicit salted two-level variant
             (salt = hash(doc_id) % S) is provided and property-tested to
             produce identical results — this is the skew pattern that
             matters when a groupBy key alone is too hot even for partial
             agg (e.g. high-cardinality agg states at 10^12 rows).

Resume: every stage of every entry point (run, run_increment,
redrive_quarantine, purge_docs) runs through NorthStarPipeline._stage,
which writes one SnapshotCatalog snapshot keyed on an input fingerprint;
a rerun finds the committed snapshot, takes its manifest and skips the
work without reading data (kill-and-restart tests in
tests/test_pipeline.py).
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from qsvspark.functions.text import _gram_fold
from qsvspark.io.snapshot import SnapshotCatalog
from qsvspark.pipeline.tokens import source_dim

# doc_id grok pattern: "<source>/part-<shard>/doc-<seq>". Only ASCII
# classes and \z, so Java's regex engine reads it exactly like RE2 and
# Python's re.ASCII: \d never matches a non-ASCII digit, and \z (unlike
# `$`) does not match before a trailing "\n".
DOC_ID_RE = r"^(src\d+)/part-(\d+)/doc-(\d+)\z"


def parse_stage(df: DataFrame) -> DataFrame:
    r"""Extract the route fields parsed_source (string), shard (int) and
    seq (long) from doc_id.

    Native regexp_extract is the only engine. It runs inside whole-stage
    codegen with no Python worker, so the token arrays stay in the JVM
    instead of crossing to Python and back. DOC_ID_RE uses only ASCII
    classes plus \z, so Java matches the same ids as RE2 or Python's
    re.ASCII would, and no second engine is needed to be exact.

    A doc_id that does not match, or whose shard or seq does not fit its
    type, gives null in all three fields: a malformed id, which
    quarantine_stage files as unparseable_doc_id. try_cast keeps an
    out-of-range number from failing the job under ANSI mode."""
    d = F.col("doc_id")
    shard = F.regexp_extract(d, DOC_ID_RE, 2).try_cast("int")
    seq = F.regexp_extract(d, DOC_ID_RE, 3).try_cast("long")
    fits = shard.isNotNull() & seq.isNotNull()
    return df.withColumns(
        {
            "parsed_source": F.when(fits, F.regexp_extract(d, DOC_ID_RE, 1)),
            "shard": F.when(fits, shard),
            "seq": F.when(fits, seq),
        }
    )


def enrich_stage(df: DataFrame, dim: DataFrame) -> DataFrame:
    """Broadcast-join the source dimension (sink / category / weight)."""
    return df.join(F.broadcast(dim), on="source", how="left")


def salted_join(
    big: DataFrame,
    dim: DataFrame,
    on: str | list[str],
    *,
    how: str = "inner",
    salt_buckets: int = 32,
    salt_from: list[str] | None = None,
) -> DataFrame:
    """Skew-resistant shuffle join for a dimension too large to broadcast.

    A plain sort-merge join on a heavy-hitter key sends every row of the
    hot key to ONE reducer — at 10^12 rows with 50% of traffic on one
    source, that reducer IS the job. Salting spreads it: the big side
    gets a deterministic salt in [0, salt_buckets), the dim side is
    exploded once per salt value, and the join runs on (key, salt) —
    the hot key now occupies `salt_buckets` reducers while the dim pays
    only `salt_buckets × |dim|` replication (tiny by precondition).
    Measured on this box: 3.2× over the plain SMJ at 16M rows with a
    50%-hot key (bench `skew` section).

    The salt must be DETERMINISTIC (derived by hashing `salt_from`
    columns, default: all big-side columns): a random salt in a shuffle
    key silently corrupts results when a stage retry recomputes the
    partition (the classic repartition(rand) hazard).

    Only inner/left/left_semi/left_anti joins are supported: under
    right/full joins a dim row with no match would surface once PER SALT
    REPLICA, duplicating output rows.
    """
    allowed = {"inner", "left", "leftouter", "left_outer", "left_semi",
               "leftsemi", "left_anti", "leftanti"}
    if how.lower() not in allowed:
        raise ValueError(
            f"salted_join supports {sorted(allowed)} (dim-side replicas would "
            f"duplicate unmatched rows under '{how}')"
        )
    on = [on] if isinstance(on, str) else list(on)
    src = salt_from if salt_from else [c for c in big.columns]
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in src]), F.lit(salt_buckets)).cast("int")
    b = big.withColumn("__salt", salt)
    d = dim.withColumn(
        "__salt",
        F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)).cast("array<int>")),
    )
    return b.join(d, on + ["__salt"], how).drop("__salt")


def enrich_stage_salted(
    df: DataFrame, dim: DataFrame, salt_buckets: int = 32
) -> DataFrame:
    """enrich_stage for a dimension that outgrew the broadcast threshold:
    same left-join semantics, hot sources spread over salt_buckets
    reducers. The pipeline default stays broadcast (the source dim is
    small by construction); this is the documented fallback when the
    enrichment table itself reaches cluster scale."""
    return salted_join(
        df, dim, "source", how="left", salt_buckets=salt_buckets,
        salt_from=["doc_id"],
    )


QUARANTINE_SINK = "sink_quarantine"


def quarantine_stage(df: DataFrame) -> DataFrame:
    """Dead-letter routing (Logstash DLQ / Kafka Connect
    errors.deadletterqueue semantics): classify rows the pipeline cannot
    place and re-sink them to QUARANTINE_SINK with a machine-readable
    reason, instead of dropping them or letting them land in a null
    partition directory.

    Reasons, first match wins:
      unparseable_doc_id — parse_stage gave no fields (no grok match,
                           or a shard/seq out of range)
      source_mismatch    — doc_id parsed but embeds a different source
                           than the row's source column (corrupt join key)
      unknown_source     — the enrich dimension has no row for source

    One codegen'd WHEN chain over columns that already exist at this
    point in the plan: no shuffle, no Python, and rows that are clean
    keep their enriched sink untouched. Because sink is the routed
    table's partition column, the quarantined rows land in their own
    partition directory and every downstream aggregate prunes them with
    a metadata-only filter."""
    reason = (
        F.when(F.col("parsed_source").isNull(), F.lit("unparseable_doc_id"))
        .when(F.col("parsed_source") != F.col("source"), F.lit("source_mismatch"))
        .when(F.col("sink").isNull(), F.lit("unknown_source"))
    )
    return df.withColumn("error_reason", reason).withColumn(
        "sink",
        F.when(reason.isNotNull(), F.lit(QUARANTINE_SINK)).otherwise(F.col("sink")),
    )


def token_ngram_hashes(tokens: F.Column | str, n: int) -> F.Column:
    """A 64-bit hash of every length-n token window, as array<long> —
    the membership unit for token-level decontamination. Pure codegen
    and ELEMENT-WISE (functions/text.py:_gram_fold): position i's value
    is the xxhash64 chain H(..H(H(t_i), t_{i+1}).., t_{i+n-1}). Equal
    windows hash equal; distinct windows collide at the usual 2^-64
    bound. No Python, no explode (callers choose whether to explode or
    probe in place)."""
    c = F.col(tokens) if isinstance(tokens, str) else tokens
    return _gram_fold(
        c, n, F.transform(c, lambda x: F.xxhash64(x)),
        lambda a, x: F.xxhash64(a, x), "array<long>",
    )


def decontaminate_stage(
    df: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    max_broadcast_bytes: int | None = None,
) -> DataFrame:
    """Drop token sequences that share any exact token n-gram with a
    held-out benchmark set — the token-level analogue of
    functions/text.py:contamination, for the pipeline's pre-tokenized
    rows (GPT-3 appendix-C style decontamination, n=8 tokens here vs
    13 words there).

    Scale shape: eval benchmarks are fixed-size while the corpus grows,
    so the benchmark's distinct gram-hash set is the BROADCAST side of
    a semi-join against the corpus's exploded gram hashes — the hash
    relation is built once per task and probed per gram (a first cut
    used one collect_set row + per-row ``arrays_overlap``, which
    rebuilds the bench set for EVERY corpus row: O(rows x bench),
    measured 50x slower at 500k bench grams). Matched ids then
    anti-join back on ``id_col``; AQE sizes that join at runtime — the
    matched set is contamination-sized (tiny in any realistic corpus),
    so it resolves to a broadcast anti-join and corpus rows never
    shuffle. No driver collect anywhere.

    The broadcast hint is SIZE-GUARDED: Spark honors an explicit hint
    regardless of size, so an unconditional F.broadcast on an oversized
    benchmark would hit the 8 GB broadcast hard cap / driver OOM. A
    cheap count over the (small-side) gram set estimates the in-memory
    relation (8-byte hashes + per-row overhead); past
    ``max_broadcast_bytes`` (default
    functions/text.py:BENCH_BROADCAST_MAX_BYTES) the hint is dropped
    and the semi-join runs shuffled — slower, never fatal.
    """
    from qsvspark.functions.text import BENCH_BROADCAST_MAX_BYTES, broadcast_if_small

    bench_grams = (
        benchmark.select(F.explode(token_ngram_hashes(tokens_col, n)).alias("__g"))
        .distinct()
    )
    bench_side = broadcast_if_small(
        bench_grams,
        8,  # fixed-width long hashes
        BENCH_BROADCAST_MAX_BYTES if max_broadcast_bytes is None else max_broadcast_bytes,
    )
    matched = (
        df.select(id_col, F.explode(token_ngram_hashes(tokens_col, n)).alias("__g"))
        .join(bench_side, "__g", "left_semi")
        .select(id_col)
        .distinct()
    )
    return df.join(matched, id_col, "left_anti")


def dedup_key(df: DataFrame) -> DataFrame:
    """Append the exact-dedup content key: two INDEPENDENT xxhash64 lanes
    over (n_tok, tokens). 16 bytes stand in for the whole token array as
    the grouping identity; a false merge needs a simultaneous collision in
    both lanes (~2^-128 per pair — at 10^12 rows the expected number of
    collisions is ~1e-15, documented rather than paid for with full-array
    comparisons on every shuffle)."""
    return df.withColumn("__h1", F.xxhash64("n_tok", "tokens")).withColumn(
        "__h2", F.xxhash64(F.lit(0x9E3779B9), "tokens", "n_tok")
    )


def dedup_stage(
    df: DataFrame, against: DataFrame | list[DataFrame] | None = None
) -> DataFrame:
    """Drop exact-duplicate token sequences, keeping the lowest doc_id
    (deterministic keep-first — rerun-stable regardless of partitioning).

    Executes as row_number() over (partition by key order by doc_id)
    filtered to 1: Spark's WindowGroupLimit rule (physical plan shows a
    `WindowGroupLimit` node below the shuffle) makes every map task emit
    only its LOCAL keep-first candidate per key before shuffling — the
    map-side-combine analogue for dedup, so a corpus that is 50%
    duplicates shuffles at most one row per (key × map task), not every
    row. This is the same LLM-training-corpus operation as
    functions/dedup.py:dedup_exact, applied to pre-tokenized sequences
    inside the pipeline instead of documents.

    against: an optional (__h1, __h2) key set of ALREADY-COMMITTED content
    (the dedup_keys snapshot chain) — rows whose key appears there are
    dropped via left_anti join, giving cross-increment dedup without ever
    re-reading committed token data. A LIST of frames anti-joins each
    element in sequence — semantically identical to anti-joining their
    union, but when the elements are bucketed snapshot scans each join
    keeps the committed side shuffle-free (a union would discard the
    scans' reported hash partitioning), so only the increment's own keys
    ever cross an Exchange."""
    from pyspark.sql import Window

    w = Window.partitionBy("__h1", "__h2").orderBy("doc_id")
    out = (
        dedup_key(df)
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    if against is not None:
        parts = against if isinstance(against, (list, tuple)) else [against]
        for part in parts:
            out = out.join(part, ["__h1", "__h2"], "left_anti")
    return out.drop("__h1", "__h2")


def bucket_expr(n_tok: F.Column | str, width: int = 64) -> F.Column:
    c = F.col(n_tok) if isinstance(n_tok, str) else n_tok
    return ((c / width).cast("int") * width).alias("n_tok_bucket")


def aggregate_stage(df: DataFrame, bucket_width: int = 64) -> DataFrame:
    """Per-sink aggregate: groupBy(sink, source, n_tok_bucket) →
    seq_count / uniq_docs / tok_sum. The count/uniq semantics mirror the
    reference's count (count.rs:19-25) and uniq (uniq.rs:5) quilters
    applied per routed sink."""
    return (
        df.withColumn("n_tok_bucket", bucket_expr("n_tok", bucket_width))
        .groupBy("sink", "source", "n_tok_bucket")
        .agg(
            F.count(F.lit(1)).alias("seq_count"),
            F.count_distinct("doc_id").alias("uniq_docs"),
            F.sum("n_tok").alias("tok_sum"),
        )
    )


def aggregate_stage_salted(
    df: DataFrame, bucket_width: int = 64, salt_buckets: int = 32
) -> DataFrame:
    """Two-level salted variant for heavy-hitter group keys.

    Salt is a pure function of doc_id, so each doc_id lands in exactly one
    salt bucket → per-salt COUNT DISTINCT(doc_id) sums to the exact global
    distinct count (no approximation). Level 1 spreads a hot
    (sink, source, bucket) key over `salt_buckets` reducers; level 2
    combines the (tiny) partials. Equality with aggregate_stage is
    property-tested.
    """
    salted = df.withColumn("n_tok_bucket", bucket_expr("n_tok", bucket_width)).withColumn(
        "__salt", F.pmod(F.xxhash64("doc_id"), F.lit(salt_buckets))
    )
    partial = salted.groupBy("sink", "source", "n_tok_bucket", "__salt").agg(
        F.count(F.lit(1)).alias("c"),
        F.count_distinct("doc_id").alias("u"),
        F.sum("n_tok").alias("s"),
    )
    return partial.groupBy("sink", "source", "n_tok_bucket").agg(
        F.sum("c").alias("seq_count"),
        F.sum("u").alias("uniq_docs"),
        F.sum("s").alias("tok_sum"),
    )


# Route write tasks per core. partitionBy(sink) emits (tasks × sinks)
# files, so the write is sized to the cluster, not to the input split
# count: 100k input splits each writing 4 sink files is the small-files
# anti-pattern (tiny row groups, 400k-file commits, per-task overhead).
# coalesce is narrow (no shuffle) and only ever REDUCES the task count.
ROUTE_TASKS_PER_CORE = 4

_AGG_SUMS = ("seq_count", "uniq_docs", "tok_sum")


class NorthStarPipeline:
    """Resumable parse → enrich → route → aggregate over a tokens table."""

    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        bucket_width: int = 64,
        num_sources: int = 20,
        num_sinks: int = 4,
        salted: bool = False,
        salt_buckets: int = 32,
        route_cluster_by: list[str] | None = None,
        dedup: str | None = None,
        dedup_keys_buckets: int = 0,
        quarantine: bool = False,
    ):
        self.spark = spark
        self.catalog = SnapshotCatalog(warehouse)
        self.bucket_width = bucket_width
        self.num_sources = num_sources
        self.num_sinks = num_sinks
        self.salted = salted
        self.salt_buckets = salt_buckets
        # sort-order layout for the routed sink (e.g. ["source", "n_tok"]):
        # narrow per-task sort so downstream source/n_tok filters prune
        # parquet row groups via min/max stats instead of scanning
        self.route_cluster_by = route_cluster_by
        # dedup="exact": drop duplicate token sequences (keep-first by
        # doc_id) before routing; across increments, previously-committed
        # content keys live in the dedup_keys snapshot chain
        if dedup not in (None, "exact"):
            raise ValueError(f"unknown dedup mode '{dedup}'")
        self.dedup = dedup
        # quarantine=True: dead-letter rows that fail parse/enrich to
        # QUARANTINE_SINK (with error_reason) instead of dropping them;
        # aggregates exclude the quarantine partition
        self.quarantine = quarantine
        # dedup_keys_buckets > 0: store the committed content-key chain
        # hash-bucketed on (__h1, __h2). The chain is the one table that
        # every future increment joins and that only ever grows (~16 TB at
        # 10^12 rows); bucketed at rest it is NEVER reshuffled — each
        # increment's anti-join shuffles only the delta keys. Sized like
        # shuffle partitions: buckets ≈ chain_bytes / 256 MB at target
        # scale; any positive value shows the plan shape locally.
        self.dedup_keys_buckets = dedup_keys_buckets

    def _config_fp(self, input_fingerprint: str, stage: str) -> str:
        # "parse=native" names the one doc_id parser; it stays in the
        # string so snapshots committed with it keep resuming
        return (
            f"{input_fingerprint}|{stage}|parse=native"
            f"|bw={self.bucket_width}|k={self.num_sources}|s={self.num_sinks}"
            f"|dedup={self.dedup or 'off'}"
            + ("|dlq=1" if self.quarantine else "")
        )

    # -- checkpointed stages ------------------------------------------

    @contextmanager
    def _metrics(self, rate_rows: str | None = None, **extra):
        """The metrics dict of one entry point. _stage fills ``stages``
        (seconds per built stage) and ``resumed``; on exit the dict gains
        total_seconds and, given ``rate_rows``, sequences_per_sec of the
        row count under that key."""
        metrics: dict = {"stages": {}, "resumed": [], **extra}
        t_start = time.time()
        yield metrics
        total = time.time() - t_start
        metrics["total_seconds"] = round(total, 3)
        if rate_rows:
            metrics["sequences_per_sec"] = round(metrics[rate_rows] / total, 1) if total else None

    def _stage(self, metrics: dict, name: str, table: str, fp: str, build) -> dict | None:
        """One checkpointed stage (BASELINE.json north_rule). If ``table``
        holds a committed snapshot with input fingerprint ``fp``, the stage
        is resumed: ``name`` joins metrics["resumed"] and that snapshot's
        manifest is returned, with no data read. Otherwise ``build()``
        commits the snapshot and returns its manifest, timed into
        metrics["stages"][name]; a build that returns None had nothing to
        commit and records no time."""
        snap = self.catalog.find_committed(table, fp)
        if snap:
            metrics["resumed"].append(name)
            return self.catalog.manifest(table, snap)
        t0 = time.time()
        manifest = build()
        if manifest is not None:
            metrics["stages"][name] = round(time.time() - t0, 3)
        return manifest

    def _clean(self, df: DataFrame) -> DataFrame:
        """Drop the quarantine partition when quarantine is on. sink is
        the routed partition column, so the filter is resolved from
        directory names and the quarantine files are never read."""
        if self.quarantine:
            return df.where(F.col("sink") != QUARANTINE_SINK)
        return df

    def _route(
        self, parsed: DataFrame, fp: str, lineage: dict, dim: DataFrame | None = None, **write
    ) -> dict:
        """enrich (against ``dim``, default the configured source_dim) →
        (quarantine) → route: commit ``parsed`` to the routed table as one
        partitionBy(sink) write with per-sink counts. The lineage records
        the pipeline's stages unless ``lineage`` names its own; ``write``
        passes parent / replace_partitions to the catalog. parse+enrich
        are narrow (no shuffle), so they fuse into this write instead of
        costing a snapshot of their own."""
        if dim is None:
            dim = source_dim(self.spark, self.num_sources, self.num_sinks)
        enriched = enrich_stage(parsed, dim)
        if self.quarantine:
            enriched = quarantine_stage(enriched)
        target = ROUTE_TASKS_PER_CORE * self.spark.sparkContext.defaultParallelism
        stages = ["parse", "dedup"] if self.dedup else ["parse"]
        return self.catalog.write(
            enriched.coalesce(max(target, 1)),
            "routed",
            input_fingerprint=fp,
            lineage={"stages": stages + ["enrich", "route"], **lineage},
            partition_by="sink",
            count_by="sink",
            cluster_by=self.route_cluster_by,
            **write,
        )

    def _after_route(self, metrics: dict, manifest: dict, fp: str) -> None:
        """Commit the dedup keys of a routed delta (also on resume: a
        crash may fall between the two commits) and report its
        quarantined row count."""
        if self.dedup:
            self._commit_dedup_keys(manifest["snapshot"], fp)
        if self.quarantine:
            metrics["quarantined"] = manifest["partition_counts"].get(QUARANTINE_SINK, 0)

    def _delta(self, snap: str) -> DataFrame:
        """The rows one routed snapshot added (its own delta, no parents)."""
        return self.catalog.read(self.spark, "routed", snap, follow_parents=False)

    def _write_aggregates(self, aggs: DataFrame, fp: str, lineage: dict) -> dict:
        return self.catalog.write(aggs, "aggregates", input_fingerprint=fp,
                                  lineage={"stages": ["aggregate"], **lineage}, count_by="sink")

    def _merge_aggregates(
        self, delta: DataFrame, fp: str, lineage: dict, sign: int = 1
    ) -> dict:
        """Commit the current aggregates plus (sign=1) or minus (sign=-1)
        the aggregate of ``delta``'s clean rows, keeping the groups whose
        seq_count stays positive. Scans only the delta and the aggregate
        table (one row per sink × source × bucket)."""
        aggs = aggregate_stage(self._clean(delta), self.bucket_width)
        prev = self.catalog.current_snapshot("aggregates")
        if prev is not None:
            signed = [(sign * F.col(c)).alias(c) for c in _AGG_SUMS]
            aggs = (
                self.catalog.read(self.spark, "aggregates", prev)
                .unionByName(aggs.select("sink", "source", "n_tok_bucket", *signed))
                .groupBy("sink", "source", "n_tok_bucket")
                .agg(*[F.sum(c).alias(c) for c in _AGG_SUMS])
            )
        return self._write_aggregates(aggs.where(F.col("seq_count") > 0), fp, lineage)

    def _commit_dedup_keys(self, routed_snap: str, route_fp: str) -> None:
        """Append the content keys of ONE committed routed delta to the
        dedup_keys chain. 16 bytes/row — at 10^12 rows the key chain is
        ~100× smaller than the token data it indexes, and increments
        anti-join against it instead of rescanning committed tokens.
        Idempotent (fingerprinted), so a crash between the route commit
        and this commit resumes cleanly."""
        keys_fp = f"{route_fp}|dedup-keys"
        if self.catalog.find_committed("dedup_keys", keys_fp):
            return
        keys = dedup_key(self._delta(routed_snap).select("n_tok", "tokens")).select("__h1", "__h2")
        bucketed = self.dedup_keys_buckets > 0
        head = self.catalog.manifest("dedup_keys")
        if head is not None:
            # a chain must keep ONE bucket spec end-to-end (the write layer
            # enforces it); an existing chain's layout wins over the config
            # so toggling the knob mid-warehouse never strands a resume
            bucketed = bool(head.get("bucket_by"))
            if bucketed:
                self.dedup_keys_buckets = head["n_buckets"]
        self.catalog.write(
            keys,
            "dedup_keys",
            input_fingerprint=keys_fp,
            lineage={"stages": ["dedup-keys"], "inputs": [route_fp]},
            parent=self.catalog.current_snapshot("dedup_keys"),
            bucket_by=["__h1", "__h2"] if bucketed else None,
            n_buckets=self.dedup_keys_buckets if bucketed else 0,
        )

    # -- entry points -------------------------------------------------

    def run(self, tokens: DataFrame, input_fingerprint: str) -> dict:
        """Execute all stages; returns metrics incl. per-stage timings,
        skipped (resumed) stages, and rows/sec throughput. The routed
        table is the first checkpoint; aggregate is the second."""
        with self._metrics("rows") as metrics:
            routed_fp = self._config_fp(input_fingerprint, "route")

            def route() -> dict:
                parsed = parse_stage(tokens)
                obs = None
                if self.dedup:
                    # pre-dedup row count rides the SAME write action via
                    # Observation — no extra job to account for drops
                    obs = Observation()
                    parsed = parsed.observe(obs, F.count(F.lit(1)).alias("rows"))
                    parsed = dedup_stage(parsed)
                manifest = self._route(parsed, routed_fp, {"inputs": [input_fingerprint]})
                if obs is not None:
                    metrics["input_rows"] = int(obs.get["rows"])
                    metrics["duplicates_dropped"] = metrics["input_rows"] - manifest["row_count"]
                return manifest

            routed = self._stage(metrics, "route", "routed", routed_fp, route)
            metrics["per_sink_counts"] = routed["partition_counts"]
            metrics["rows"] = routed["row_count"]
            self._after_route(metrics, routed, routed_fp)

            # salt config in the fingerprint: toggling --salted (or the
            # bucket count) must NOT resume from the other mode's snapshot
            agg_fp = self._config_fp(
                input_fingerprint,
                f"aggregate|salted={self.salted}|sb={self.salt_buckets if self.salted else 0}",
            )

            def aggregate() -> dict:
                src = self._clean(self.catalog.read(self.spark, "routed", routed["snapshot"]))
                if self.salted:
                    aggs = aggregate_stage_salted(src, self.bucket_width, self.salt_buckets)
                else:
                    aggs = aggregate_stage(src, self.bucket_width)
                return self._write_aggregates(aggs, agg_fp, {"inputs": [routed_fp]})

            self._stage(metrics, "aggregate", "aggregates", agg_fp, aggregate)
            return metrics

    # -- incremental runs ---------------------------------------------

    def run_increment(
        self,
        tokens: DataFrame,
        increment_fingerprint: str,
        distinct_mode: str = "merge",
    ) -> dict:
        """Process ONE increment of newly-arrived tokens: parse → enrich →
        route the delta and APPEND it to the routed sinks (snapshot chain),
        then maintain the aggregates incrementally.

        This is the steady-state operating mode at 10^12-sequence scale:
        a daily increment routes only its own rows — the committed bulk is
        never re-read — while reads of the routed table resolve the whole
        chain as one multi-path scan.

        distinct_mode:
          - "merge" (default): aggregate the delta only, then re-sum with
            the previous aggregates (the aggregate table is tiny — one row
            per sink × source × bucket). seq_count/tok_sum are exactly
            additive; uniq_docs is exact UNDER THE APPEND-ONLY CONTRACT
            that a doc_id never appears in two increments (the normal
            training-ingest invariant). If increments can re-ship doc_ids,
            use "recompute".
          - "recompute": aggregate over the full routed chain — always
            exact, costs a full scan of the routed columns involved.

        Resumable like run(): each increment's route/aggregate snapshots
        are fingerprinted; re-running a committed increment skips it.
        """
        if distinct_mode not in ("merge", "recompute"):
            raise ValueError(f"unknown distinct_mode '{distinct_mode}'")
        with self._metrics("delta_rows", increment=increment_fingerprint) as metrics:
            inc_fp = self._config_fp(increment_fingerprint, "route-increment")

            def route() -> dict:
                parsed = parse_stage(tokens)
                if self.dedup:
                    # within-increment keep-first, then drop anything whose
                    # content key is already in the committed key chain —
                    # cross-increment dedup as one anti-join on 16-byte keys
                    # (per-snapshot frames, not a union: bucketed chain
                    # elements keep their reported hash partitioning so
                    # each anti-join leaves the committed side in place)
                    keys_snap = self.catalog.current_snapshot("dedup_keys")
                    prev_keys = (
                        None if keys_snap is None
                        else self.catalog.read_parts(self.spark, "dedup_keys", keys_snap)
                    )
                    parsed = dedup_stage(parsed, against=prev_keys)
                return self._route(
                    parsed, inc_fp,
                    {"inputs": [increment_fingerprint], "op": "append-increment"},
                    parent=self.catalog.current_snapshot("routed"),
                )

            delta = self._stage(metrics, "route", "routed", inc_fp, route)
            metrics["delta_rows"] = delta["row_count"]
            metrics["delta_per_sink_counts"] = delta["partition_counts"]
            metrics["rows"] = delta["cumulative_row_count"]
            metrics["per_sink_counts"] = delta["cumulative_partition_counts"]
            self._after_route(metrics, delta, inc_fp)

            agg_fp = self._config_fp(
                increment_fingerprint, f"aggregate-increment|mode={distinct_mode}"
            )

            def aggregate() -> dict:
                lineage = {"inputs": [inc_fp], "op": f"aggregate-increment-{distinct_mode}"}
                if distinct_mode == "recompute":
                    aggs = aggregate_stage(self._clean(self.routed()), self.bucket_width)
                    return self._write_aggregates(aggs, agg_fp, lineage)
                return self._merge_aggregates(self._delta(delta["snapshot"]), agg_fp, lineage)

            self._stage(metrics, "aggregate", "aggregates", agg_fp, aggregate)
            return metrics

    def redrive_quarantine(
        self,
        redrive_fingerprint: str,
        dim: DataFrame | None = None,
    ) -> dict:
        """Re-process the quarantine partition after the cause is fixed
        (e.g. the enrich dimension gained the missing sources): rows that
        now parse and enrich cleanly move to their real sinks; rows that
        are still bad stay quarantined. One atomic commit via the
        catalog's dynamic partition overwrite — the delta holds BOTH the
        redriven rows (real sink partitions, appended) and the still-bad
        rows (the quarantine partition's replacement contents), ancestor
        quarantine files are masked, and no committed clean data is
        rewritten. Aggregates then merge in the newly-clean rows exactly
        like an increment delta (their doc_ids were never aggregated, so
        merge-mode uniq_docs stays exact).

        dim: optionally a corrected enrichment dimension; defaults to the
        pipeline's configured source_dim. Resumable and idempotent like
        every stage (fingerprinted on redrive_fingerprint).
        """
        if not self.quarantine:
            raise ValueError("redrive_quarantine requires quarantine=True")
        with self._metrics() as metrics:
            route_fp = self._config_fp(redrive_fingerprint, "redrive")
            cur = self.catalog.manifest("routed") or {}
            counts = cur.get("cumulative_partition_counts") or {}

            def redrive() -> dict | None:
                if not counts.get(QUARANTINE_SINK, 0):
                    return None  # nothing quarantined: no commit to make
                parent = self.catalog.current_snapshot("routed")
                raw = (
                    self.catalog.read(self.spark, "routed", parent)
                    .where(F.col("sink") == QUARANTINE_SINK)
                    .select("doc_id", "tokens", "n_tok", "source")
                )
                return self._route(
                    parse_stage(raw),
                    route_fp,
                    # these rows passed any dedup when they were first routed
                    {"stages": ["parse", "enrich", "route"], "inputs": [redrive_fingerprint],
                     "op": "redrive-quarantine"},
                    dim=dim,
                    parent=parent,
                    replace_partitions=[QUARANTINE_SINK],
                )

            manifest = self._stage(metrics, "redrive", "routed", route_fp, redrive)
            if manifest is None:
                metrics.update(redriven=0, still_quarantined=0, per_sink_counts=counts,
                               rows=cur.get("cumulative_row_count", 0))
                return metrics
            delta = dict(manifest["partition_counts"] or {})
            still_bad = delta.pop(QUARANTINE_SINK, 0)
            metrics["redriven"] = sum(delta.values())
            metrics["still_quarantined"] = still_bad
            metrics["per_sink_counts"] = manifest["cumulative_partition_counts"]
            metrics["rows"] = manifest["cumulative_row_count"]

            # merge the newly-clean rows into the aggregates (delta-only scan)
            agg_fp = self._config_fp(redrive_fingerprint, "aggregate-redrive")

            def aggregate() -> dict | None:
                if not metrics["redriven"]:
                    return None
                return self._merge_aggregates(
                    self._delta(manifest["snapshot"]), agg_fp,
                    {"inputs": [route_fp], "op": "aggregate-redrive"},
                )

            self._stage(metrics, "aggregate", "aggregates", agg_fp, aggregate)
            return metrics

    def purge_docs(self, doc_ids: DataFrame, purge_fingerprint: str) -> dict:
        """Takedown / contamination removal: delete every routed row whose
        doc_id is in ``doc_ids`` and subtract exactly those rows from the
        aggregates — WITHOUT rewriting any data file. The routed delete is
        one equality-delete commit (merge-on-read; compaction applies it
        physically later); the aggregate fix-up is a merge of the doomed
        rows' own aggregate, computed from the PRE-DELETE snapshot so a
        crash between the two commits resumes exactly.

        uniq_docs stays exact because an equality delete removes ALL rows
        of a doc_id (count_distinct decrements match count decrements of
        the doomed aggregate). Deleted content's dedup keys stay in the
        dedup_keys chain, so re-shipped copies of taken-down content are
        still dropped — the takedown semantics a training corpus wants.
        """
        with self._metrics() as metrics:
            keys = doc_ids.select("doc_id").distinct()
            del_fp = self._config_fp(purge_fingerprint, "purge")
            manifest = self._stage(
                metrics, "delete", "routed", del_fp,
                lambda: self.catalog.delete_rows(
                    self.spark, "routed", keys, on=["doc_id"], input_fingerprint=del_fp,
                    lineage={"inputs": [purge_fingerprint]},
                ),
            )
            metrics["deleted"] = manifest["deleted_row_count"]
            metrics["per_sink_counts"] = manifest["cumulative_partition_counts"]
            metrics["rows"] = manifest["cumulative_row_count"]

            agg_fp = self._config_fp(purge_fingerprint, "aggregate-purge")

            def aggregate() -> dict | None:
                if not metrics["deleted"]:
                    return None
                # the doomed rows come from the delete's PARENT snapshot:
                # correct even when resuming after the delete already
                # committed (the current chain no longer shows those rows)
                doomed = self.catalog.read(self.spark, "routed", manifest["parent"])
                doomed = doomed.join(F.broadcast(keys), "doc_id", "left_semi")
                return self._merge_aggregates(
                    doomed, agg_fp, {"inputs": [del_fp], "op": "aggregate-purge"}, sign=-1
                )

            self._stage(metrics, "aggregate", "aggregates", agg_fp, aggregate)
            return metrics

    # -- maintenance --------------------------------------------------

    def compact_sinks(
        self,
        target_file_bytes: int = 128 * 1024 * 1024,
        cluster_by: list[str] | None = None,
    ) -> dict | None:
        """Bin-pack the routed sink's small files (Iceberg
        rewrite_data_files); see SnapshotCatalog.compact. Run this after
        N pipeline increments have fragmented the sinks — resume
        fingerprints carry over, so later runs read the compacted copy."""
        return self.catalog.compact(
            self.spark,
            "routed",
            target_file_bytes=target_file_bytes,
            cluster_by=cluster_by if cluster_by is not None else self.route_cluster_by,
        )

    def pack_sinks(
        self,
        seq_len: int = 2048,
        oversized: str = "own",
        materialize: bool = False,
        pad_id: int | None = 0,
    ) -> dict | None:
        """Lay the routed table out as fixed-length training sequences —
        the step that turns routed pre-tokenized documents into the
        corpus's sequence table (the north-star deliverable). Greedy
        no-split packing, partition-local (functions/packing) with
        ``group_cols=["sink"]``: a sequence never spans two sinks,
        quarantined rows are excluded, and packing parallelizes without
        any shuffle because cross-shard sequence order is irrelevant for
        training layout.

        ``oversized``: policy for docs longer than seq_len — "own"
        (flagged solo sequence), "split" (boundary-cut chunks, zero
        waste), "truncate" (see pack_greedy).

        Each call writes ONE table, partitioned by sink, fingerprinted
        on the routed lineage + seq_len + policy (+ pad_id), so a rerun
        after more increments re-packs only because the routed
        fingerprint chain changed; a crash before commit leaves no
        partial state (snapshot commits are atomic-by-rename):

          * ``materialize=False`` writes the ``packed`` layout table
            (doc_id, n_tok, sink, seq_id, seq_fill, oversized,
            part_start, part_len) — one row per document part, no token
            read.
          * ``materialize=True`` writes the ``sequences`` table — one row
            per sequence with the PHYSICAL token array (seq_id, sink,
            tokens, n_docs, n_tokens, pad, parts), every doc's tokens in
            seq_fill order, right-padded with ``pad_id`` to exactly
            seq_len (pad_id=None skips padding). This is the table a
            training loader consumes; ``parts`` (doc_id, n_tok,
            seq_fill, oversized, part_start, part_len per document) is
            the packing's layout — the document boundaries for
            document-masked attention — and ``sequence_layout`` reads it
            back as ``packed``'s rows without touching a token. ONE
            partition-local pass in ONE Spark job: each task runs the
            greedy packer (``greedy_sequence_packer`` — no token
            shuffle, no join) and writes its sequences itself
            (``SnapshotCatalog.write_tasks``), so the token arrays never
            return to the JVM. A ``packed`` snapshot an earlier
            ``materialize=False`` call committed is left as it is.

        Resume is one rule per mode: when the table the mode writes is
        already committed under its fingerprint, the call returns None
        without reading the routed data. Otherwise it returns the
        manifest of the table it wrote."""
        from qsvspark.functions.packing import greedy_sequence_packer, pack_greedy

        snap = self.catalog.current_snapshot("routed")
        if snap is None:
            raise ValueError("pack_sinks needs a committed routed table")
        man = self.catalog.manifest("routed", snap) or {}
        routed_fp = man.get("input_fingerprint") or snap
        policy_tag = "" if oversized == "own" else f"|ov={oversized}"
        pack_fp = f"{routed_fp}|pack|seq_len={seq_len}{policy_tag}"
        seq_fp = f"{pack_fp}|sequences|pad={pad_id}"
        table, fp = ("sequences", seq_fp) if materialize else ("packed", pack_fp)
        if self.catalog.find_committed(table, fp):
            return None
        docs = self._clean(self.routed())
        if not materialize:
            packed = pack_greedy(
                docs, "n_tok", "doc_id", seq_len, group_cols=["sink"], oversized=oversized,
            )
            return self.catalog.write(
                packed, "packed", input_fingerprint=pack_fp,
                lineage={"stages": ["pack"], "inputs": [routed_fp]},
                partition_by="sink", count_by="sink",
            )
        packer = greedy_sequence_packer(
            docs, "n_tok", "doc_id", seq_len, group_cols=["sink"],
            oversized=oversized, pad_id=pad_id,
        )
        return self.catalog.write_tasks(
            packer.src, packer.batches, packer.sequence_schema, "sequences",
            partition_by="sink", input_fingerprint=seq_fp,
            lineage={"stages": ["pack", "materialize"], "inputs": [routed_fp]},
            count_by="sink",
        )

    # -- results ------------------------------------------------------

    def routed(self) -> DataFrame:
        return self.catalog.read(self.spark, "routed")

    def aggregates(self) -> DataFrame:
        return self.catalog.read(self.spark, "aggregates")
