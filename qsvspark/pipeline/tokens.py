"""Deterministic synthetic pre-tokenized sequence table
(doc_id:string, tokens:array<int32>, n_tok:int32, source:string) — the
north-rule input shape (BASELINE.json input_hint).

Every column is a pure function of the row id through xxhash64, so the
same (n, seed) produces byte-identical rows at ANY parallelism level and
ANY partition count — the property the scaling benchmark (local[8] vs
local[32]) and the resume tests both rely on. No Python executes per row;
``spark.range`` + codegen expressions generate the data executor-side.

``source`` is Zipf-skewed (s≈1.2 over K sources): src0 carries ~20× the
weight of src19 — the heavy-hitter skew the route/aggregate stages must
survive (north_rule "salted repartitioning and AQE skew-join hints").
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

VOCAB = 50_257  # GPT-2-ish vocab size for token ids
MIN_TOK = 16
MAX_TOK = 512


def _zipf_thresholds(k: int, s: float) -> list[float]:
    w = [1.0 / (i + 1) ** s for i in range(k)]
    tot = sum(w)
    acc, out = 0.0, []
    for x in w:
        acc += x / tot
        out.append(acc)
    return out


def _source_expr(u: Column, k: int, s: float) -> Column:
    """Map uniform u∈[0,1) to a Zipf-weighted source id via CDF thresholds
    (a chain of WHENs — constant-folded, codegen'd)."""
    th = _zipf_thresholds(k, s)
    expr = F.lit(f"src{k - 1:02d}")
    # build from the last threshold backwards: when u < th[i] → src_i
    for i in range(k - 2, -1, -1):
        expr = F.when(u < th[i], F.lit(f"src{i:02d}")).otherwise(expr)
    return expr


def synth_tokens(
    spark: SparkSession,
    n: int,
    seed: int = 42,
    num_sources: int = 20,
    zipf_s: float = 1.2,
    num_partitions: int | None = None,
    id_offset: int = 0,
) -> DataFrame:
    """n rows of (doc_id, tokens, n_tok, source), deterministic in
    (n, seed, id_offset). id_offset shifts the underlying row-id range so
    separately-generated batches have DISJOINT doc_ids — the append-only
    increment contract (a doc_id never spans two increments)."""
    df = spark.range(id_offset, id_offset + n, numPartitions=num_partitions)
    rid = F.col("id")
    u = (F.pmod(F.xxhash64(rid, F.lit(seed)), F.lit(1_000_000)) / 1_000_000.0)
    source = _source_expr(u, num_sources, zipf_s)
    n_tok = (
        F.lit(MIN_TOK)
        + F.pmod(F.xxhash64(rid, F.lit(seed + 1)), F.lit(MAX_TOK - MIN_TOK + 1))
    ).cast("int")
    shard = F.pmod(F.xxhash64(rid, F.lit(seed + 2)), F.lit(64))
    doc_id = F.format_string("%s/part-%04d/doc-%012d", source, shard, rid)
    tokens = F.transform(
        F.sequence(F.lit(0), n_tok - 1),
        lambda i: F.pmod(F.xxhash64(rid, i, F.lit(seed + 3)), F.lit(VOCAB)).cast("int"),
    )
    return df.select(
        doc_id.alias("doc_id"),
        tokens.alias("tokens"),
        n_tok.alias("n_tok"),
        source.alias("source"),
    )


def tokens_from_documents(docs: DataFrame) -> DataFrame:
    """Deterministic tokens table derived from the documents parquet using
    ONLY cross-engine expressions (every formula here has an exact DuckDB
    equivalent) — the oracle-checkable stand-in for synth_tokens with the
    same shape (doc_id, tokens, n_tok, source). Token values are a pure
    function of (numeric doc id, position), so per-row token-array
    equality is externally verifiable."""
    # rename the numeric id first: the output column is ALSO named doc_id
    # (a string), and lambda expressions inside transform() resolve late —
    # they must not capture the shadowing output alias
    base = docs.select(F.col("doc_id").alias("rid"), "n_chars", "source")
    rid = F.col("rid")
    n_tok = (F.lit(16) + F.pmod(F.col("n_chars"), F.lit(497))).cast("int")
    shard = F.pmod(rid, F.lit(64)).cast("int")
    did = F.format_string("%s/part-%04d/doc-%012d", F.col("source"), shard, rid)
    tokens = F.transform(
        F.sequence(F.lit(0), n_tok - F.lit(1)),
        lambda i: F.pmod(rid * F.lit(31) + i * F.lit(2654435761), F.lit(VOCAB)).cast("int"),
    )
    return base.select(
        did.alias("doc_id"),
        tokens.alias("tokens"),
        n_tok.alias("n_tok"),
        F.col("source"),
    )


def doc_source_dim(docs: DataFrame, num_sinks: int = 4) -> DataFrame:
    """Enrichment dimension for document-derived sources ('src0', 'src1',
    ...): source → sink / category / quality_weight, computed with
    cross-engine expressions so a SQL oracle reproduces it exactly."""
    src_num = F.regexp_extract(F.col("source"), r"(\d+)$", 1).cast("int")
    cats = F.array(F.lit("web"), F.lit("code"), F.lit("books"), F.lit("forums"))
    return (
        docs.select("source")
        .distinct()
        .select(
            "source",
            F.concat(F.lit("sink_"), F.pmod(src_num, F.lit(num_sinks)).cast("string")).alias("sink"),
            F.element_at(cats, F.pmod(src_num, F.lit(4)) + 1).alias("category"),
            F.round(F.lit(1.0) - F.lit(0.03) * src_num, 4).alias("quality_weight"),
        )
    )


def source_dim(spark: SparkSession, num_sources: int = 20, num_sinks: int = 4) -> DataFrame:
    """The small lookup dimension the enrich stage broadcast-joins:
    source → sink assignment, category, quality weight. Deterministic.

    Built from a pyarrow table, so the plan is a JVM-side
    ``LocalRelation`` (string, string, string, double; all nullable).
    A Python list would plan as a pickled ``LogicalRDD``, and every
    broadcast of it would run a Spark job that starts a Python worker
    just to ship these few rows."""
    import pyarrow as pa

    cats = ["web", "code", "books", "forums"]
    return spark.createDataFrame(
        pa.table(
            {
                "source": [f"src{i:02d}" for i in range(num_sources)],
                "sink": [f"sink_{i % num_sinks}" for i in range(num_sources)],
                "category": [cats[i % len(cats)] for i in range(num_sources)],
                "quality_weight": [round(1.0 - 0.03 * i, 4) for i in range(num_sources)],
            }
        )
    )
