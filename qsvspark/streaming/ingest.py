"""Structured Streaming ingest for the north-star pipeline.

The reference engine has no streaming surface (SURVEY.md §2.7) — this is
the Spark-first extension for continuous token-table ingestion: the SAME
parse/enrich stage functions used by the batch pipeline run unchanged
over a file-source stream, because both are plain DataFrame→DataFrame
transformations. Micro-batches land in the routed sink layout
(partitioned by sink) with exactly-once file-source semantics from the
stream checkpoint; `trigger(availableNow=True)` drains a backlog and
stops, which is also how the tests drive it deterministically.

At cluster scale the file source becomes Kafka/Iceberg-CDC and the sink
an Iceberg table — the stage functions don't change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from qsvspark.pipeline.northstar import enrich_stage, parse_stage

# tokens table schema (BASELINE.json input_hint)
TOKENS_DDL = "doc_id string, tokens array<int>, n_tok int, source string"


def routed_stream(
    spark: SparkSession,
    input_dir: str,
    dim: DataFrame,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming parse→enrich over a parquet-file source of token
    sequences. Returns the streaming DataFrame ready for a sink."""
    reader = (
        spark.readStream.schema(TOKENS_DDL)
        .format("parquet")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    tokens = reader.load(input_dir)
    return enrich_stage(parse_stage(tokens), dim)


def run_available_now(
    routed: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Drain everything currently available into the routed sink layout
    and stop. Restarting with the same checkpoint skips files already
    committed — the streaming analog of the snapshot-resume contract."""
    return (
        routed.writeStream.format("parquet")
        .partitionBy("sink")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )

def incremental_ingest(
    spark: SparkSession,
    input_dir: str,
    pipe,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    distinct_mode: str = "merge",
    pre_stage=None,
) -> StreamingQuery:
    """Continuous catalog ingestion: each micro-batch of arriving token
    files becomes ONE pipeline increment (`NorthStarPipeline.run_increment`)
    — appended to the routed snapshot chain with incremental aggregate
    maintenance, instead of landing in a bare directory.

    Exactly-once comes from BOTH layers agreeing: the stream checkpoint
    guarantees a micro-batch (same id, same files) is redelivered — not
    duplicated — after a crash, and the increment fingerprint
    ``stream-{batch_id}`` makes redelivery idempotent (the committed
    route/aggregate snapshots are found and skipped). A batch that died
    mid-write left an uncommitted snapshot, which resume ignores.

    ``pipe``: a NorthStarPipeline whose warehouse receives the increments.

    ``pre_stage``: optional DataFrame -> DataFrame hook applied to each
    micro-batch BEFORE it becomes an increment — the seam for streaming
    corpus hygiene (e.g. ``lambda df: decontaminate_stage(df, benchmark)``
    drops benchmark-contaminated sequences as they arrive). It must be
    deterministic: the increment fingerprint only covers the batch id,
    so a redelivered batch must transform identically for exactly-once
    to hold.
    """
    tokens = (
        spark.readStream.schema(TOKENS_DDL).format("parquet")
    )
    if max_files_per_trigger:
        tokens = tokens.option("maxFilesPerTrigger", str(max_files_per_trigger))

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if pre_stage is not None:
            batch_df = pre_stage(batch_df)
        pipe.run_increment(
            batch_df, f"stream-{batch_id}", distinct_mode=distinct_mode
        )

    return (
        tokens.load(input_dir)
        .writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


EVENTS_DDL = "event_id long, ts timestamp, user_id long, event_type string, value double"


def windowed_event_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window_dur: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window aggregation for late-arriving data.

    The watermark bounds state: a window is finalized (and, in append
    mode, emitted) once event time has advanced `watermark` past its end,
    and records arriving later than that are DROPPED rather than held
    forever — the property that keeps an unbounded stream's aggregation
    state finite at cluster scale. Within the watermark, late records
    still land in their correct event-time window. The aggregation is
    the same partial+final HashAggregate Catalyst plans for batch; only
    the state-store boundary differs.
    """
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_dur).alias("win"), F.col(key_col))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col(key_col), F.col("n"), F.col("sum_value"),
        )
    )
