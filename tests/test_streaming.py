"""Structured Streaming ingest: micro-batch drain, exactly-once resume,
and batch-parity of the routed output."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from qsvspark.pipeline import synth_tokens
from qsvspark.pipeline.tokens import source_dim
from qsvspark.pipeline.northstar import (
    NorthStarPipeline,
    aggregate_stage,
    enrich_stage,
    parse_stage,
)
from qsvspark.streaming import incremental_ingest, routed_stream, run_available_now


@pytest.fixture(scope="module")
def stream_dirs(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("stream")
    inp, out, ckpt = str(base / "in"), str(base / "out"), str(base / "ckpt")
    # two "arriving" file batches
    synth_tokens(spark, 3000, seed=11, num_partitions=2).write.parquet(
        os.path.join(inp, "batch1")
    )
    synth_tokens(spark, 2000, seed=12, num_partitions=2).write.parquet(
        os.path.join(inp, "batch2")
    )
    return inp, out, ckpt


class TestStreamingIngest:
    def test_drain_and_batch_parity(self, spark, stream_dirs):
        inp, out, ckpt = stream_dirs
        dim = source_dim(spark)
        q = run_available_now(
            routed_stream(spark, inp + "/*/", dim), out, ckpt
        )
        q.awaitTermination(120)
        routed = spark.read.parquet(out)
        assert routed.count() == 5000
        # identical rows to the batch pipeline over the same input
        batch = enrich_stage(
            parse_stage(spark.read.parquet(inp + "/*/")), dim
        ).select(*routed.columns)
        assert routed.exceptAll(batch).count() == 0
        assert batch.exceptAll(routed).count() == 0
        # routed layout: one directory per sink
        sinks = {d for d in os.listdir(out) if d.startswith("sink=")}
        assert len(sinks) == 4

    def test_restart_skips_committed_files(self, spark, stream_dirs):
        inp, out, ckpt = stream_dirs
        dim = source_dim(spark)
        q = run_available_now(routed_stream(spark, inp + "/*/", dim), out, ckpt)
        q.awaitTermination(120)
        # same checkpoint, no new files → no new rows (exactly-once)
        assert spark.read.parquet(out).count() == 5000

    def test_new_files_are_picked_up(self, spark, stream_dirs):
        inp, out, ckpt = stream_dirs
        synth_tokens(spark, 1000, seed=13, num_partitions=1).write.parquet(
            os.path.join(inp, "batch3")
        )
        dim = source_dim(spark)
        q = run_available_now(routed_stream(spark, inp + "/*/", dim), out, ckpt)
        q.awaitTermination(120)
        assert spark.read.parquet(out).count() == 6000
        # per-sink counts still match a direct batch aggregate
        direct = {
            r["sink"]: r["n"]
            for r in enrich_stage(
                parse_stage(spark.read.parquet(inp + "/*/")), dim
            ).groupBy("sink").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        streamed = {
            r["sink"]: r["n"]
            for r in spark.read.parquet(out)
            .groupBy("sink").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        assert streamed == direct


class TestIncrementalIngest:
    """foreachBatch → run_increment: streamed micro-batches land in the
    snapshot catalog as fingerprinted increments; the checkpoint and the
    fingerprints together give exactly-once end to end."""

    @pytest.fixture(scope="class")
    def inc_dirs(self, spark, tmp_path_factory):
        base = tmp_path_factory.mktemp("stream_inc")
        inp, wh, ckpt = str(base / "in"), str(base / "wh"), str(base / "ckpt")
        synth_tokens(spark, 2000, seed=21, num_partitions=1).write.parquet(
            os.path.join(inp, "day1")
        )
        synth_tokens(spark, 1500, seed=21, num_partitions=1,
                     id_offset=2000).write.parquet(os.path.join(inp, "day2"))
        return inp, wh, ckpt

    def test_streamed_increments_match_one_batch_run(self, spark, inc_dirs):
        inp, wh, ckpt = inc_dirs
        pipe = NorthStarPipeline(spark, wh)
        q = incremental_ingest(spark, inp + "/*/", pipe, ckpt,
                               max_files_per_trigger=1)
        q.awaitTermination(180)
        all_tokens = spark.read.parquet(inp + "/*/")
        assert pipe.routed().count() == 3500
        m = pipe.catalog.manifest("routed")
        assert m["cumulative_row_count"] == 3500
        direct = aggregate_stage(
            enrich_stage(parse_stage(all_tokens), source_dim(spark))
        )
        got = pipe.aggregates()
        assert got.exceptAll(direct).count() == 0
        assert direct.exceptAll(got).count() == 0

    def test_restart_is_noop(self, spark, inc_dirs):
        inp, wh, ckpt = inc_dirs
        pipe = NorthStarPipeline(spark, wh)
        snaps_before = pipe.catalog._snaps("routed")
        q = incremental_ingest(spark, inp + "/*/", pipe, ckpt)
        q.awaitTermination(120)
        assert pipe.catalog._snaps("routed") == snaps_before
        assert pipe.routed().count() == 3500


class TestStatefulDedup:
    def _drain(self, spark, inp, out, ckpt):
        from qsvspark.streaming import dedup_stream_exact
        from qsvspark.streaming.ingest import TOKENS_DDL

        stream = spark.readStream.schema(TOKENS_DDL).format("parquet").load(inp + "/*/")
        q = (
            dedup_stream_exact(stream, key_cols=["doc_id"])
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    def test_cross_batch_dedup_with_restart(self, spark, tmp_path):
        """applyInPandasWithState keep-first across micro-batches AND
        across restarts (state persisted in the checkpoint): batch1 has
        3 distinct ids ×2 copies, batch2 repeats one id, a post-restart
        batch3 repeats another + adds a new one."""
        inp, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))

        def write_batch(name, ids):
            df = spark.createDataFrame(
                [(f"doc-{i}", [1, 2], 2, "src00") for i in ids],
                "doc_id string, tokens array<int>, n_tok int, source string",
            )
            df.coalesce(1).write.parquet(os.path.join(inp, name))

        write_batch("batch1", [0, 0, 1, 1, 2, 2])
        write_batch("batch2", [2])
        self._drain(spark, inp, out, ckpt)
        got = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
        assert got == ["doc-0", "doc-1", "doc-2"]

        write_batch("batch3", [1, 3])
        self._drain(spark, inp, out, ckpt)  # restart, same checkpoint
        got = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
        assert got == ["doc-0", "doc-1", "doc-2", "doc-3"]


class TestWatermarkedWindows:
    """windowed_event_counts: tumbling windows + watermark late-data
    semantics, driven deterministically with one file per micro-batch."""

    DDL = "event_id long, ts timestamp, event_type string, value double"

    def _write(self, spark, path, rows, mtime):
        spark.createDataFrame(rows, self.DDL).coalesce(1).write.mode(
            "overwrite"
        ).parquet(path)
        # the file source processes oldest-mtime first; pin mtimes so the
        # micro-batch order (and thus watermark progression) is deterministic
        for f in os.listdir(path):
            os.utime(os.path.join(path, f), (mtime, mtime))

    def _drain(self, spark, inp, out, ckpt):
        from qsvspark.streaming import windowed_event_counts

        stream = (
            spark.readStream.schema(self.DDL)
            .option("maxFilesPerTrigger", "1")
            .parquet(inp + "/*/")
        )
        q = (
            windowed_event_counts(stream, watermark="2 hours")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.read.parquet(out)

    def test_late_within_watermark_lands_dropped_beyond(self, spark, tmp_path):
        """Spark applies the late-record filter with a one-batch watermark
        lag and finalizes windows at batch end — so the drop manifests for
        a row whose window was already emitted, and a within-watermark
        late row joins its open window. Validated progression:
          b1 (07:30, 10:59)  → watermark advances to 08:59
          b2 (09:30)         → 07:00 window finalized + emitted
          b3 (07:45 BEYOND the watermark → dropped;
              09:45 within it → joins 09:30's open 09:00 window)
          b4 sentinel 13:30, next drain → 09:00/10:00 windows flushed
        """
        import datetime as dt

        t = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)  # noqa: E731
        inp, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
        self._write(spark, os.path.join(inp, "b1"), [
            (1, t(7, 30), "view", 1.0),
            (3, t(10, 59), "click", 4.0),
        ], mtime=1_700_000_000)
        self._write(spark, os.path.join(inp, "b2"), [
            (4, t(9, 30), "view", 8.0),
        ], mtime=1_700_000_060)
        self._write(spark, os.path.join(inp, "b3"), [
            (6, t(7, 45), "view", 32.0),   # beyond watermark: dropped
            (7, t(9, 45), "view", 2.0),    # within watermark: lands
        ], mtime=1_700_000_120)
        first = {
            (r["window_start"].hour, r["event_type"]): (r["n"], r["sum_value"])
            for r in self._drain(spark, inp, out, ckpt).collect()
        }
        # only the 07:00 window is finalized — WITHOUT the dropped 07:45 row
        assert first == {(7, "view"): (1, 1.0)}
        # a later sentinel advances the watermark: restart flushes the rest
        self._write(spark, os.path.join(inp, "b4"), [
            (8, t(13, 30), "click", 0.5),
        ], mtime=1_700_000_180)
        final = {
            (r["window_start"].hour, r["event_type"]): (r["n"], r["sum_value"])
            for r in self._drain(spark, inp, out, ckpt).collect()
        }
        assert final == {
            (7, "view"): (1, 1.0),      # unchanged: late 07:45 never lands
            (9, "view"): (2, 10.0),     # 09:30 + within-watermark late 09:45
            (10, "click"): (1, 4.0),
        }

    def test_no_late_data_matches_batch_for_closed_windows(self, spark, tmp_path):
        import datetime as dt

        t = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)  # noqa: E731
        inp = str(tmp_path / "in")
        rows = [
            (i, t(5 + i % 3, 7 * i % 60), ["view", "click"][i % 2], float(i))
            for i in range(40)
        ] + [(99, t(12), "view", 0.5)]  # sentinel advances the watermark
        self._write(spark, os.path.join(inp, "b1"), rows, mtime=1_700_000_000)
        got = sorted(
            (r["window_start"], r["event_type"], r["n"], r["sum_value"])
            for r in self._drain(
                spark, inp, str(tmp_path / "out"), str(tmp_path / "ckpt")
            ).collect()
        )
        batch = spark.createDataFrame(rows, self.DDL)
        expected = sorted(
            (r["window_start"], r["event_type"], r["n"], r["sum_value"])
            for r in (
                batch.groupBy(
                    F.window("ts", "1 hour").alias("win"), "event_type"
                )
                .agg(F.count("*").alias("n"),
                     F.round(F.sum("value"), 4).alias("sum_value"))
                .select(F.col("win.start").alias("window_start"),
                        "event_type", "n", "sum_value")
                .filter(F.col("window_start") < t(10))  # closed by watermark
            ).collect()
        )
        assert got == expected and len(got) >= 4


class TestStreamingNearDup:
    """dedup_stream_minhash: cross-batch MinHash-LSH candidate pairs.
    The union of pairs emitted over any arrival order must equal the
    batch minhash_lsh_pairs candidate set on the same corpus — including
    pairs that span micro-batches and stream restarts."""

    CORPUS = [
        (0, "the quick brown fox jumps over the lazy dog and runs away fast"),
        (1, "the quick brown fox jumps over the lazy dog and runs away fast"),
        (2, "the quick brown fox jumps over the lazy dog and walks away fast"),
        (3, "der hund und die katze sind nicht mit dem vogel zu sehen"),
        (4, "completely different content about spark query engines and shuffles"),
        (5, "the quick brown fox jumps over the lazy dog and runs away quick"),
    ]
    DDL = "doc_id bigint, text string"

    def _write_batch(self, spark, inp, name, rows):
        spark.createDataFrame(rows, self.DDL).coalesce(1).write.parquet(
            os.path.join(inp, name)
        )

    def _drain(self, spark, inp, out, ckpt):
        from qsvspark.streaming import dedup_stream_minhash

        stream = (
            spark.readStream.schema(self.DDL)
            .option("maxFilesPerTrigger", "1")
            .parquet(inp + "/*/")
        )
        q = (
            dedup_stream_minhash(stream, num_hashes=16, bands=8, k=4)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            (r["id_a"], r["id_b"])
            for r in spark.read.parquet(out).collect()
        }

    def _batch_pairs(self, spark, rows):
        from qsvspark.functions import minhash_lsh_pairs

        df = spark.createDataFrame(rows, self.DDL)
        return {
            (r["id_a"], r["id_b"])
            for r in minhash_lsh_pairs(df, num_hashes=16, bands=8, k=4).collect()
        }

    def test_stream_pairs_match_batch_across_batches_and_restart(
        self, spark, tmp_path
    ):
        inp, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
        # near-dups deliberately SPLIT across micro-batches (0/1/2 arrive
        # before 5): their pairs only exist via cross-batch state
        self._write_batch(spark, inp, "batch1", self.CORPUS[:3])
        self._write_batch(spark, inp, "batch2", self.CORPUS[3:])
        streamed = self._drain(spark, inp, out, ckpt)
        batch = self._batch_pairs(spark, self.CORPUS)
        assert (0, 1) in batch and (0, 2) in batch  # corpus sanity
        assert streamed == batch

        # restart with a new arrival that pairs with round-1 members:
        # state from the checkpoint must produce exactly the new pairs
        extra = [(6, "the quick brown fox jumps over the lazy dog and runs away fast")]
        self._write_batch(spark, inp, "batch3", extra)
        streamed2 = self._drain(spark, inp, out, ckpt)
        assert streamed2 == self._batch_pairs(spark, self.CORPUS + extra)

    def test_bucket_cap_bounds_state_and_emission(self, spark, tmp_path):
        """A degenerate bucket (many identical docs) stops admitting at
        max_bucket_size: emission per arrival and state are bounded."""
        inp, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
        rows = [(i, "identical boilerplate text repeated forever") for i in range(50)]
        self._write_batch(spark, inp, "batch1", rows)
        from qsvspark.streaming import dedup_stream_minhash

        stream = (
            spark.readStream.schema(self.DDL).parquet(inp + "/*/")
        )
        q = (
            dedup_stream_minhash(stream, num_hashes=16, bands=8, k=4,
                                 max_bucket_size=5)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        pairs = {
            (r["id_a"], r["id_b"]) for r in spark.read.parquet(out).collect()
        }
        # 5 admitted members per bucket -> at most C(5,2)=10 distinct pairs
        assert 0 < len(pairs) <= 10


class TestStreamingQuarantine:
    def test_streamed_bad_rows_quarantine_and_redrive(
        self, spark, tmp_path_factory
    ):
        """incremental_ingest inherits the pipe's quarantine config: bad
        rows arriving in a micro-batch dead-letter instead of failing the
        stream, aggregates exclude them, and a later redrive recovers the
        fixable ones."""
        from qsvspark.pipeline.northstar import QUARANTINE_SINK
        from qsvspark.pipeline.tokens import source_dim

        base = tmp_path_factory.mktemp("stream_dlq")
        inp, wh, ckpt = str(base / "in"), str(base / "wh"), str(base / "ckpt")
        synth_tokens(spark, 500, seed=41, num_partitions=2).write.parquet(
            os.path.join(inp, "batch1")
        )
        bad = spark.createDataFrame(
            [
                ("garbage-###", [1, 2], 2, "src00"),
                ("src99/part-0001/doc-000000000042", [3], 1, "src99"),
            ],
            "doc_id string, tokens array<int>, n_tok int, source string",
        )
        synth_tokens(spark, 300, seed=42, num_partitions=1, id_offset=10**7
                     ).unionByName(bad).write.parquet(os.path.join(inp, "batch2"))

        pipe = NorthStarPipeline(spark, wh, quarantine=True)
        q = incremental_ingest(spark, inp + "/*/", pipe, ckpt,
                               max_files_per_trigger=2)
        q.awaitTermination(180)

        assert pipe.routed().count() == 802
        quarantined = pipe.routed().where(F.col("sink") == QUARANTINE_SINK)
        assert quarantined.count() == 2
        total = pipe.aggregates().agg(
            F.sum("seq_count").alias("n")).collect()[0]["n"]
        assert total == 800

        # fix the dimension and redrive: src99 recovers, garbage stays
        fixed = source_dim(spark).unionByName(
            spark.createDataFrame(
                [("src99", "sink_1", "web", 0.5)],
                "source string, sink string, category string, "
                "quality_weight double",
            )
        )
        m = pipe.redrive_quarantine("stream-fix", dim=fixed)
        assert m["redriven"] == 1 and m["still_quarantined"] == 1
        total = pipe.aggregates().agg(
            F.sum("seq_count").alias("n")).collect()[0]["n"]
        assert total == 801


class TestStreamingDecontaminate:
    """pre_stage hook on incremental_ingest: benchmark-contaminated
    sequences are dropped as they arrive, and the routed result equals
    the batch decontaminate-then-route equivalent."""

    def test_streamed_decontaminate_matches_batch(self, spark, tmp_path):
        from qsvspark.pipeline import decontaminate_stage

        inp, wh, ckpt = (str(tmp_path / d) for d in ("in", "wh", "ckpt"))
        synth_tokens(spark, 1200, seed=31, num_partitions=1).write.parquet(
            os.path.join(inp, "day1"))
        synth_tokens(spark, 800, seed=31, num_partitions=1,
                     id_offset=1200).write.parquet(os.path.join(inp, "day2"))
        all_tokens = spark.read.parquet(inp + "/*/")
        bench = all_tokens.where("doc_id LIKE '%00'").cache()
        bench.count()

        pipe = NorthStarPipeline(spark, wh)
        q = incremental_ingest(
            spark, inp + "/*/", pipe, ckpt, max_files_per_trigger=1,
            pre_stage=lambda df: decontaminate_stage(df, bench, n=8),
        )
        q.awaitTermination(180)

        batch_clean = decontaminate_stage(all_tokens, bench, n=8)
        assert pipe.routed().count() == batch_clean.count()
        routed_ids = {r["doc_id"] for r in pipe.routed().select("doc_id").collect()}
        bench_ids = {r["doc_id"] for r in bench.select("doc_id").collect()}
        assert routed_ids.isdisjoint(bench_ids)
        bench.unpersist()
