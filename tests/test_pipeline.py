"""North-star pipeline invariants (BASELINE.json north_rule):
  - per-row token-array equality across parse→route,
  - per-sink aggregate-count equality vs direct computation,
  - salted aggregation exactly equals unsalted,
  - determinism of the synthetic table across parallelism,
  - resume-from-manifest skips committed stages."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from qsvspark.pipeline.northstar import (
    NorthStarPipeline,
    aggregate_stage,
    aggregate_stage_salted,
    enrich_stage,
    parse_stage,
)
from qsvspark.pipeline.tokens import source_dim, synth_tokens

N = 5_000
SEED = 7


@pytest.fixture(scope="module")
def tokens(spark):
    return synth_tokens(spark, N, seed=SEED).cache()


class TestSynthTokens:
    def test_shape_and_schema(self, tokens):
        assert tokens.count() == N
        assert tokens.schema.simpleString() == (
            "struct<doc_id:string,tokens:array<int>,n_tok:int,source:string>"
        )

    def test_n_tok_matches_array_length(self, tokens):
        bad = tokens.filter(F.size("tokens") != F.col("n_tok")).count()
        assert bad == 0

    def test_deterministic_across_partitioning(self, spark):
        a = synth_tokens(spark, 2000, seed=3, num_partitions=2)
        b = synth_tokens(spark, 2000, seed=3, num_partitions=13)
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    def test_zipf_skew_present(self, tokens):
        counts = {r["source"]: r["n"] for r in
                  tokens.groupBy("source").agg(F.count("*").alias("n")).collect()}
        assert counts["src00"] > 5 * counts.get("src19", 1)  # heavy hitter


# doc_ids whose shard (> 2^31-1) or seq (> 2^63-1) does not fit its type
OVERFLOW_IDS = ["src01/part-99999999999/doc-7", "src01/part-3/doc-9223372036854775808"]
# each must give null in all three route fields
MALFORMED_IDS = [
    "garbage",
    # \z, not `$`: Java's `$` also matches before a final "\n"
    "src01/part-3/doc-7\n",
    # Java's \d is ASCII-only, like Python's with re.ASCII
    "src01/part-\u0663/doc-7",
    "",
    None,
    *OVERFLOW_IDS,
]


def reference_parse(doc_id):
    """The route fields parse_stage must give, from Python's re."""
    m = doc_id is not None and re.fullmatch(
        r"(src\d+)/part-(\d+)/doc-(\d+)", doc_id, flags=re.ASCII
    )
    if not m or int(m[2]) > 2**31 - 1 or int(m[3]) > 2**63 - 1:
        return (None, None, None)
    return (m[1], int(m[2]), int(m[3]))


class TestParse:
    def test_matches_python_reference(self, tokens):
        rows = parse_stage(tokens).select("doc_id", "parsed_source", "shard", "seq").collect()
        assert len(rows) == N
        for r in rows:
            assert (r["parsed_source"], r["shard"], r["seq"]) == reference_parse(r["doc_id"])

    def test_parse_recovers_source(self, tokens):
        p = parse_stage(tokens)
        assert p.filter(F.col("parsed_source") != F.col("source")).count() == 0

    def test_malformed_doc_id_gives_nulls(self, spark):
        ids = MALFORMED_IDS + ["src01/part-0007/doc-0042"]
        df = spark.createDataFrame(
            [(d, [1], 1, "src01") for d in ids],
            "doc_id string, tokens array<int>, n_tok int, source string",
        )
        got = {r["doc_id"]: (r["parsed_source"], r["shard"], r["seq"])
               for r in parse_stage(df).collect()}
        assert got == {d: reference_parse(d) for d in ids}
        assert got["src01/part-0007/doc-0042"] == ("src01", 7, 42)
        for d in MALFORMED_IDS:
            assert got[d] == (None, None, None), repr(d)


class TestEnrichRouteAggregate:
    def test_source_dim_is_a_local_relation(self, spark):
        dim = source_dim(spark)
        plan = dim._jdf.queryExecution().analyzed()  # noqa: SLF001
        assert plan.getClass().getSimpleName() == "LocalRelation"
        assert dim.schema.simpleString() == (
            "struct<source:string,sink:string,category:string,quality_weight:double>"
        )
        assert all(f.nullable for f in dim.schema.fields)
        rows = [tuple(r) for r in dim.collect()]
        assert len(rows) == 20
        assert rows[0] == ("src00", "sink_0", "web", 1.0)
        assert rows[19] == ("src19", "sink_3", "forums", 0.43)

    def test_enrich_assigns_sink_to_all(self, spark, tokens):
        dim = source_dim(spark)
        e = enrich_stage(parse_stage(tokens), dim)
        assert e.filter(F.col("sink").isNull()).count() == 0

    def test_enrich_is_broadcast(self, spark, tokens):
        dim = source_dim(spark)
        e = enrich_stage(tokens, dim)
        plan = e._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            e._jdf.queryExecution(), "formatted"
        )
        assert "BroadcastHashJoin" in plan

    def test_salted_equals_unsalted(self, spark, tokens):
        dim = source_dim(spark)
        e = enrich_stage(tokens, dim)
        a = aggregate_stage(e).orderBy("sink", "source", "n_tok_bucket")
        b = aggregate_stage_salted(e, salt_buckets=16).orderBy("sink", "source", "n_tok_bucket")
        assert [tuple(r) for r in a.collect()] == [tuple(r) for r in b.collect()]


class TestSaltedJoin:
    """salted_join: the enrich fallback when the dimension outgrows
    broadcast and the join key is skewed — deterministic salt on the big
    side, dim exploded per salt, joined on (key, salt)."""

    @pytest.fixture(scope="class")
    def skewed(self, spark):
        # 50% of rows on one key — the heavy-hitter distribution
        df = spark.range(0, 4000).select(
            F.format_string("doc-%06d", F.col("id")).alias("doc_id"),
            F.when(F.col("id") % 2 == 0, F.lit("src-00"))
            .otherwise(F.format_string("src-%02d", F.col("id") % 17 + 1))
            .alias("source"),
        )
        dim = spark.range(0, 17).select(
            F.format_string("src-%02d", F.col("id")).alias("source"),
            F.col("id").alias("weight"),
        )
        return df.cache(), dim

    def test_inner_equals_plain(self, spark, skewed):
        from qsvspark.pipeline import salted_join

        big, dim = skewed
        plain = sorted(map(tuple, big.join(dim, "source").collect()))
        salted = sorted(
            map(tuple, salted_join(big, dim, "source", salt_buckets=8).collect())
        )
        assert plain == salted

    def test_left_keeps_unmatched_rows(self, spark, skewed):
        from qsvspark.pipeline import salted_join

        big, dim = skewed
        # src-17 (id%17==16 → src-17) has no dim row → null weight survives
        plain = sorted(
            map(tuple, big.join(dim, "source", "left").collect()),
            key=lambda t: (t[0], t[1]),
        )
        salted = sorted(
            map(
                tuple,
                salted_join(big, dim, "source", how="left", salt_buckets=8).collect(),
            ),
            key=lambda t: (t[0], t[1]),
        )
        assert plain == salted

    def test_dim_duplicating_joins_rejected(self, spark, skewed):
        from qsvspark.pipeline import salted_join

        big, dim = skewed
        for how in ("right", "full", "outer"):
            with pytest.raises(ValueError, match="salted_join supports"):
                salted_join(big, dim, "source", how=how)

    def test_enrich_salted_equals_broadcast(self, spark, tokens):
        from qsvspark.pipeline import enrich_stage_salted
        from qsvspark.pipeline.tokens import source_dim

        dim = source_dim(spark)
        a = sorted(map(tuple, enrich_stage(tokens, dim).collect()))
        b = sorted(map(tuple, enrich_stage_salted(tokens, dim, 8).collect()))
        assert a == b

    def test_salt_is_deterministic_expression(self, spark, skewed):
        """The salt must not be rand(): a nondeterministic shuffle key
        corrupts results under stage retry. Two evaluations of the same
        plan must salt identically."""
        from qsvspark.pipeline import salted_join

        big, dim = skewed
        out = salted_join(big, dim, "source", salt_buckets=8)
        assert sorted(map(tuple, out.collect())) == sorted(map(tuple, out.collect()))
        # and the expression tree carries no nondeterministic node
        assert "rand" not in out._jdf.queryExecution().analyzed().toString().lower()


class TestPipelineEndToEnd:
    @pytest.fixture(scope="class")
    def run(self, spark, tokens, tmp_path_factory):
        wh = str(tmp_path_factory.mktemp("warehouse"))
        pipe = NorthStarPipeline(spark, wh)
        metrics = pipe.run(tokens, input_fingerprint=f"synth-n{N}-s{SEED}")
        return pipe, metrics

    def test_per_sink_counts_match_direct(self, spark, tokens, run):
        pipe, metrics = run
        dim = source_dim(spark)
        direct = {
            r["sink"]: r["n"]
            for r in tokens.join(F.broadcast(dim), "source")
            .groupBy("sink").agg(F.count("*").alias("n")).collect()
        }
        assert metrics["per_sink_counts"] == direct
        assert sum(direct.values()) == N

    def test_token_array_equality_roundtrip(self, tokens, run):
        """north_rule per-row invariant: tokens survive routing bit-exactly."""
        pipe, _ = run
        routed = pipe.routed().select("doc_id", F.col("tokens").alias("routed_tokens"))
        joined = tokens.join(routed, "doc_id", "full")
        mismatches = joined.filter(
            F.col("tokens").isNull()
            | F.col("routed_tokens").isNull()
            | (F.col("tokens") != F.col("routed_tokens"))
        ).count()
        assert mismatches == 0

    def test_aggregate_counts_match_reference_semantics(self, spark, tokens, run):
        """per-sink (source × n_tok bucket) counts == direct groupBy of the
        input — the reference quilter count/uniq equality."""
        pipe, _ = run
        dim = source_dim(spark)
        direct = (
            tokens.join(F.broadcast(dim), "source")
            .withColumn("n_tok_bucket", ((F.col("n_tok") / 64).cast("int") * 64))
            .groupBy("sink", "source", "n_tok_bucket")
            .agg(F.count(F.lit(1)).alias("seq_count"),
                 F.count_distinct("doc_id").alias("uniq_docs"),
                 F.sum("n_tok").alias("tok_sum"))
        )
        got = pipe.aggregates()
        assert got.exceptAll(direct).count() == 0
        assert direct.exceptAll(got).count() == 0

    def test_resume_skips_committed_stages(self, spark, tokens, run):
        pipe, first = run
        again = pipe.run(tokens, input_fingerprint=f"synth-n{N}-s{SEED}")
        assert set(again["resumed"]) == {"route", "aggregate"}
        assert again["per_sink_counts"] == first["per_sink_counts"]

    def test_new_fingerprint_recomputes(self, spark, run):
        pipe, _ = run
        small = synth_tokens(spark, 500, seed=99)
        m = pipe.run(small, input_fingerprint="synth-n500-s99")
        assert m["resumed"] == []
        assert m["rows"] == 500


class TestIncrementalRuns:
    """run_increment: append-only steady state — each increment routes
    only its own rows (snapshot chain), aggregates maintained
    incrementally; equality vs a single full computation is the oracle."""

    def _halves(self, tokens):
        h = F.pmod(F.xxhash64("doc_id"), F.lit(2))
        return tokens.filter(h == 0), tokens.filter(h == 1)

    @pytest.fixture(scope="class")
    def inc_setup(self, spark, tokens, tmp_path_factory):
        wh = str(tmp_path_factory.mktemp("wh_inc"))
        pipe = NorthStarPipeline(spark, wh)
        inc1, inc2 = self._halves(tokens)
        m1 = pipe.run_increment(inc1, "inc-1")
        m2 = pipe.run_increment(inc2, "inc-2")
        return pipe, m1, m2

    def _direct_full(self, spark, tokens):
        return aggregate_stage(
            enrich_stage(parse_stage(tokens), source_dim(spark))
        )

    def test_cumulative_counts_and_chain_read(self, spark, tokens, inc_setup):
        pipe, m1, m2 = inc_setup
        assert m1["delta_rows"] + m2["delta_rows"] == N
        assert m2["rows"] == N
        assert pipe.routed().count() == N
        dim = source_dim(spark)
        direct = {
            r["sink"]: r["n"]
            for r in tokens.join(F.broadcast(dim), "source")
            .groupBy("sink").agg(F.count("*").alias("n")).collect()
        }
        assert m2["per_sink_counts"] == direct

    def test_chain_scan_count_and_pruning(self, inc_setup):
        """A 2-increment chain reads as 2 parquet scans (one per
        snapshot), and a sink filter partition-prunes BOTH branches."""
        pipe, _, _ = inc_setup
        plan = pipe.routed()._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Scan parquet") == 2
        fplan = (
            pipe.routed().filter(F.col("sink") == "sink_0")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert fplan.count("PartitionFilters: [isnotnull(sink") == 2

    def test_merge_aggregates_equal_full_computation(self, spark, tokens, inc_setup):
        pipe, _, _ = inc_setup
        direct = self._direct_full(spark, tokens)
        got = pipe.aggregates()
        assert got.exceptAll(direct).count() == 0
        assert direct.exceptAll(got).count() == 0

    def test_recompute_mode_equals_full_computation(self, spark, tokens,
                                                    tmp_path_factory):
        wh = str(tmp_path_factory.mktemp("wh_inc_rc"))
        pipe = NorthStarPipeline(spark, wh)
        inc1, inc2 = self._halves(tokens)
        pipe.run_increment(inc1, "inc-1", distinct_mode="recompute")
        pipe.run_increment(inc2, "inc-2", distinct_mode="recompute")
        direct = self._direct_full(spark, tokens)
        got = pipe.aggregates()
        assert got.exceptAll(direct).count() == 0
        assert direct.exceptAll(got).count() == 0

    def test_three_way_split_equals_full(self, spark, tokens, tmp_path_factory):
        """Any partitioning of the input into disjoint increments must
        reproduce the single-run results exactly."""
        wh = str(tmp_path_factory.mktemp("wh_inc3"))
        pipe = NorthStarPipeline(spark, wh)
        h = F.pmod(F.xxhash64("doc_id"), F.lit(3))
        for i in range(3):
            pipe.run_increment(tokens.filter(h == i), f"inc3-{i}")
        assert pipe.routed().count() == N
        direct = self._direct_full(spark, tokens)
        got = pipe.aggregates()
        assert got.exceptAll(direct).count() == 0
        assert direct.exceptAll(got).count() == 0

    def test_chain_read_tolerates_added_column(self, spark, tmp_path):
        """Schema evolution: an increment shipping a NEW column unions
        with older snapshots projecting null for it (Iceberg add-column)."""
        from qsvspark.io import SnapshotCatalog

        cat = SnapshotCatalog(str(tmp_path / "wh_evo"))
        v1 = spark.range(10).select(F.col("id"), F.lit("a").alias("k"))
        m1 = cat.write(v1, "t", input_fingerprint="v1")
        v2 = spark.range(10, 15).select(
            F.col("id"), F.lit("b").alias("k"), F.lit(1.5).alias("score")
        )
        cat.write(v2, "t", input_fingerprint="v2", parent=m1["snapshot"])
        full = cat.read(spark, "t")
        assert full.count() == 15
        assert set(full.columns) == {"id", "k", "score"}
        assert full.filter(F.col("score").isNull()).count() == 10

    def test_committed_increment_resumes(self, tokens, inc_setup):
        pipe, _, m2 = inc_setup
        _, inc2 = self._halves(tokens)
        again = pipe.run_increment(inc2, "inc-2")
        assert set(again["resumed"]) == {"route", "aggregate"}
        assert again["per_sink_counts"] == m2["per_sink_counts"]

    def test_compact_flattens_chain(self, spark, tokens, inc_setup):
        pipe, _, m2 = inc_setup
        snaps_before = {f["snapshot"] for f in pipe.catalog.data_files("routed")}
        assert len(snaps_before) == 2  # two increments chained
        before = pipe.routed()
        m = pipe.compact_sinks(target_file_bytes=64 * 1024 * 1024)
        assert m is not None and m["parent"] is None
        assert m["row_count"] == N
        assert m["cumulative_row_count"] == N
        assert m["partition_counts"] == m2["per_sink_counts"]
        snaps_after = {f["snapshot"] for f in pipe.catalog.data_files("routed")}
        assert len(snaps_after) == 1
        after = pipe.routed()
        assert before.exceptAll(after).count() == 0
        assert after.exceptAll(before).count() == 0


class TestSinkMaintenance:
    def test_compact_sinks_preserves_pipeline_outputs(
        self, spark, tokens, tmp_path_factory
    ):
        """Compaction (Iceberg rewrite_data_files) between pipeline runs:
        fewer files, identical routed rows + per-sink counts, and resume
        reads the compacted snapshot without recomputing the route."""
        wh = str(tmp_path_factory.mktemp("wh_compact"))
        pipe = NorthStarPipeline(spark, wh, route_cluster_by=["source", "n_tok"])
        fp = f"synth-n{N}-s{SEED}-compact"
        first = pipe.run(tokens, input_fingerprint=fp)
        before = pipe.routed()
        n_before = len(pipe.catalog.data_files("routed"))
        m = pipe.compact_sinks(target_file_bytes=64 * 1024 * 1024)
        assert m is not None
        assert m["partition_counts"] == first["per_sink_counts"]
        assert len(pipe.catalog.data_files("routed")) < n_before
        after = pipe.routed()
        assert before.exceptAll(after).count() == 0
        assert after.exceptAll(before).count() == 0
        again = pipe.run(tokens, input_fingerprint=fp)
        assert "route" in again["resumed"]
        assert again["per_sink_counts"] == first["per_sink_counts"]


def _shift_doc_ids(df, by: int = 1_000_000):
    """Copy with identical content but distinct, still-grok-parseable
    doc_ids (seq += by); sorts AFTER the original, so keep-first dedup
    must keep the original row."""
    seq = F.substring_index("doc_id", "doc-", -1).cast("long") + F.lit(by)
    return df.withColumn(
        "doc_id",
        F.concat(
            F.substring_index("doc_id", "doc-", 1),
            F.lit("doc-"),
            F.lpad(seq.cast("string"), 12, "0"),
        ),
    )


class TestDedupStage:
    ND = 1_500

    @pytest.fixture(scope="class")
    def base(self, spark):
        return synth_tokens(spark, self.ND, seed=13).cache()

    @pytest.fixture(scope="class")
    def with_dups(self, spark, base):
        return base.unionByName(_shift_doc_ids(base))

    def test_keep_first_drops_exact_duplicates(self, with_dups, base):
        from qsvspark.pipeline.northstar import dedup_stage

        deduped = dedup_stage(parse_stage(with_dups))
        assert deduped.count() == self.ND
        # every kept row is the ORIGINAL (lowest doc_id), never the copy
        kept_seq = F.substring_index("doc_id", "doc-", -1).cast("long")
        assert deduped.where(kept_seq >= 1_000_000).count() == 0

    def test_pipeline_dedup_metrics_and_counts(
        self, spark, base, with_dups, tmp_path_factory
    ):
        wh = str(tmp_path_factory.mktemp("wh_dedup"))
        pipe = NorthStarPipeline(spark, wh, dedup="exact")
        m = pipe.run(with_dups, input_fingerprint="dup-run")
        assert m["input_rows"] == 2 * self.ND
        assert m["rows"] == self.ND
        assert m["duplicates_dropped"] == self.ND
        # per-sink counts equal the duplicate-free input routed directly
        dim = source_dim(spark)
        direct = {
            r["sink"]: r["n"]
            for r in base.join(F.broadcast(dim), "source")
            .groupBy("sink").agg(F.count("*").alias("n")).collect()
        }
        assert m["per_sink_counts"] == direct
        # key chain committed: one 16-byte pair per surviving row
        keys = pipe.catalog.read(spark, "dedup_keys")
        assert keys.count() == self.ND
        assert keys.columns == ["__h1", "__h2"]

    def test_dedup_config_does_not_resume_across_modes(
        self, spark, with_dups, tmp_path_factory
    ):
        wh = str(tmp_path_factory.mktemp("wh_dedup_fp"))
        plain = NorthStarPipeline(spark, wh)
        m1 = plain.run(with_dups, input_fingerprint="same-fp")
        assert m1["rows"] == 2 * self.ND
        deduping = NorthStarPipeline(spark, wh, dedup="exact")
        m2 = deduping.run(with_dups, input_fingerprint="same-fp")
        assert m2["resumed"] == []
        assert m2["rows"] == self.ND

    def test_increments_dedup_against_committed_chain(
        self, spark, tmp_path_factory
    ):
        """Increment 2 re-ships increment 1's content under new doc_ids:
        the anti-join against the dedup_keys chain must drop it all."""
        wh = str(tmp_path_factory.mktemp("wh_dedup_inc"))
        pipe = NorthStarPipeline(spark, wh, dedup="exact")
        h1 = synth_tokens(spark, 800, seed=13)
        h2 = synth_tokens(spark, 800, seed=13, id_offset=800)
        m1 = pipe.run_increment(h1, "inc1")
        assert m1["delta_rows"] == 800
        m2 = pipe.run_increment(h2.unionByName(_shift_doc_ids(h1)), "inc2")
        assert m2["delta_rows"] == 800          # h1 copies all dropped
        assert m2["rows"] == 1_600              # cumulative, duplicate-free
        # key chain covers both increments
        assert pipe.catalog.read(spark, "dedup_keys").count() == 1_600
        # rerunning a committed increment is a no-op (keys not re-appended)
        again = pipe.run_increment(h2.unionByName(_shift_doc_ids(h1)), "inc2")
        assert sorted(again["resumed"]) == ["aggregate", "route"]
        assert pipe.catalog.read(spark, "dedup_keys").count() == 1_600


class TestQuarantine:
    """Dead-letter routing (quarantine=True): rows that fail parse or
    enrich land in the sink_quarantine partition with an error_reason,
    aggregates exclude them via a partition-pruned sink filter, and
    clean rows are byte-identical to a quarantine-off run."""

    NCLEAN = 200
    BAD = [
        ("corrupt-line-###", [1, 2, 3], 3, "src00"),
        ("src00/part-0001/doc-000000000001", [4, 5], 2, "src01"),
        ("src99/part-0002/doc-000000000002", [6], 1, "src99"),
    ]
    REASONS = {
        "corrupt-line-###": "unparseable_doc_id",
        "src00/part-0001/doc-000000000001": "source_mismatch",
        "src99/part-0002/doc-000000000002": "unknown_source",
    }

    def _dirty(self, spark):
        clean = synth_tokens(spark, self.NCLEAN, seed=SEED)
        bad = spark.createDataFrame(
            self.BAD, "doc_id string, tokens array<int>, n_tok int, source string"
        )
        return clean.unionByName(bad)

    @pytest.fixture(scope="class")
    def qrun(self, spark, tmp_path_factory):
        wh = str(tmp_path_factory.mktemp("wh_dlq"))
        pipe = NorthStarPipeline(spark, wh, quarantine=True)
        metrics = pipe.run(self._dirty(spark), input_fingerprint="dlq-batch")
        return pipe, metrics

    def test_bad_rows_quarantined_with_reasons(self, qrun):
        from qsvspark.pipeline.northstar import QUARANTINE_SINK

        pipe, metrics = qrun
        assert metrics["quarantined"] == len(self.BAD)
        q = pipe.routed().where(F.col("sink") == QUARANTINE_SINK)
        assert {r["doc_id"]: r["error_reason"] for r in q.collect()} == self.REASONS

    def test_clean_rows_routed_normally(self, spark, qrun):
        from qsvspark.pipeline.northstar import QUARANTINE_SINK

        pipe, metrics = qrun
        clean = pipe.routed().where(F.col("sink") != QUARANTINE_SINK)
        assert clean.where(F.col("error_reason").isNotNull()).count() == 0
        direct = {
            r["sink"]: r["n"]
            for r in synth_tokens(spark, self.NCLEAN, seed=SEED)
            .join(F.broadcast(source_dim(spark)), "source")
            .groupBy("sink").agg(F.count("*").alias("n")).collect()
        }
        observed = dict(metrics["per_sink_counts"])
        assert observed.pop(QUARANTINE_SINK) == len(self.BAD)
        assert observed == direct

    @pytest.mark.parametrize("doc_id", OVERFLOW_IDS, ids=["shard", "seq"])
    def test_out_of_range_id_is_quarantined(self, spark, tmp_path, doc_id):
        # under ANSI mode a plain cast of either number fails the whole run
        rows = [(doc_id, [1, 2], 2, "src01"), ("src01/part-0001/doc-000000000001", [3], 1, "src01")]
        df = spark.createDataFrame(rows, "doc_id string, tokens array<int>, n_tok int, source string")
        pipe = NorthStarPipeline(spark, str(tmp_path), quarantine=True)
        metrics = pipe.run(df, input_fingerprint="overflow")
        assert metrics["quarantined"] == 1
        assert [tuple(r) for r in pipe.routed().select("doc_id", "error_reason")
                .where(F.col("error_reason").isNotNull()).collect()] == [
            (doc_id, "unparseable_doc_id")
        ]

    def test_aggregates_exclude_quarantine(self, qrun):
        from qsvspark.pipeline.northstar import QUARANTINE_SINK

        pipe, _ = qrun
        aggs = pipe.aggregates()
        assert aggs.where(F.col("sink") == QUARANTINE_SINK).count() == 0
        total = aggs.agg(F.sum("seq_count").alias("n")).collect()[0]["n"]
        assert total == self.NCLEAN

    def test_quarantine_filter_is_partition_pruned(self, qrun):
        from qsvspark.pipeline.northstar import QUARANTINE_SINK

        pipe, _ = qrun
        clean = pipe.routed().where(F.col("sink") != QUARANTINE_SINK)
        plan = clean._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            clean._jdf.queryExecution(), "formatted"
        )
        # the sink predicate must resolve against partition directories,
        # not as a post-scan data filter
        assert "PartitionFilters" in plan
        seg = plan[plan.index("PartitionFilters"):]
        assert "sink" in seg.splitlines()[0]

    def test_increment_path_quarantines_and_excludes(
        self, spark, tmp_path_factory
    ):
        wh = str(tmp_path_factory.mktemp("wh_dlq_inc"))
        pipe = NorthStarPipeline(spark, wh, quarantine=True)
        m1 = pipe.run_increment(self._dirty(spark), "inc1")
        assert m1["quarantined"] == len(self.BAD)
        m2 = pipe.run_increment(
            _shift_doc_ids(synth_tokens(spark, 100, seed=SEED + 1)), "inc2"
        )
        assert m2["quarantined"] == 0
        total = (
            pipe.aggregates().agg(F.sum("seq_count").alias("n")).collect()[0]["n"]
        )
        assert total == self.NCLEAN + 100

    def test_off_by_default_schema_unchanged(self, spark, tmp_path_factory):
        wh = str(tmp_path_factory.mktemp("wh_dlq_off"))
        pipe = NorthStarPipeline(spark, wh)
        pipe.run(synth_tokens(spark, 50, seed=SEED), input_fingerprint="clean")
        assert "error_reason" not in pipe.routed().columns


class TestQuarantineRedrive:
    """redrive_quarantine: after the cause is fixed, quarantined rows
    re-route atomically via the catalog's dynamic partition overwrite —
    newly-clean rows join their real sinks and the aggregates, still-bad
    rows remain quarantined, committed clean data is never rewritten."""

    NCLEAN = 200
    BAD = TestQuarantine.BAD  # one of each error_reason

    def _fixed_dim(self, spark):
        # the unknown_source row ('src99') becomes routable
        return source_dim(spark).unionByName(
            spark.createDataFrame(
                [("src99", "sink_1", "web", 0.5)],
                "source string, sink string, category string, "
                "quality_weight double",
            )
        )

    @pytest.fixture(scope="class")
    def redriven(self, spark, tmp_path_factory):
        wh = str(tmp_path_factory.mktemp("wh_redrive"))
        pipe = NorthStarPipeline(spark, wh, quarantine=True)
        clean = synth_tokens(spark, self.NCLEAN, seed=SEED)
        bad = spark.createDataFrame(
            self.BAD, "doc_id string, tokens array<int>, n_tok int, source string"
        )
        pipe.run(clean.unionByName(bad), input_fingerprint="rd-batch")
        metrics = pipe.redrive_quarantine("rd-fix", dim=self._fixed_dim(spark))
        return pipe, metrics

    def test_fixed_row_moves_still_bad_stays(self, redriven):
        from qsvspark.pipeline.northstar import QUARANTINE_SINK

        pipe, m = redriven
        assert m["redriven"] == 1
        assert m["still_quarantined"] == 2
        q = pipe.routed().where(F.col("sink") == QUARANTINE_SINK)
        assert sorted(r["error_reason"] for r in q.collect()) == [
            "source_mismatch", "unparseable_doc_id",
        ]
        moved = pipe.routed().where(F.col("source") == "src99")
        assert moved.count() == 1
        assert moved.collect()[0]["sink"] == "sink_1"

    def test_no_duplication_across_chain(self, redriven):
        pipe, m = redriven
        assert pipe.routed().count() == self.NCLEAN + len(self.BAD)
        assert m["rows"] == self.NCLEAN + len(self.BAD)
        assert (
            pipe.routed().select("doc_id").distinct().count()
            == self.NCLEAN + len(self.BAD)
        )

    def test_aggregates_gain_only_redriven_rows(self, redriven):
        pipe, _ = redriven
        total = pipe.aggregates().agg(F.sum("seq_count").alias("n")).collect()[0]["n"]
        assert total == self.NCLEAN + 1

    def test_redrive_is_resumable(self, spark, redriven):
        pipe, _ = redriven
        again = pipe.redrive_quarantine("rd-fix", dim=self._fixed_dim(spark))
        assert "redrive" in again["resumed"]
        assert "aggregate" in again["resumed"]

    def test_noop_without_quarantined_rows(self, spark, tmp_path_factory):
        wh = str(tmp_path_factory.mktemp("wh_redrive_noop"))
        pipe = NorthStarPipeline(spark, wh, quarantine=True)
        pipe.run(synth_tokens(spark, 50, seed=SEED), input_fingerprint="cl")
        before = pipe.catalog.current_snapshot("routed")
        m = pipe.redrive_quarantine("rd-none")
        assert m["redriven"] == 0 and m["still_quarantined"] == 0
        # no snapshot committed for a no-op
        assert pipe.catalog.current_snapshot("routed") == before

    def test_requires_quarantine_mode(self, spark, tmp_path_factory):
        wh = str(tmp_path_factory.mktemp("wh_redrive_req"))
        pipe = NorthStarPipeline(spark, wh)
        with pytest.raises(ValueError, match="quarantine=True"):
            pipe.redrive_quarantine("x")


class TestPurgeDocs:
    """purge_docs: takedown of a doc_id list via merge-on-read equality
    delete on the routed table plus an exact aggregate fix-up computed
    from the pre-delete snapshot (crash-safe resume)."""

    N = 300

    @pytest.fixture(scope="class")
    def purged(self, spark, tmp_path_factory):
        wh = str(tmp_path_factory.mktemp("wh_purge"))
        pipe = NorthStarPipeline(spark, wh)
        tok = synth_tokens(spark, self.N, seed=21)
        pipe.run(tok, input_fingerprint="p1")
        victims = tok.limit(5).select("doc_id")
        victim_ids = [r.doc_id for r in victims.collect()]
        metrics = pipe.purge_docs(victims, "take-1")
        return pipe, tok, victim_ids, metrics

    def test_rows_deleted_without_rewrite(self, spark, purged):
        pipe, _, victim_ids, m = purged
        assert m["deleted"] == 5
        assert pipe.routed().count() == self.N - 5
        assert pipe.routed().where(F.col("doc_id").isin(victim_ids)).count() == 0
        # merge-on-read: the original routed data files were not touched
        dm = pipe.catalog.manifest("routed")
        assert dm["row_count"] == 0 and dm["equality_delete_cols"] == ["doc_id"]

    def test_aggregates_match_recompute_over_survivors(self, spark, purged):
        pipe, tok, victim_ids, _ = purged
        direct = aggregate_stage(
            enrich_stage(
                parse_stage(tok.where(~F.col("doc_id").isin(victim_ids))),
                source_dim(spark),
            )
        )
        got = {tuple(r[:3]): tuple(r[3:]) for r in pipe.aggregates().collect()}
        want = {tuple(r[:3]): tuple(r[3:]) for r in direct.collect()}
        assert got == want

    def test_purge_is_resumable(self, purged):
        pipe, tok, _, _ = purged
        again = pipe.purge_docs(tok.limit(5).select("doc_id"), "take-1")
        assert "delete" in again["resumed"]
        assert "aggregate" in again["resumed"]

    def test_purged_content_stays_deduped(self, spark, tmp_path_factory):
        """Takedown semantics with dedup: deleting a doc does NOT free its
        content key — a re-shipped copy is still dropped."""
        wh = str(tmp_path_factory.mktemp("wh_purge_dedup"))
        pipe = NorthStarPipeline(spark, wh, dedup="exact")
        h1 = synth_tokens(spark, 100, seed=31)
        pipe.run_increment(h1, "inc1")
        victims = h1.limit(3).select("doc_id")
        pipe.purge_docs(victims, "take-d")
        assert pipe.routed().count() == 97
        # re-ship the whole batch under fresh doc_ids: all 100 are dups
        m = pipe.run_increment(_shift_doc_ids(h1), "inc2")
        assert m["delta_rows"] == 0
        assert pipe.routed().count() == 97


class TestPurgeQuarantineInterplay:
    def test_purging_a_quarantined_doc_is_safe(self, spark, tmp_path_factory):
        """Purging doc_ids that include a QUARANTINED row must remove it
        from the routed table without corrupting the aggregates (the
        quarantined row was never aggregated; its negative group falls
        out of the merge)."""
        from qsvspark.pipeline.northstar import QUARANTINE_SINK

        wh = str(tmp_path_factory.mktemp("wh_pq"))
        pipe = NorthStarPipeline(spark, wh, quarantine=True)
        clean = synth_tokens(spark, 150, seed=51)
        bad_id = "src99/part-0001/doc-000000000777"
        bad = spark.createDataFrame(
            [(bad_id, [1, 2], 2, "src99")],
            "doc_id string, tokens array<int>, n_tok int, source string",
        )
        pipe.run(clean.unionByName(bad), input_fingerprint="pq1")

        victims = [r.doc_id for r in clean.limit(2).collect()] + [bad_id]
        m = pipe.purge_docs(
            spark.createDataFrame([(v,) for v in victims], "doc_id string"),
            "pq-take",
        )
        assert m["deleted"] == 3
        assert pipe.routed().count() == 148
        assert (
            pipe.routed().where(F.col("sink") == QUARANTINE_SINK).count() == 0
        )
        # aggregates: 150 clean were aggregated, 2 clean purged → 148;
        # the quarantined doc never contributed
        total = pipe.aggregates().agg(
            F.sum("seq_count").alias("n")).collect()[0]["n"]
        assert total == 148
        assert pipe.aggregates().where(F.col("seq_count") <= 0).count() == 0


class TestDecontaminate:
    """Token-level benchmark decontamination: map-only arrays_overlap
    probe against a broadcast benchmark gram set."""

    N_GRAM = 4

    @pytest.fixture(scope="class")
    def corpus(self, spark):
        rows = [
            (0, [1, 2, 3, 4, 5, 6]),        # contains bench window 3,4,5,6
            (1, [9, 9, 9, 9]),              # clean
            (2, [3, 4, 5, 7, 8, 9]),        # shares only a 3-run: below n
            (3, [10, 3, 4, 5, 6, 11]),      # bench window mid-sequence
            (4, [1, 2]),                    # shorter than n: no grams
        ]
        return spark.createDataFrame(rows, "doc_id long, tokens array<int>")

    @pytest.fixture(scope="class")
    def bench(self, spark):
        return spark.createDataFrame(
            [(100, [3, 4, 5, 6])], "doc_id long, tokens array<int>"
        )

    def test_drops_exact_window_matches_only(self, corpus, bench):
        from qsvspark.pipeline import decontaminate_stage

        kept = sorted(
            r["doc_id"]
            for r in decontaminate_stage(corpus, bench, n=self.N_GRAM).collect()
        )
        # 0 and 3 contain the full 4-token bench window; 2 shares only a
        # 3-token run; 4 has no grams at all
        assert kept == [1, 2, 4]

    def test_empty_benchmark_keeps_everything(self, spark, corpus):
        from qsvspark.pipeline import decontaminate_stage

        empty = spark.createDataFrame([], "doc_id long, tokens array<int>")
        assert decontaminate_stage(corpus, empty, n=self.N_GRAM).count() == 5

    def test_plan_is_broadcast_probe(self, corpus, bench):
        # both joins must resolve to broadcasts (bench grams by hint,
        # matched ids by AQE) — corpus rows never cross a shuffle; a
        # SortMergeJoin anywhere means the corpus got sorted/exchanged
        from qsvspark.pipeline import decontaminate_stage

        out = decontaminate_stage(corpus, bench, n=self.N_GRAM)
        out.collect()  # let AQE finalize
        plan = out._jdf.queryExecution().executedPlan().toString()
        # AdaptiveSparkPlan.toString appends the pre-AQE "Initial Plan"
        # (which legitimately carries the SMJ placeholder) — assert on
        # the Final Plan section only
        final = plan.split("== Initial Plan ==")[0]
        assert "BroadcastHashJoin" in final
        assert "SortMergeJoin" not in final

    def test_broadcast_guard_over_threshold(self, spark, corpus, bench):
        """VERDICT r4 #3: past max_broadcast_bytes the explicit hint is
        dropped (Spark honors hints regardless of size — an oversized
        benchmark would hit the 8 GB cap / driver OOM, not degrade);
        the un-hinted semi-join is observable as a shuffle join once
        auto-broadcast is disabled, and output is identical."""
        from qsvspark.pipeline import decontaminate_stage

        want = sorted(
            r["doc_id"]
            for r in decontaminate_stage(corpus, bench, n=self.N_GRAM).collect()
        )
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            out = decontaminate_stage(
                corpus, bench, n=self.N_GRAM, max_broadcast_bytes=1
            )
            got = sorted(r["doc_id"] for r in out.collect())
            plan = out._jdf.queryExecution().executedPlan().toString()
            final = plan.split("== Initial Plan ==")[0]
            assert "BroadcastHashJoin LeftSemi" not in final
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        assert got == want

    def test_synth_tokens_self_decontaminate(self, spark):
        # a benchmark drawn from the corpus itself must remove at least
        # its own members; disjoint-seed corpus keeps everything (xxhash
        # windows of random 50k-vocab tokens essentially never collide)
        from qsvspark.pipeline import decontaminate_stage

        corp = synth_tokens(spark, 300, seed=5)
        # synth doc_id is a string path; pick a deterministic ~2% slice
        bench = corp.where("doc_id LIKE '%00'")
        out = decontaminate_stage(corp, bench, n=8)
        bench_ids = {r["doc_id"] for r in bench.select("doc_id").collect()}
        kept = {r["doc_id"] for r in out.select("doc_id").collect()}
        assert kept.isdisjoint(bench_ids)
        assert len(kept) >= 300 - len(bench_ids) - 5


class TestPackSinks:
    """pack_sinks: routed docs laid out as fixed-length training
    sequences, greedy no-split, never mixing sinks in one sequence."""

    SEQ_LEN = 1024

    @pytest.fixture(scope="class")
    def pipe(self, spark, tmp_path_factory):
        from qsvspark.pipeline import NorthStarPipeline

        wh = str(tmp_path_factory.mktemp("packwh"))
        p = NorthStarPipeline(spark, wh)
        p.run(synth_tokens(spark, 3000, seed=21), input_fingerprint="pack-test")
        m = p.pack_sinks(seq_len=self.SEQ_LEN)
        assert m is not None
        return p

    def test_every_routed_doc_packed_once(self, pipe):
        from qsvspark.pipeline import QUARANTINE_SINK

        packed = pipe.catalog.read(pipe.spark, "packed")
        routed = pipe.routed().where(f"sink != '{QUARANTINE_SINK}'")
        assert packed.count() == routed.count()
        assert packed.select("doc_id").distinct().count() == routed.count()

    def test_sequences_respect_seq_len_and_sink(self, pipe):
        rows = pipe.catalog.read(pipe.spark, "packed").collect()
        by_seq: dict = {}
        for r in rows:
            by_seq.setdefault(r["seq_id"], []).append(r)
        assert by_seq
        for docs in by_seq.values():
            assert len({d["sink"] for d in docs}) == 1  # never mixes sinks
            if any(d["oversized"] for d in docs):
                assert len(docs) == 1
            else:
                assert sum(d["n_tok"] for d in docs) <= self.SEQ_LEN

    def test_resume_is_noop_and_new_seq_len_repacks(self, pipe):
        assert pipe.pack_sinks(seq_len=self.SEQ_LEN) is None  # committed
        assert pipe.pack_sinks(seq_len=512) is not None  # new layout

    def test_split_policy_is_separate_layout(self, pipe):
        m = pipe.pack_sinks(seq_len=self.SEQ_LEN, oversized="split")
        assert m is not None  # distinct fingerprint from the "own" layout
        assert pipe.pack_sinks(seq_len=self.SEQ_LEN, oversized="split") is None


def _assert_sequences_token_exact_vs_packed(pipe, seq_len, pad):
    """Rebuild every committed sequence from its own layout (``parts``,
    read flat through ``sequence_layout``) + the routed docs and compare
    token arrays row by row."""
    from qsvspark.functions.packing import sequence_layout
    from qsvspark.pipeline import QUARANTINE_SINK

    seqs = pipe.catalog.read(pipe.spark, "sequences")
    layout = sequence_layout(seqs).collect()
    docs = {
        r["doc_id"]: r["tokens"]
        for r in pipe.routed()
        .where(f"sink != '{QUARANTINE_SINK}'")
        .select("doc_id", "tokens")
        .collect()
    }
    # rebuild every sequence from the committed layout + routed docs
    by_seq: dict = {}
    for r in layout:
        by_seq.setdefault(r["seq_id"], []).append(r)
    got = {r["seq_id"]: r for r in seqs.collect()}
    assert sorted(got) == sorted(by_seq)
    for sid, rows in by_seq.items():
        rows.sort(key=lambda r: r["seq_fill"])
        toks: list = []
        for r in rows:
            toks.extend(
                docs[r["doc_id"]][r["part_start"]: r["part_start"] + r["part_len"]]
            )
        g = got[sid]
        assert g["n_tokens"] == len(toks)
        assert g["tokens"] == toks + [pad] * (seq_len - len(toks))
        assert len(g["tokens"]) == seq_len  # no routed doc exceeds seq_len
        assert g["pad"] == seq_len - len(toks)
        assert {r["sink"] for r in rows} == {g["sink"]}  # purity


class TestPackSinksMaterialize:
    """pack_sinks(materialize=True): the physical sequence table — the
    north-star deliverable (VERDICT r4 #4). Per-row token-array equality
    against the routed docs, padding to exactly seq_len, sink purity,
    resume no-op."""

    SEQ_LEN = 512
    PAD = 0

    @pytest.fixture(scope="class")
    def pipe(self, spark, tmp_path_factory):
        from qsvspark.pipeline import NorthStarPipeline

        wh = str(tmp_path_factory.mktemp("seqwh"))
        p = NorthStarPipeline(spark, wh)
        p.run(synth_tokens(spark, 2000, seed=33), input_fingerprint="seq-test")
        m = p.pack_sinks(
            seq_len=self.SEQ_LEN, oversized="split",
            materialize=True, pad_id=self.PAD,
        )
        assert m is not None and m["table"] == "sequences"
        return p

    def test_sequences_token_exact_vs_routed(self, pipe):
        _assert_sequences_token_exact_vs_packed(pipe, self.SEQ_LEN, self.PAD)

    def test_token_conservation(self, pipe):
        from pyspark.sql import functions as F  # noqa: PLC0415

        from qsvspark.pipeline import QUARANTINE_SINK

        seqs = pipe.catalog.read(pipe.spark, "sequences")
        total = seqs.agg(F.sum("n_tokens")).first()[0]
        routed_total = (
            pipe.routed()
            .where(f"sink != '{QUARANTINE_SINK}'")
            .agg(F.sum("n_tok"))
            .first()[0]
        )
        assert total == routed_total

    def test_materialize_resume_is_noop(self, pipe):
        assert (
            pipe.pack_sinks(
                seq_len=self.SEQ_LEN, oversized="split",
                materialize=True, pad_id=self.PAD,
            )
            is None
        )


class TestPackSinksLayoutThenMaterialize:
    """pack_sinks() then pack_sinks(materialize=True): each call writes
    its own table. The second writes ``sequences`` only; the ``packed``
    snapshot the first committed stays CURRENT and untouched."""

    SEQ_LEN = 512
    PAD = 0

    @pytest.fixture(scope="class")
    def pipe(self, spark, tmp_path_factory):
        from qsvspark.pipeline import NorthStarPipeline

        wh = str(tmp_path_factory.mktemp("layoutseqwh"))
        p = NorthStarPipeline(spark, wh)
        p.run(synth_tokens(spark, 1500, seed=35), input_fingerprint="layout-seq-test")
        first = p.pack_sinks(seq_len=self.SEQ_LEN)
        assert first is not None and first["table"] == "packed"
        m = p.pack_sinks(seq_len=self.SEQ_LEN, materialize=True, pad_id=self.PAD)
        assert m is not None and m["table"] == "sequences"
        p.first_packed = first
        return p

    def test_sequences_token_exact_vs_packed(self, pipe):
        _assert_sequences_token_exact_vs_packed(pipe, self.SEQ_LEN, self.PAD)

    def test_earlier_packed_stays_current_and_untouched(self, pipe):
        first = pipe.first_packed
        assert pipe.catalog._snaps("packed") == [first["snapshot"]]
        assert pipe.catalog.current_snapshot("packed") == first["snapshot"]
        assert pipe.catalog.manifest("packed") == first

    @staticmethod
    def _forbid_routed_read(pipe, monkeypatch):
        def routed():
            raise AssertionError("resume read the routed table")

        monkeypatch.setattr(pipe, "routed", routed)

    def test_resume_is_noop_both_ways(self, pipe, monkeypatch):
        # nothing to pack: the routed snapshot chain is never resolved
        self._forbid_routed_read(pipe, monkeypatch)
        assert pipe.pack_sinks(seq_len=self.SEQ_LEN) is None
        assert (
            pipe.pack_sinks(seq_len=self.SEQ_LEN, materialize=True, pad_id=self.PAD)
            is None
        )


class TestPackSinksStagedCommit:
    """pack_sinks(materialize=True) commits the files its packing tasks
    write: one Spark job, only ``sequences`` committed, a stray file in
    the staging directory is never committed, null sinks land where
    Spark's writer puts them, and the manifest stores the schema a Spark
    write of the same rows stores."""

    SEQ_LEN = 256
    PAD = 0
    # unknown sources: with quarantine off they route with a null sink
    UNKNOWN = [
        (f"src99/part-0002/doc-{i:012d}", list(range(i, i + 40 + 9 * i)), 40 + 9 * i, "src99")
        for i in range(12)
    ]

    @pytest.fixture(scope="class")
    def packed(self, spark, tmp_path_factory, count_jobs):
        import shutil

        wh = str(tmp_path_factory.mktemp("stagedwh"))
        pipe = NorthStarPipeline(spark, wh)
        unknown = spark.createDataFrame(
            self.UNKNOWN, "doc_id string, tokens array<int>, n_tok int, source string"
        )
        pipe.run(synth_tokens(spark, 600, seed=51).unionByName(unknown), "staged")
        real_move = pipe.catalog._move_reported
        staging_dirs = []

        def move_with_stray(spark_, reported, data_dir, partition_by):
            # the driver-side step that moves the reported files: drop a
            # well-formed file of the table's own schema, reported by no
            # task, next to them first; only reported files may move
            path = reported[0]["path"]
            staging_dirs.append(os.path.dirname(path))
            shutil.copy(path, os.path.join(os.path.dirname(path), "part-stray.parquet"))
            return real_move(spark_, reported, data_dir, partition_by)

        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(pipe.catalog, "_move_reported", move_with_stray)
            m, jobs = count_jobs(lambda: pipe.pack_sinks(
                seq_len=self.SEQ_LEN, materialize=True, pad_id=self.PAD
            ))
        assert m is not None and m["table"] == "sequences"
        return pipe, m, jobs, staging_dirs

    def _emitted(self, pipe):
        from qsvspark.functions.packing import pack_greedy_sequences

        return pack_greedy_sequences(
            pipe.routed(), "n_tok", "doc_id", self.SEQ_LEN, group_cols=["sink"],
            pad_id=self.PAD,
        )

    def test_one_spark_job_commits_only_sequences(self, packed):
        pipe, _m, jobs, _dirs = packed
        assert jobs == 1
        tables = os.listdir(pipe.catalog.root)
        assert "sequences" in tables and "packed" not in tables

    def test_stray_staged_file_never_committed(self, spark, packed):
        from qsvspark.functions.packing import sequence_layout

        pipe, m, _jobs, staging_dirs = packed
        assert len(set(staging_dirs)) == 1
        assert not os.path.exists(staging_dirs[0])
        files = pipe.catalog.data_files("sequences")
        assert files and not any("stray" in f["path"] for f in files)
        seqs = pipe.catalog.read(spark, "sequences")
        assert seqs.count() == m["row_count"] == self._emitted(pipe).count()
        assert sequence_layout(seqs).count() == pipe.routed().count()

    def test_null_sink_lands_in_default_partition_token_exact(self, spark, packed):
        from qsvspark.functions.packing import sequence_layout

        pipe, m, _jobs, _dirs = packed
        default = "__HIVE_DEFAULT_PARTITION__"
        data = os.path.join(pipe.catalog.root, "sequences", m["snapshot"], "data")
        assert os.listdir(os.path.join(data, f"sink={default}"))
        assert m["partition_counts"][default] > 0
        # collected one side at a time: seq ids carry the task's partition
        # id, which a plan joining both sides (exceptAll) would renumber
        emitted = self._emitted(pipe)
        want = {r["seq_id"]: r for r in emitted.collect()}
        committed = pipe.catalog.read(spark, "sequences")
        got = {r["seq_id"]: r for r in committed.select(*emitted.columns).collect()}
        assert any(r["sink"] is None for r in got.values())
        assert got == want
        null_parts = sequence_layout(committed).where("sink IS NULL")
        assert null_parts.count() == len(self.UNKNOWN)

    def test_manifest_schemas_equal_spark_write(self, spark, packed, tmp_path):
        from qsvspark.io.snapshot import SnapshotCatalog

        pipe, m, _jobs, _dirs = packed
        want = SnapshotCatalog(str(tmp_path)).write(
            self._emitted(pipe), "sequences", partition_by="sink", count_by="sink"
        )
        assert m["schema"] == want["schema"]
        assert m["partition_counts"] == want["partition_counts"]
        assert m["row_count"] == want["row_count"]


class TestCheckpointedStages:
    """Every entry point commits through one checkpointed-stage helper:
    run and run_increment record the same routed lineage, a rerun of a
    committed run reads no snapshot data, and the input fingerprints a
    warehouse was committed under stay exactly as they were, so it still
    resumes."""

    ROUTED_STAGES = {
        None: ["parse", "enrich", "route"],
        "exact": ["parse", "dedup", "enrich", "route"],
    }

    @pytest.fixture(scope="class", params=[None, "exact"], ids=["dedup-off", "dedup-exact"])
    def committed(self, request, spark, tmp_path_factory):
        wh = str(tmp_path_factory.mktemp("wh_stages"))
        pipe = NorthStarPipeline(spark, wh, dedup=request.param)
        base = synth_tokens(spark, 200, seed=41)
        inc = synth_tokens(spark, 100, seed=42, id_offset=200)
        pipe.run(base, "stages-base")
        run_snap = pipe.catalog.current_snapshot("routed")
        pipe.run_increment(inc, "stages-inc")
        inc_snap = pipe.catalog.current_snapshot("routed")
        return pipe, base, inc, {"run": run_snap, "run_increment": inc_snap}

    @pytest.mark.parametrize("entry", ["run", "run_increment"])
    def test_routed_lineage_stages(self, committed, entry):
        pipe, _, _, snaps = committed
        lineage = pipe.catalog.manifest("routed", snaps[entry])["lineage"]
        assert lineage["stages"] == self.ROUTED_STAGES[pipe.dedup]

    def test_committed_rerun_reads_nothing(self, committed, monkeypatch):
        pipe, base, inc, _ = committed

        def no_read(*args, **kwargs):
            raise AssertionError("resume read a snapshot")

        monkeypatch.setattr(pipe.catalog, "read", no_read)
        monkeypatch.setattr(pipe.catalog, "read_parts", no_read)
        assert set(pipe.run(base, "stages-base")["resumed"]) == {"route", "aggregate"}
        again = pipe.run_increment(inc, "stages-inc")
        assert set(again["resumed"]) == {"route", "aggregate"}

    @staticmethod
    def _fingerprints(pipe, table):
        cat = pipe.catalog
        return [cat.manifest(table, s)["input_fingerprint"] for s in cat._snaps(table)]

    def test_fingerprints_unchanged(self, spark, tmp_path_factory):
        pipe = NorthStarPipeline(
            spark, str(tmp_path_factory.mktemp("wh_fp")), dedup="exact"
        )
        tok = synth_tokens(spark, 200, seed=43)
        pipe.run(tok, "fp")
        pipe.run_increment(synth_tokens(spark, 100, seed=44, id_offset=200), "inc")
        pipe.purge_docs(tok.limit(3).select("doc_id"), "take")
        pipe.pack_sinks(seq_len=64)
        pipe.pack_sinks(seq_len=64, oversized="split", materialize=True, pad_id=0)
        cfg = "parse=native|bw=64|k=20|s=4|dedup=exact"
        assert self._fingerprints(pipe, "packed") == [
            f"take|purge|{cfg}|pack|seq_len=64",
        ]
        assert self._fingerprints(pipe, "sequences") == [
            f"take|purge|{cfg}|pack|seq_len=64|ov=split|sequences|pad=0",
        ]
        assert self._fingerprints(pipe, "routed") == [
            "fp|route|parse=native|bw=64|k=20|s=4|dedup=exact",
            f"inc|route-increment|{cfg}",
            f"take|purge|{cfg}",
        ]
        assert self._fingerprints(pipe, "dedup_keys") == [
            "fp|route|parse=native|bw=64|k=20|s=4|dedup=exact|dedup-keys",
            f"inc|route-increment|{cfg}|dedup-keys",
        ]
        assert self._fingerprints(pipe, "aggregates") == [
            f"fp|aggregate|salted=False|sb=0|{cfg}",
            f"inc|aggregate-increment|mode=merge|{cfg}",
            f"take|aggregate-purge|{cfg}",
        ]

        q = NorthStarPipeline(
            spark, str(tmp_path_factory.mktemp("wh_fp_dlq")), quarantine=True,
        )
        q.run(TestQuarantine()._dirty(spark), "q")
        q.redrive_quarantine("rd", dim=TestQuarantineRedrive()._fixed_dim(spark))
        qcfg = "parse=native|bw=64|k=20|s=4|dedup=off|dlq=1"
        assert self._fingerprints(q, "routed") == [f"q|route|{qcfg}", f"rd|redrive|{qcfg}"]
        assert self._fingerprints(q, "aggregates") == [
            f"q|aggregate|salted=False|sb=0|{qcfg}",
            f"rd|aggregate-redrive|{qcfg}",
        ]
