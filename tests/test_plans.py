"""Physical-plan quality gates — the properties that make operators
survive a 100× scale-up. Each test pins a plan shape that a regression
(e.g. an expression change breaking pushdown, a join degrading to a
nested loop) would silently lose while row-level results stay correct.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from qsvspark import Q

SF = "/root/testdata/sf0.001"


def plan_of(df, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), mode
    )


@pytest.fixture(scope="module")
def lineitem(spark):
    return spark.read.parquet(os.path.join(SF, "lineitem.parquet"))


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(os.path.join(SF, "events.parquet"))


class TestPushdownAndPruning:
    def test_isin_numeric_reaches_parquet_scan(self, lineitem):
        """String-compare isin over an int column is rewritten to a
        native IN so the predicate lands in PushedFilters, pruning row
        groups at the scan instead of post-filtering every row."""
        plan = plan_of(Q(lineitem).isin("l_linenumber", ["1", "7"]).df)
        assert "PushedFilters: [In(l_linenumber" in plan

    def test_timeslice_typed_ts_pushdown(self, events):
        plan = plan_of(
            Q(events).timeslice("ts", start="2024-01-03 00:00:00",
                                end="2024-01-05 12:00:00").df
        )
        assert "GreaterThanOrEqual(ts" in plan and "LessThanOrEqual(ts" in plan

    def test_select_prunes_read_schema(self, lineitem):
        plan = plan_of(Q(lineitem).select("l_orderkey,l_returnflag").df)
        read = [l for l in plan.splitlines() if "ReadSchema" in l]
        assert read and "l_comment" not in read[0] and "l_quantity" not in read[0]

    def test_filters_stay_in_codegen(self, lineitem):
        # the `*` prefix marks operators inside a WholeStageCodegen span;
        # a regression to a non-codegen filter (e.g. a Python UDF sneaking
        # into the hot path) loses the star and adds a BatchEvalPython
        df = Q(lineitem).contains("l_returnflag", "A").df
        assert "* Filter" in plan_of(df)
        assert "Python" not in plan_of(df)


class TestJoinStrategies:
    def test_enrich_is_broadcast(self, spark, events):
        from qsvspark.pipeline.northstar import enrich_stage, parse_stage
        from qsvspark.pipeline.tokens import source_dim, synth_tokens

        tok = synth_tokens(spark, 100)
        plan = plan_of(enrich_stage(parse_stage(tok), source_dim(spark)))
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        # the doc_id parse runs in the JVM: no Python node on the route path
        for node in ("MapInArrow", "ArrowEvalPython", "BatchEvalPython"):
            assert node not in plan

    def test_lsh_near_dup_never_nested_loop(self, spark):
        from qsvspark.functions import embedding_near_dups_lsh

        emb = spark.read.parquet(os.path.join(SF, "embeddings.parquet"))
        plan = plan_of(embedding_near_dups_lsh(emb, threshold=0.5, dim=64))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_sort_head_is_take_ordered(self, lineitem):
        plan = plan_of(Q(lineitem).sort("l_extendedprice", desc=True).head(10).df)
        assert "TakeOrderedAndProject" in plan

    def test_tail_is_take_ordered_not_window(self, lineitem):
        """tail must never rank through an unpartitioned window (one
        executor ordering the whole table)."""
        plan = plan_of(Q(lineitem).tail(3).df)
        assert "TakeOrderedAndProject" in plan
        assert "Window" not in plan


class TestAggregation:
    def test_count_has_partial_aggregation(self, lineitem):
        plan = plan_of(Q(lineitem).select("l_returnflag").count().df, "simple")
        # two HashAggregates = map-side partial + final (heavy keys
        # collapse before the shuffle)
        assert plan.count("HashAggregate") >= 2


class TestSingleEvaluation:
    """Pin the projection boundaries that keep heavy array expressions
    evaluated once per row. If CollapseProject ever merges them (e.g. an
    alias becomes single-reference after a refactor, or the expressions
    are reordered), the shingle/word-hash work silently multiplies by
    num_hashes/bits — a 7-16x regression that row-level results never
    catch (measured: minhash 45s -> 3-7s, simhash 2.8x at sf0.01)."""

    def test_minhash_shingles_computed_once(self, spark):
        from qsvspark.functions import minhash_lsh_pairs

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        # oracle family: the DISTINCT shingle array must appear once, not
        # once per minhash lane
        plan = plan_of(minhash_lsh_pairs(docs, num_hashes=16, hash_fn="md5_60"),
                       "simple")
        assert plan.count("array_distinct") == 1
        # production family: normalization must run ONCE per row — an
        # inline norm inside the shingle transform's lambda would put a
        # second regexp_replace occurrence per element evaluation site;
        # and the multiset-min identity removes array_distinct entirely
        plan = plan_of(minhash_lsh_pairs(docs, num_hashes=16), "simple")
        assert plan.count("regexp_replace") == 1
        assert plan.count("array_distinct") == 0

    def test_simhash_word_hashes_computed_once(self, spark):
        from qsvspark.functions import simhash

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        plan = plan_of(simhash(docs).select("doc_id", "simhash"), "simple")
        # one word-hash transform feeding 64 vote aggregates
        assert plan.count("xxhash64") == 1

    def test_minhash_production_hashes_each_shingle_once(self, spark):
        """The xxhash64 family must hash each shingle ONCE and derive the
        num_hashes lanes via the affine permutation family — per-lane
        re-hashing (16 xxhash64 per shingle) is a 16× waste the plan
        would show as 16+ xxhash64 occurrences. The only xxhash64 calls
        allowed: 1 in the staged shingle-hash array + 1 per band bucket."""
        from qsvspark.functions import minhash_lsh_pairs

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        plan = plan_of(minhash_lsh_pairs(docs, num_hashes=16, bands=4), "simple")
        assert plan.count("xxhash64") == 1 + 4

    def test_lsh_pair_expansion_single_shuffle(self, spark):
        from qsvspark.functions import minhash_lsh_pairs

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        plan = plan_of(minhash_lsh_pairs(docs, num_hashes=16), "simple")
        # in-bucket combination expansion: no join operator anywhere
        assert "Join" not in plan


class TestPipelineDedupPlan:
    def test_dedup_keep_first_has_map_side_group_limit(self, spark):
        """The keep-first window (row_number == 1) must compile to a
        WindowGroupLimit BELOW the exchange: each map task emits one local
        candidate per content key before shuffling, so a duplicate-heavy
        corpus shuffles O(distinct × tasks), not O(rows)."""
        from qsvspark.pipeline.northstar import dedup_stage, parse_stage
        from qsvspark.pipeline.tokens import synth_tokens

        df = dedup_stage(parse_stage(synth_tokens(spark, 100, seed=3)))
        plan = plan_of(df)
        assert "WindowGroupLimit" in plan
        first_limit = plan.index("WindowGroupLimit")
        assert "Exchange" in plan[:first_limit] or "Exchange" in plan
        # the PARTIAL group-limit must appear upstream of (after, in
        # bottom-up formatted order: with a larger node id than) the
        # shuffle — cheap proxy: two WindowGroupLimit nodes (partial+final)
        assert plan.count("WindowGroupLimit") >= 2

    def test_cross_increment_anti_join_is_hash_join(self, spark):
        """The dedup_keys anti-join must stay a hash/sort-merge join on
        the 16-byte key pair — never a nested loop."""
        from qsvspark.pipeline.northstar import dedup_key, dedup_stage, parse_stage
        from qsvspark.pipeline.tokens import synth_tokens

        prev = dedup_key(
            synth_tokens(spark, 50, seed=4).select("n_tok", "tokens")
        ).select("__h1", "__h2")
        df = dedup_stage(
            parse_stage(synth_tokens(spark, 100, seed=3)), against=prev
        )
        plan = plan_of(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "LeftAnti" in plan


class TestSequencePackingPlan:
    def test_sequences_write_has_no_exchange_or_join(self, spark, tmp_path, monkeypatch):
        """pack_sinks(materialize=True) packs, assembles and writes
        sequences in one partition-local pass: the plan of its one job
        holds no shuffle and no join (the documents of one sequence
        already sit in one routed scan partition), and the layout read
        back from the committed sequences (``sequence_layout``) reads
        only ``parts`` — no token column, no Python."""
        from qsvspark.functions.packing import sequence_layout
        from qsvspark.pipeline.northstar import NorthStarPipeline
        from qsvspark.pipeline.tokens import synth_tokens

        p = NorthStarPipeline(spark, str(tmp_path / "wh"))
        p.run(synth_tokens(spark, 300, seed=7), input_fingerprint="plan-test")
        frame = type(p.routed())
        real_map = frame.mapInArrow
        mapped = []

        def map_spy(df, *args, **kwargs):
            out = real_map(df, *args, **kwargs)
            mapped.append(out)
            return out

        with monkeypatch.context() as mp:
            mp.setattr(frame, "mapInArrow", map_spy)
            p.pack_sinks(seq_len=512, materialize=True)
        assert len(mapped) == 1  # the one job writes the sequences
        seq_plan = plan_of(mapped[0])
        assert "MapInArrow" in seq_plan
        assert "Exchange" not in seq_plan
        assert "Join" not in seq_plan

        layout_plan = plan_of(sequence_layout(p.catalog.read(spark, "sequences")))
        assert "Exchange" not in layout_plan
        assert "Python" not in layout_plan and "MapIn" not in layout_plan
        read = [l for l in layout_plan.splitlines() if "ReadSchema" in l]
        assert read and all("tokens:" not in l for l in read)


class TestNoPythonScan:
    """Small driver-built frames come from Arrow as a LocalTableScan. A
    Python list would plan as ``Scan ExistingRDD``, whose execution starts
    Python workers."""

    def test_stats_result_is_local(self, spark, events):
        from qsvspark.io.sinks import stats

        plan = plan_of(stats(events.select("event_type", "ts")))
        assert "ExistingRDD" not in plan
        assert "LocalTableScan" in plan

    def test_empty_chain_read_is_local(self, spark, tmp_path):
        from qsvspark.io.snapshot import SnapshotCatalog

        cat = SnapshotCatalog(str(tmp_path / "wh"))
        df = spark.createDataFrame([("a", 1)], "k string, v int")
        parent = cat.write(df, "t", partition_by="k", count_by="k")["snapshot"]
        schema = cat.read(spark, "t").schema
        # replacing the only partition with nothing leaves no part to read
        cat.write(df.where("v < 0"), "t", partition_by="k", count_by="k",
                  parent=parent, replace_partitions=["a"])
        out = cat.read(spark, "t")
        assert out.collect() == []
        assert out.schema == schema
        assert "ExistingRDD" not in plan_of(out)

    def test_pack_chunked_offsets_are_local(self, spark):
        """The broadcast bucket-offset frame of ``pack_chunked`` comes from
        Arrow, so no packing job starts a Python worker to ship it."""
        from qsvspark.functions.packing import pack_chunked

        docs = spark.range(200).select(
            F.col("id").alias("doc_id"), (F.col("id") % 7 + 1).alias("n_tok")
        )
        out = pack_chunked(docs, "n_tok", "doc_id", 16, n_buckets=4)
        assert out.count() == 200
        plan = plan_of(out)
        assert "ExistingRDD" not in plan
        assert "LocalTableScan" in plan
