"""Bucketed snapshots: hash-bucket layout (Iceberg ``bucket(N, col)``
partition transform via Spark's native bucketed writer) and the
shuffle-free co-located join it buys on the dedup-keys chain.

The scale claim under test: a table written bucketed on its join key is
never reshuffled by later joins on that key — only the other (delta)
side pays an Exchange. Plan-shape asserts pin exactly that.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from qsvspark.io.snapshot import SnapshotCatalog
from qsvspark.pipeline.northstar import NorthStarPipeline, dedup_stage, parse_stage
from qsvspark.pipeline.tokens import synth_tokens


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _keys(spark, n, offset=0):
    return spark.range(offset, offset + n).select(
        F.col("id").alias("__h1"), (F.col("id") * 7 + 3).alias("__h2")
    )


@pytest.fixture()
def no_broadcast(spark):
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


class TestBucketedWrite:
    def test_roundtrip_and_manifest(self, spark, tmp_path):
        cat = SnapshotCatalog(str(tmp_path))
        m = cat.write(
            _keys(spark, 5000), "keys", input_fingerprint="fp1",
            bucket_by=["__h1", "__h2"], n_buckets=8,
        )
        assert m["bucket_by"] == ["__h1", "__h2"]
        assert m["n_buckets"] == 8
        assert m["row_count"] == 5000
        df = cat.read(spark, "keys")
        assert df.count() == 5000
        assert sorted(df.columns) == ["__h1", "__h2"]

    def test_exactly_n_buckets_files(self, spark, tmp_path):
        cat = SnapshotCatalog(str(tmp_path))
        cat.write(
            _keys(spark, 5000), "keys", input_fingerprint="fp1",
            bucket_by=["__h1", "__h2"], n_buckets=8,
        )
        files = cat.data_files("keys")
        assert len(files) == 8  # one file per bucket, no tasks×buckets fan-out

    def test_invalid_specs_raise(self, spark, tmp_path):
        cat = SnapshotCatalog(str(tmp_path))
        k = _keys(spark, 10)
        with pytest.raises(ValueError, match="mutually exclusive"):
            cat.write(k, "t", bucket_by=["__h1"], n_buckets=4, partition_by="__h2")
        with pytest.raises(ValueError, match="n_buckets"):
            cat.write(k, "t", bucket_by=["__h1"])
        with pytest.raises(ValueError, match="n_buckets"):
            cat.write(k, "t", n_buckets=4)
        with pytest.raises(ValueError, match="cluster_by"):
            cat.write(k, "t", bucket_by=["__h1"], n_buckets=4, cluster_by=["__h2"])

    def test_chain_append_requires_same_spec(self, spark, tmp_path):
        cat = SnapshotCatalog(str(tmp_path))
        m1 = cat.write(
            _keys(spark, 100), "keys", input_fingerprint="a",
            bucket_by=["__h1", "__h2"], n_buckets=4,
        )
        with pytest.raises(ValueError, match="bucketing mismatch"):
            cat.write(
                _keys(spark, 100, offset=100), "keys", input_fingerprint="b",
                parent=m1["snapshot"], bucket_by=["__h1", "__h2"], n_buckets=8,
            )
        with pytest.raises(ValueError, match="bucketing mismatch"):
            cat.write(
                _keys(spark, 100, offset=100), "keys", input_fingerprint="b",
                parent=m1["snapshot"],
            )


class TestCoLocatedJoin:
    def test_anti_join_shuffles_only_delta_side(self, spark, tmp_path, no_broadcast):
        cat = SnapshotCatalog(str(tmp_path))
        cat.write(
            _keys(spark, 20000), "keys", input_fingerprint="fp",
            bucket_by=["__h1", "__h2"], n_buckets=8,
        )
        committed = cat.read_parts(spark, "keys")[0]
        delta = _keys(spark, 1000, offset=19500)
        j = delta.join(committed, ["__h1", "__h2"], "left_anti")
        plan = _plan(j)
        # ONE Exchange: the delta side. The committed scan reports its
        # hash partitioning and is never reshuffled.
        assert plan.count("Exchange") == 1
        assert "Bucketed: true" in plan
        assert j.count() == 500

    def test_unbucketed_control_shuffles_both_sides(
        self, spark, tmp_path, no_broadcast
    ):
        cat = SnapshotCatalog(str(tmp_path))
        cat.write(_keys(spark, 20000), "keys", input_fingerprint="fp")
        committed = cat.read_parts(spark, "keys")[0]
        delta = _keys(spark, 1000, offset=19500)
        plan = _plan(delta.join(committed, ["__h1", "__h2"], "left_anti"))
        assert plan.count("Exchange") == 2

    def test_bucketed_bucketed_join_no_exchange(self, spark, tmp_path, no_broadcast):
        cat = SnapshotCatalog(str(tmp_path))
        cat.write(
            _keys(spark, 5000), "a", input_fingerprint="a",
            bucket_by=["__h1", "__h2"], n_buckets=8,
        )
        cat.write(
            _keys(spark, 3000), "b", input_fingerprint="b",
            bucket_by=["__h1", "__h2"], n_buckets=8,
        )
        a = cat.read_parts(spark, "a")[0]
        b = cat.read_parts(spark, "b")[0]
        j = a.join(b, ["__h1", "__h2"])
        assert "Exchange" not in _plan(j)
        assert j.count() == 3000

    def test_reregistration_survives_catalog_drop(
        self, spark, tmp_path, no_broadcast
    ):
        """Resume path: a fresh session has an empty in-memory catalog;
        read_parts must re-attach the bucketed files from the manifest
        DDL and keep the shuffle-free property."""
        cat = SnapshotCatalog(str(tmp_path))
        cat.write(
            _keys(spark, 5000), "keys", input_fingerprint="fp",
            bucket_by=["__h1", "__h2"], n_buckets=8,
        )
        data_dir = os.path.join(str(tmp_path), "keys", "snap-00001", "data")
        name = SnapshotCatalog._bucket_table_name(data_dir)
        spark.sql(f"DROP TABLE {name}")  # simulate a brand-new session
        assert not spark.catalog.tableExists(name)
        committed = cat.read_parts(spark, "keys")[0]
        assert committed.count() == 5000
        delta = _keys(spark, 100)
        plan = _plan(delta.join(committed, ["__h1", "__h2"], "left_anti"))
        assert plan.count("Exchange") == 1
        assert "Bucketed: true" in plan

    def test_chain_elementwise_anti_join_equals_union_anti_join(
        self, spark, tmp_path, no_broadcast
    ):
        cat = SnapshotCatalog(str(tmp_path))
        m1 = cat.write(
            _keys(spark, 1000), "keys", input_fingerprint="a",
            bucket_by=["__h1", "__h2"], n_buckets=4,
        )
        cat.write(
            _keys(spark, 1000, offset=1000), "keys", input_fingerprint="b",
            parent=m1["snapshot"], bucket_by=["__h1", "__h2"], n_buckets=4,
        )
        parts = cat.read_parts(spark, "keys")
        assert len(parts) == 2
        delta = _keys(spark, 3000, offset=1500)
        seq = delta
        for p in parts:
            seq = seq.join(p, ["__h1", "__h2"], "left_anti")
        union = cat.read(spark, "keys")
        via_union = delta.join(union, ["__h1", "__h2"], "left_anti")
        # every chain element stays shuffle-free: exchanges == 1 (delta
        # only). Plan read BEFORE execution — post-collect AQE plan
        # strings repeat nodes in Initial/Final sections.
        assert _plan(seq).count("Exchange") == 1
        assert sorted(map(tuple, seq.collect())) == sorted(
            map(tuple, via_union.collect())
        )

    def test_compact_preserves_bucketing(self, spark, tmp_path, no_broadcast):
        cat = SnapshotCatalog(str(tmp_path))
        m1 = cat.write(
            _keys(spark, 1000), "keys", input_fingerprint="a",
            bucket_by=["__h1", "__h2"], n_buckets=4,
        )
        cat.write(
            _keys(spark, 1000, offset=1000), "keys", input_fingerprint="b",
            parent=m1["snapshot"], bucket_by=["__h1", "__h2"], n_buckets=4,
        )
        m = cat.compact(spark, "keys", force=True)
        assert m["lineage"]["source_snapshot"] == "snap-00002"
        assert m["bucket_by"] == ["__h1", "__h2"]
        assert m["n_buckets"] == 4
        assert m["parent"] is None  # chain flattened
        assert m["row_count"] == 2000
        files = cat.data_files("keys")
        assert len(files) == 4
        parts = cat.read_parts(spark, "keys")
        assert len(parts) == 1
        delta = _keys(spark, 100)
        plan = _plan(delta.join(parts[0], ["__h1", "__h2"], "left_anti"))
        assert plan.count("Exchange") == 1
        assert "Bucketed: true" in plan


class TestPipelineBucketedKeys:
    def _shift(self, df, by=1_000_000):
        seq = F.substring_index("doc_id", "doc-", -1).cast("long")
        return df.withColumn(
            "doc_id", F.concat(F.lit("doc-"), (seq + F.lit(by)).cast("string"))
        )

    def test_bucketed_chain_equals_plain_chain(self, spark, tmp_path_factory):
        h1 = synth_tokens(spark, 600, seed=13)
        h2 = synth_tokens(spark, 600, seed=13, id_offset=600)
        results = {}
        for label, buckets in (("plain", 0), ("bucketed", 4)):
            wh = str(tmp_path_factory.mktemp(f"wh_{label}"))
            pipe = NorthStarPipeline(
                spark, wh, dedup="exact",
                dedup_keys_buckets=buckets,
            )
            m1 = pipe.run_increment(h1, "inc1")
            m2 = pipe.run_increment(
                h2.unionByName(self._shift(h1)), "inc2"
            )
            results[label] = (
                m1["delta_rows"], m2["delta_rows"], m2["rows"],
                m2["per_sink_counts"],
            )
            head = pipe.catalog.manifest("dedup_keys")
            assert bool(head.get("bucket_by")) == (buckets > 0)
            assert pipe.catalog.read(spark, "dedup_keys").count() == 1200
        assert results["plain"] == results["bucketed"]

    def test_existing_chain_layout_wins_over_config(
        self, spark, tmp_path_factory
    ):
        """Toggling the knob mid-warehouse must not strand the chain: the
        committed layout is authoritative for appends."""
        wh = str(tmp_path_factory.mktemp("wh_toggle"))
        h1 = synth_tokens(spark, 400, seed=13)
        h2 = synth_tokens(spark, 400, seed=13, id_offset=400)
        p1 = NorthStarPipeline(
            spark, wh, dedup="exact", dedup_keys_buckets=4
        )
        p1.run_increment(h1, "inc1")
        # same warehouse, knob now off — append must stay bucketed
        p2 = NorthStarPipeline(
            spark, wh, dedup="exact", dedup_keys_buckets=0
        )
        p2.run_increment(h2, "inc2")
        head = p2.catalog.manifest("dedup_keys")
        assert head["bucket_by"] == ["__h1", "__h2"]
        assert head["n_buckets"] == 4
        assert p2.catalog.read(spark, "dedup_keys").count() == 800

    def test_dedup_stage_accepts_part_list(self, spark):
        base = synth_tokens(spark, 300, seed=7)
        parsed = parse_stage(base)
        from qsvspark.pipeline.northstar import dedup_key

        keys = dedup_key(parsed.select("n_tok", "tokens")).select("__h1", "__h2")
        half1 = keys.limit(150)
        out = dedup_stage(parsed, against=[half1, keys])
        assert out.count() == 0  # everything already committed
        out2 = dedup_stage(parsed, against=[half1])
        assert out2.count() == 300 - half1.distinct().count()
