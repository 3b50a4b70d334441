"""Load initializer + finalizer sinks + snapshot catalog tests
(reference: tests/test_initializers_load.py, test_finalizers_*.py)."""

from __future__ import annotations

import glob
import gzip
import io
import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from qsvspark import Q
from qsvspark.errors import LoadError
from qsvspark.io import SnapshotCatalog, load
from qsvspark.io.sinks import sanitize_key


class TestLoad:
    def test_csv(self, simple_df):
        assert simple_df.columns == ["datetime", "col1", "col2", "col3", "str"]
        assert simple_df.count() == 3
        # datetime stays a string (reference disables date parsing)
        assert dict(simple_df.dtypes)["datetime"] == "string"
        assert dict(simple_df.dtypes)["col1"] == "int"

    def test_tsv(self, spark, tmp_path):
        p = tmp_path / "t.tsv"
        p.write_text("a\tb\n1\tx\n")
        df = load(spark, str(p))
        assert df.columns == ["a", "b"]
        assert df.collect()[0]["b"] == "x"

    def test_gzip(self, spark, tmp_path, simple_csv):
        p = tmp_path / "s.csv.gz"
        with open(simple_csv, "rb") as f, gzip.open(p, "wb") as g:
            g.write(f.read())
        assert load(spark, str(p)).count() == 3

    def test_no_headers_one_based(self, spark, tmp_path):
        # reference tests/test_initializers_load.py:76-85 → column_1..N
        p = tmp_path / "nh.csv"
        p.write_text("1,2,3\n4,5,6\n")
        df = load(spark, str(p), no_headers=True)
        assert df.columns == ["column_1", "column_2", "column_3"]

    def test_glob(self, spark, tmp_path):
        for i in range(2):
            (tmp_path / f"g{i}.csv").write_text("a\n1\n")
        assert load(spark, str(tmp_path / "g*.csv")).count() == 2

    def test_multi_file_list(self, spark, tmp_path):
        p1, p2 = tmp_path / "m1.csv", tmp_path / "m2.csv"
        p1.write_text("a\n1\n")
        p2.write_text("a\n2\n")
        assert load(spark, [str(p1), str(p2)]).count() == 2

    def test_missing_file(self, spark):
        with pytest.raises(LoadError, match="not found"):
            load(spark, "/nonexistent/x.csv")

    def test_mixed_kind_rejected(self, spark, tmp_path, simple_csv):
        pq = tmp_path / "x.parquet"
        load(spark, simple_csv).write.parquet(str(pq))
        with pytest.raises(LoadError, match="mix"):
            load(spark, [simple_csv, str(pq)])

    def test_parquet(self, spark):
        df = load(spark, "/root/testdata/sf0.001/nation.parquet")
        assert df.count() > 0


class TestSinks:
    def test_show_csv_stdout(self, simple_df):
        buf = io.StringIO()
        text = Q(simple_df).head(1).show(file=buf)
        assert text.splitlines()[0] == "datetime,col1,col2,col3,str"
        assert text.splitlines()[1] == "2023-01-01 12:00:00,1,2,3,foo"

    def test_show_batched_stream_matches_default(self, simple_df):
        """--batch-size path: toLocalIterator slices, identical bytes to
        the single-collect path."""
        base = Q(simple_df).show(file=io.StringIO())
        buf = io.StringIO()
        Q(simple_df).show(file=buf, batch_size=2)
        assert buf.getvalue() == base

    def test_showtable_box_golden(self, simple_df):
        # reference golden: tests/test_finalizers_showtable.py:6-24
        buf = io.StringIO()
        text = Q(simple_df).showtable(file=buf)
        assert text == "\n".join([
            "shape: (3, 5)",
            "┌─────────────────────┬──────┬──────┬──────┬─────┐",
            "│ datetime            ┆ col1 ┆ col2 ┆ col3 ┆ str │",
            "╞═════════════════════╪══════╪══════╪══════╪═════╡",
            "│ 2023-01-01 12:00:00 ┆ 1    ┆ 2    ┆ 3    ┆ foo │",
            "├╌╌╌╌╌╌╌╌╌╌╌╌╌╌╌╌╌╌╌╌╌┼╌╌╌╌╌╌┼╌╌╌╌╌╌┼╌╌╌╌╌╌┼╌╌╌╌╌┤",
            "│ 2023-01-01 13:00:00 ┆ 4    ┆ 5    ┆ 6    ┆ bar │",
            "├╌╌╌╌╌╌╌╌╌╌╌╌╌╌╌╌╌╌╌╌╌┼╌╌╌╌╌╌┼╌╌╌╌╌╌┼╌╌╌╌╌╌┼╌╌╌╌╌┤",
            "│ 2023-01-01 14:00:00 ┆ 7    ┆ 8    ┆ 9    ┆ baz │",
            "└─────────────────────┴──────┴──────┴──────┴─────┘",
        ]) + "\n"

    def test_showtable_truncation_no_full_scan(self, spark):
        """>8 rows: '8+' shape header + ⋮ row — only limit(9) collected,
        never a full count (showtable.rs:11-42,67-74)."""
        df = spark.range(20).selectExpr("cast(id as string) AS v")
        buf = io.StringIO()
        text = Q(df).showtable(file=buf)
        lines = text.splitlines()
        assert lines[0] == "shape: (8+, 1) [showing first 8 rows]"
        assert "⋮" in lines[-2]
        assert sum(1 for l in lines if l.startswith("│")) == 10  # header+8+⋮

    def test_headers(self, simple_df, capsys):
        assert Q(simple_df).headers(plain=True) == [
            "datetime", "col1", "col2", "col3", "str",
        ]

    def test_stats(self, simple_df):
        st = {r["column"]: r.asDict() for r in Q(simple_df).stats().collect()}
        assert st["col1"]["count"] == 3
        assert st["col1"]["mean"] == 4.0
        assert st["col1"]["p50"] == 4.0
        assert abs(st["col1"]["std"] - 3.0) < 1e-12  # ddof=1
        assert st["str"]["min"] == "bar" and st["str"]["max"] == "foo"
        assert st["str"]["mean"] is None

    def test_dump_roundtrip(self, spark, simple_df, tmp_path):
        out = str(tmp_path / "out_csv")
        Q(simple_df).dump(out)
        back = spark.read.option("header", "true").csv(out)
        assert back.count() == 3

    def test_dump_single_file(self, simple_df, tmp_path):
        out = str(tmp_path / "one.csv")
        Q(simple_df).dump(out, single_file=True)
        assert open(out).readline().strip() == "datetime,col1,col2,col3,str"

    def test_dump_streamed_matches_single_file(self, spark, tmp_path):
        """--batch-size dump: toLocalIterator stream into ONE file,
        byte-identical to the single-collect single-file dump, on a
        multi-partition input (reference dump.rs:74-134 semantics)."""
        from qsvspark.io.sinks import dump as _dump

        df = spark.range(0, 5000, 1, 8).selectExpr(
            "id", "cast(id * 1.5 as double) AS v", "concat('row_', id) AS s"
        )
        single = tmp_path / "single.csv"
        streamed = tmp_path / "streamed.csv"
        _dump(df, str(single), single_file=True)
        _dump(df, str(streamed), batch_size=100)
        assert streamed.read_bytes() == single.read_bytes()
        assert streamed.is_file()

    def test_estimate_batch_rows_probes_row_width(self, spark):
        """Wide rows get proportionally smaller slices (100-row width
        probe, batch.rs:8-38), clamped to [1e3, 1e6] (batch.rs:4-5)."""
        from qsvspark.io.sinks import estimate_batch_rows

        narrow = spark.range(200).selectExpr("cast(id AS string) AS s")
        wide = spark.range(200).selectExpr("repeat('x', 10000) AS s")
        n = estimate_batch_rows(narrow, 100_000_000)
        w = estimate_batch_rows(wide, 100_000_000)
        assert w < n == 1_000_000          # narrow hits the upper clamp
        assert 9_000 < w < 11_000          # ≈ target / (10000+1) bytes/row
        assert estimate_batch_rows(narrow.limit(0), 123) == 1000

    def test_dumpcache_roundtrip(self, spark, simple_df, tmp_path):
        out = str(tmp_path / "cache.parquet")
        Q(simple_df).dumpcache(out)
        assert load(spark, out).count() == 3

    def test_partition_fanout(self, spark, simple_df, tmp_path):
        out = str(tmp_path / "parts")
        Q(simple_df).partition("str", out)
        keys = {d.split("=")[1] for d in os.listdir(out) if d.startswith("__part_key__=")}
        assert keys == {"foo", "bar", "baz"}
        foo = spark.read.parquet(os.path.join(out, "__part_key__=foo"))
        assert foo.count() == 1

    def test_sanitize_key(self):
        # reference charset (partition.rs:107-119): path/shell specials
        # and control chars → '_'; spaces KEPT, result trimmed
        assert sanitize_key("a/b:c d") == "a_b_c d"
        assert sanitize_key('x*?"<>|y') == "x______y"
        assert sanitize_key("  padded  ") == "padded"

    def test_partition_per_key_files(self, spark, simple_df, tmp_path):
        """Reference CLI contract: one <sanitized_value>.csv per key
        (partition.rs:34), produced from the distributed partitioned
        write + driver-side merge."""
        out = str(tmp_path / "per_key")
        Q(simple_df).partition("str", out, fmt="csv", per_key_files=True)
        assert sorted(os.listdir(out)) == ["bar.csv", "baz.csv", "foo.csv"]
        foo = open(os.path.join(out, "foo.csv")).read().splitlines()
        assert foo[0] == "datetime,col1,col2,col3,str"
        assert foo[1] == "2023-01-01 12:00:00,1,2,3,foo"
        assert len(foo) == 2

    def test_partition_null_key_writes_null_csv(self, spark, tmp_path):
        """Reference parity: a null key partitions to 'null.csv'
        (partition.rs:86 anyvalue_to_string), never Spark's
        __HIVE_DEFAULT_PARTITION__ directory name."""
        df = spark.createDataFrame(
            [("a", 1), (None, 2), ("b", 3)], "k string, v int"
        )
        out = str(tmp_path / "null_keys")
        from qsvspark.io.sinks import partition as sink_partition

        sink_partition(df, "k", out, fmt="csv", per_key_files=True)
        assert sorted(os.listdir(out)) == ["a.csv", "b.csv", "null.csv"]
        null_rows = open(os.path.join(out, "null.csv")).read().splitlines()
        assert null_rows[0] == "k,v" and null_rows[1].endswith("2")

    def test_showquery_plan(self, simple_df):
        text = Q(simple_df).select("col1").showquery()
        assert "Physical Plan" in text


class TestSnapshotCatalog:
    def test_write_read_manifest(self, spark, simple_df, tmp_path):
        cat = SnapshotCatalog(str(tmp_path / "warehouse"))
        m = cat.write(simple_df, "t1", input_fingerprint="fp1",
                      lineage={"op": "test"}, count_by="str")
        assert m["committed"] and m["row_count"] == 3
        assert m["partition_counts"] == {"foo": 1, "bar": 1, "baz": 1}
        assert cat.read(spark, "t1").count() == 3
        assert cat.current_snapshot("t1") == "snap-00001"

    def test_resume_finds_committed(self, simple_df, tmp_path):
        cat = SnapshotCatalog(str(tmp_path / "wh2"))
        cat.write(simple_df, "t", input_fingerprint="abc")
        assert cat.find_committed("t", "abc") == "snap-00001"
        assert cat.find_committed("t", "other") is None

    def test_new_snapshot_increments(self, spark, simple_df, tmp_path):
        cat = SnapshotCatalog(str(tmp_path / "wh3"))
        cat.write(simple_df, "t", input_fingerprint="a")
        cat.write(simple_df.limit(1), "t", input_fingerprint="b")
        assert cat.current_snapshot("t") == "snap-00002"
        assert cat.read(spark, "t").count() == 1
        # older snapshot still readable (time travel)
        assert cat.read(spark, "t", "snap-00001").count() == 3

    def test_read_uses_stored_schema(self, spark, simple_df, tmp_path):
        cat = SnapshotCatalog(str(tmp_path / "wh4"))
        cat.write(simple_df, "flat")
        cat.write(simple_df, "byk", partition_by="str", count_by="str")
        for table in ("flat", "byk"):
            df = _assert_read_submits_no_job(spark, cat, table)
            assert sorted(map(tuple, df.select(*simple_df.columns).collect())) == sorted(
                map(tuple, simple_df.collect())
            )


def _last_job_id(spark) -> int:
    return max(spark.sparkContext.statusTracker().getJobIdsForGroup(), default=-1)


def _assert_read_submits_no_job(spark, cat, table, snap=None):
    """A snapshot read plans against the manifest's stored schema: no
    Spark job (no schema inference) before an action, and every part's
    schema equals what inference over its data directory gives. The
    read walks its chain once: each element's manifest.json is opened
    exactly once."""
    from qsvspark.io import snapshot as snapshot_module

    opened = []

    def counting_open(path, *args, **kwargs):
        opened.append(os.fspath(path))
        return open(path, *args, **kwargs)

    before = _last_job_id(spark)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(snapshot_module, "open", counting_open, raising=False)
        parts = cat.read_parts(spark, table, snap)
    df = cat.read(spark, table, snap)
    assert _last_job_id(spark) == before
    chain = [link.snapshot for link in cat._resolve_chain(table, snap)]  # noqa: SLF001
    assert sorted(p for p in opened if p.endswith("manifest.json")) == sorted(
        os.path.join(cat.root, table, s, "manifest.json") for s in chain
    )
    dirs = [os.path.join(cat.root, table, s, "data") for s in chain]
    assert len(parts) == len(dirs)
    for part, d in zip(parts, dirs):
        assert part.schema == spark.read.parquet(d).schema
    return df


class TestJobLeanCommit:
    """A commit runs only its own write's Spark job: the schema comes from
    the parquet footers and per-value counts from a driver-side read of
    the files just written, never from a read-back job."""

    @pytest.fixture
    def keyed(self, spark):
        # string key with nulls; a non-nullable array and double so the
        # read-back's nullability differs from the declared schema
        return spark.range(300).select(
            F.col("id"),
            F.when(F.col("id") % 7 == 0, F.lit(None))
            .otherwise(F.concat(F.lit("k"), (F.col("id") % 3).cast("string")))
            .alias("k"),
            F.array(F.col("id").cast("int")).alias("arr"),
            F.lit(1.5).alias("x"),
        )

    def test_flat_write_with_count_by_is_one_job(self, spark, keyed, tmp_path, count_jobs):
        cat = SnapshotCatalog(str(tmp_path / "wh"))
        m, jobs = count_jobs(lambda: cat.write(keyed, "t", count_by="k"))
        assert jobs == 1
        grouped = {
            str(r["k"]): r["n"]
            for r in keyed.groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        assert "None" in grouped
        assert m["partition_counts"] == grouped
        data_dir = os.path.join(cat.root, "t", "snap-00001", "data")
        assert m["schema"] == spark.read.parquet(data_dir).schema.jsonValue()

    def test_partitioned_write_is_one_job(self, spark, keyed, tmp_path, count_jobs):
        cat = SnapshotCatalog(str(tmp_path / "wh"))
        m, jobs = count_jobs(lambda: cat.write(keyed, "t", partition_by="k", count_by="k"))
        assert jobs == 1
        assert m["partition_counts"] == {
            "__HIVE_DEFAULT_PARTITION__": 43, "k0": 85, "k1": 86, "k2": 86,
        }
        data_dir = os.path.join(cat.root, "t", "snap-00001", "data")
        assert m["schema"] == spark.read.parquet(data_dir).schema.jsonValue()

    def test_empty_and_nonempty_writes_store_one_shape(self, spark, keyed, tmp_path):
        cat = SnapshotCatalog(str(tmp_path / "wh"))
        full = cat.write(keyed, "full", partition_by="k", count_by="k")
        empty = cat.write(keyed.where("id < 0"), "empty", partition_by="k", count_by="k")
        assert empty["row_count"] == 0
        assert empty["schema"] == full["schema"]
        read_empty, read_full = cat.read(spark, "empty"), cat.read(spark, "full")
        assert read_empty.schema == read_full.schema
        assert read_full.columns == ["id", "arr", "x", "k"]
        assert read_empty.count() == 0

    def test_empty_numeric_partition_keeps_order_and_nullability(self, spark, keyed, tmp_path):
        # a numeric partition column's read-back type comes from directory
        # names (int for small longs), so only order and nullability can
        # match an empty write, which keeps the declared long
        cat = SnapshotCatalog(str(tmp_path / "wh"))
        df = keyed.withColumn("b", F.col("id") % 3)
        full = T.StructType.fromJson(cat.write(df, "full", partition_by="b")["schema"])
        empty = T.StructType.fromJson(
            cat.write(df.where("id < 0"), "empty", partition_by="b")["schema"]
        )
        assert full.names == empty.names == ["id", "k", "arr", "x", "b"]
        assert [f.nullable for f in full] == [f.nullable for f in empty]
        assert (full["b"].dataType, empty["b"].dataType) == (T.IntegerType(), T.LongType())


class TestCompaction:
    """SnapshotCatalog.compact = Iceberg rewrite_data_files: bin-pack a
    fragmented snapshot's files into ~target-size files in ONE AQE
    REBALANCE job, commit as a new snapshot that inherits the source's
    input_fingerprint so resume lands on the compacted copy."""

    def _fragmented(self, spark, cat, rows=4000, parts=16):
        df = (
            spark.range(rows)
            .select(
                F.col("id"),
                (F.col("id") % 4).cast("string").alias("sink"),
                F.concat(F.lit("p"), (F.col("id") % 97).cast("string")).alias("payload"),
            )
            .repartition(parts)
        )
        return cat.write(df, "routed", input_fingerprint="fpX",
                         partition_by="sink", count_by="sink")

    def test_compact_preserves_rows_and_counts(self, spark, tmp_path):
        cat = SnapshotCatalog(str(tmp_path / "whc"))
        src = self._fragmented(spark, cat)
        n_before = len(cat.data_files("routed", "snap-00001"))
        assert n_before >= 32  # 16 tasks × up to 4 sinks → fragmented
        m = cat.compact(spark, "routed", target_file_bytes=64 * 1024 * 1024)
        assert m is not None and m["snapshot"] == "snap-00002"
        n_after = len(cat.data_files("routed"))
        assert n_after < n_before and n_after <= 8
        assert m["row_count"] == src["row_count"]
        assert m["partition_counts"] == src["partition_counts"]
        a = cat.read(spark, "routed", "snap-00001")
        b = cat.read(spark, "routed", "snap-00002")
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
        # resume: the SAME fingerprint now resolves to the compacted snap
        assert cat.find_committed("routed", "fpX") == "snap-00002"
        assert m["lineage"]["op"] == "compact"
        assert m["lineage"]["source_snapshot"] == "snap-00001"

    def test_already_compact_is_noop(self, spark, tmp_path):
        cat = SnapshotCatalog(str(tmp_path / "whn"))
        df = spark.range(100).coalesce(1)
        cat.write(df, "t", input_fingerprint="fp")
        assert cat.compact(spark, "t", target_file_bytes=64 * 1024 * 1024) is None
        assert cat.current_snapshot("t") == "snap-00001"

    def test_cluster_by_sorts_within_files(self, spark, tmp_path):
        """cluster_by layout: every written file is internally sorted on
        the cluster column, so parquet min/max stats prune row groups for
        point/range predicates."""
        import pyarrow.parquet as pq

        cat = SnapshotCatalog(str(tmp_path / "whs"))
        df = (
            spark.range(5000)
            .select((F.xxhash64("id") % 1000).alias("n_tok"), F.col("id"))
            .repartition(4)
        )
        cat.write(df, "t", input_fingerprint="fp", cluster_by=["n_tok"])
        files = cat.data_files("t")
        assert files
        for f in files:
            col = pq.read_table(f["path"], columns=["n_tok"])["n_tok"].to_pylist()
            assert col == sorted(col)
        assert cat.manifest("t")["cluster_by"] == ["n_tok"]


class TestExpireSnapshots:
    def test_expire_keeps_current_chain(self, spark, simple_df, tmp_path):
        cat = SnapshotCatalog(str(tmp_path / "whe"))
        cat.write(simple_df, "t", input_fingerprint="a")           # 1
        cat.write(simple_df.limit(2), "t", input_fingerprint="b")  # 2
        cat.write(simple_df.limit(1), "t", input_fingerprint="c",
                  parent="snap-00002")                             # 3 → 2
        deleted = cat.expire_snapshots("t", keep_last=1)
        # snap-2 is snap-3's parent: retained despite keep_last=1
        assert deleted == ["snap-00001"]
        assert cat.read(spark, "t").count() == 3  # 2 + 1 delta
        assert cat.find_committed("t", "a") is None
        # new commits number past the highest surviving id: the expiry
        # lowered the snapshot count, but never the next id
        head = cat.current_snapshot("t")
        m4 = cat.write(simple_df.limit(1), "t", input_fingerprint="d")
        m5 = cat.write(simple_df.limit(2), "t", input_fingerprint="e")
        assert len({head, m4["snapshot"], m5["snapshot"]}) == 3
        assert cat.read(spark, "t", head).count() == 3
        assert cat.find_committed("t", "c") == head

    def test_expire_removes_uncommitted_orphans(self, simple_df, tmp_path):
        import os
        cat = SnapshotCatalog(str(tmp_path / "who"))
        cat.write(simple_df, "t", input_fingerprint="a")
        orphan = os.path.join(str(tmp_path / "who"), "t", "snap-00002")
        os.makedirs(os.path.join(orphan, "data"))
        deleted = cat.expire_snapshots("t", keep_last=3)
        assert deleted == ["snap-00002"] and not os.path.exists(orphan)

    def test_keep_last_validated(self, simple_df, tmp_path):
        cat = SnapshotCatalog(str(tmp_path / "whv"))
        cat.write(simple_df, "t")
        with pytest.raises(ValueError):
            cat.expire_snapshots("t", keep_last=0)


class TestCrashSafeMetadata:
    def test_kill_mid_manifest_dump_keeps_resume_and_expiry(
        self, spark, simple_df, tmp_path, monkeypatch
    ):
        """A kill while ``json.dump`` writes a manifest leaves no
        truncated manifest.json behind: resume, history and expiry keep
        reading the table, and expiry removes the uncommitted snapshot."""
        root = str(tmp_path / "whk")
        cat = SnapshotCatalog(root)
        cat.write(simple_df, "t", input_fingerprint="a")

        class Killed(BaseException):
            pass

        def dying_dump(obj, f, **kw):
            text = json.dumps(obj, **kw)
            f.write(text[: len(text) // 2])
            f.flush()
            raise Killed

        with monkeypatch.context() as m:
            m.setattr(json, "dump", dying_dump)
            with pytest.raises(Killed):
                cat.write(simple_df.limit(1), "t", input_fingerprint="b")
        orphan = os.path.join(root, "t", "snap-00002")
        assert os.path.isdir(orphan)
        assert cat.find_committed("t", "a") == "snap-00001"
        assert cat.find_committed("t", "b") is None
        assert [h["snapshot"] for h in cat.history("t")] == ["snap-00001"]
        assert cat.current_snapshot("t") == "snap-00001"
        assert cat.expire_snapshots("t", keep_last=3) == ["snap-00002"]
        assert not os.path.exists(orphan)
        # the resumed run commits the write it lost
        m = cat.write(simple_df.limit(1), "t", input_fingerprint="b")
        assert cat.find_committed("t", "b") == m["snapshot"]
        assert cat.read(spark, "t").count() == 1


class TestManifestGrowthBound:
    """Catalog metadata must stay cheap as per-snapshot file counts grow
    (Iceberg bounds this with the manifest-list pattern; the emulation's
    manifest records no per-file entry). 5k files is ~50× the normal test
    scale — manifest parse and read-plan construction must stay
    interactive, and manifest.json itself must stay O(1) bytes regardless
    of file count."""

    @pytest.fixture(scope="class")
    def big5k(self, spark, tmp_path_factory):
        cat = SnapshotCatalog(str(tmp_path_factory.mktemp("wh5k")))
        # 5000 single-row source slices -> exactly 5000 files, no shuffle
        df = spark.range(0, 5000, 1, numPartitions=5000).select(F.col("id"))
        cat.write(df, "t", input_fingerprint="fp5k")
        return cat

    def test_manifest_stays_o1_and_sidecar_carries_stats(self, big5k):
        import time as _t

        t0 = _t.time()
        m = big5k.manifest("t")
        assert _t.time() - t0 < 0.5
        assert m["row_count"] == 5000
        mpath = os.path.join(
            big5k.root, "t", m["snapshot"], "manifest.json"
        )
        assert os.path.getsize(mpath) < 64 * 1024  # O(1) in file count

    def test_read_plan_construction_bounded(self, spark, big5k):
        import time as _t

        t0 = _t.time()
        df = big5k.read(spark, "t")
        assert _t.time() - t0 < 5.0  # 5k-file listing + schema, no data read
        assert df.count() == 5000


class TestHistoryRollback:
    def test_history_lists_committed_oldest_first(self, spark, simple_df, tmp_path):
        cat = SnapshotCatalog(str(tmp_path / "whh"))
        cat.write(simple_df, "t", input_fingerprint="a",
                  lineage={"op": "full"})
        cat.write(simple_df.limit(1), "t", input_fingerprint="b",
                  parent="snap-00001", lineage={"op": "append-increment"})
        h = cat.history("t")
        assert [e["snapshot"] for e in h] == ["snap-00001", "snap-00002"]
        assert h[0]["op"] == "full" and h[1]["op"] == "append-increment"
        assert h[1]["parent"] == "snap-00001"
        assert h[1]["cumulative_row_count"] == 4
        assert [e["is_current"] for e in h] == [False, True]

    def test_history_reads_current_and_tags_once(self, spark, simple_df, tmp_path):
        from qsvspark.io import snapshot as snapshot_module

        cat = SnapshotCatalog(str(tmp_path / "whhc"))
        one = simple_df.limit(1)
        for i in range(20):
            cat.write(one, "t", input_fingerprint=str(i))
        cat.tag("t", "first", "snap-00001")
        opened = []

        def counting_open(path, *args, **kwargs):
            opened.append(os.path.basename(os.fspath(path)))
            return open(path, *args, **kwargs)

        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(snapshot_module, "open", counting_open, raising=False)
            h = cat.history("t")
        assert len(h) == 20 and h[0]["tags"] == ["first"] and h[-1]["is_current"]
        assert sorted(set(opened)) == ["CURRENT", "TAGS.json", "manifest.json"]
        assert opened.count("manifest.json") == 20
        assert opened.count("CURRENT") == 1
        assert opened.count("TAGS.json") == 1

    def test_history_skips_uncommitted_orphans(self, spark, simple_df, tmp_path):
        import os
        cat = SnapshotCatalog(str(tmp_path / "whho"))
        cat.write(simple_df, "t", input_fingerprint="a")
        os.makedirs(os.path.join(str(tmp_path / "whho"), "t", "snap-00002", "data"))
        assert [e["snapshot"] for e in cat.history("t")] == ["snap-00001"]

    def test_rollback_flips_current_metadata_only(self, spark, simple_df, tmp_path):
        cat = SnapshotCatalog(str(tmp_path / "whr"))
        cat.write(simple_df, "t", input_fingerprint="good")
        cat.write(simple_df.limit(1), "t", input_fingerprint="bad")
        assert cat.read(spark, "t").count() == 1
        m = cat.rollback("t", "snap-00001")
        assert m["snapshot"] == "snap-00001"
        assert cat.current_snapshot("t") == "snap-00001"
        assert cat.read(spark, "t").count() == 3
        # the rolled-away snapshot's data stays until expiry: roll forward
        cat.rollback("t", "snap-00002")
        assert cat.read(spark, "t").count() == 1

    def test_rollback_to_missing_or_uncommitted_raises(
        self, spark, simple_df, tmp_path
    ):
        import os
        cat = SnapshotCatalog(str(tmp_path / "whrx"))
        cat.write(simple_df, "t", input_fingerprint="a")
        with pytest.raises(FileNotFoundError):
            cat.rollback("t", "snap-00099")
        os.makedirs(os.path.join(str(tmp_path / "whrx"), "t", "snap-00002", "data"))
        with pytest.raises(FileNotFoundError):
            cat.rollback("t", "snap-00002")

    def test_time_travel_read_any_committed_snapshot(
        self, spark, simple_df, tmp_path
    ):
        cat = SnapshotCatalog(str(tmp_path / "whtt"))
        cat.write(simple_df, "t", input_fingerprint="a")
        cat.write(simple_df.limit(2), "t", input_fingerprint="b")
        assert cat.read(spark, "t", "snap-00001").count() == 3
        assert cat.read(spark, "t", "snap-00002").count() == 2
        assert cat.read(spark, "t").count() == 2

    def test_job_history_and_rollback_flags(self, spark, simple_df, tmp_path, capsys):
        """jobs/pipeline.py --history/--rollback: metadata-only maintenance,
        no SparkSession constructed."""
        import importlib.util, json as _json, os as _os
        repo = _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
        spec = importlib.util.spec_from_file_location(
            "jobs_pipeline", _os.path.join(repo, "jobs", "pipeline.py"))
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        wh = str(tmp_path / "whjob")
        cat = SnapshotCatalog(wh)
        cat.write(simple_df, "routed", input_fingerprint="a")
        cat.write(simple_df.limit(1), "routed", input_fingerprint="b")
        assert mod.main(["--warehouse", wh, "--history", "routed"]) == 0
        hist = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert [e["snapshot"] for e in hist] == ["snap-00001", "snap-00002"]
        assert mod.main(
            ["--warehouse", wh, "--rollback", "routed", "snap-00001"]) == 0
        out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out["current"] == "snap-00001"
        assert cat.current_snapshot("routed") == "snap-00001"


class TestPartitionOverwrite:
    """Dynamic partition overwrite (Iceberg REPLACE semantics on an
    append chain): replace_partitions masks ancestor files under the
    listed partition values; the delta provides their new contents and
    may simultaneously append to other partitions. Pure metadata —
    time-travel to the parent still sees the old partition."""

    @pytest.fixture()
    def chain(self, spark, tmp_path):
        cat = SnapshotCatalog(str(tmp_path / "po"))
        base = spark.createDataFrame(
            [("a", 1), ("a", 2), ("b", 3), ("b", 4)], "k string, v int"
        )
        m1 = cat.write(base, "t", partition_by="k", count_by="k",
                       input_fingerprint="f1")
        delta = spark.createDataFrame([("a", 5), ("b", 99)], "k string, v int")
        m2 = cat.write(delta, "t", partition_by="k", count_by="k",
                       parent=m1["snapshot"], replace_partitions=["b"],
                       input_fingerprint="f2")
        return cat, m1, m2

    def test_chain_read_masks_replaced_partition(self, spark, chain):
        cat, _, _ = chain
        rows = sorted((r.k, r.v) for r in cat.read(spark, "t").collect())
        assert rows == [("a", 1), ("a", 2), ("a", 5), ("b", 99)]

    def test_masked_chain_read_uses_stored_schema(self, spark, chain):
        cat, _, _ = chain
        # the parent's masked branch reads its surviving partition dirs
        # (basePath) under the stored schema too
        df = _assert_read_submits_no_job(spark, cat, "t")
        rows = sorted((r.k, r.v) for r in df.collect())
        assert rows == [("a", 1), ("a", 2), ("a", 5), ("b", 99)]

    def test_cumulative_accounting_reflects_replacement(self, chain):
        _, _, m2 = chain
        assert m2["cumulative_partition_counts"] == {"a": 3, "b": 1}
        assert m2["cumulative_row_count"] == 4

    def test_time_travel_to_parent_sees_old_partition(self, spark, chain):
        cat, m1, _ = chain
        rows = sorted(
            (r.k, r.v) for r in cat.read(spark, "t", m1["snapshot"]).collect()
        )
        assert rows == [("a", 1), ("a", 2), ("b", 3), ("b", 4)]

    def test_data_files_excludes_masked_ancestors(self, chain):
        cat, m1, _ = chain
        chain_files = cat.data_files("t")
        assert not any(
            f["partition"] == "b" and f["snapshot"] == m1["snapshot"]
            for f in chain_files
        )
        # unmasked when the parent is read standalone
        solo = cat.data_files("t", m1["snapshot"], follow_parents=False)
        assert any(f["partition"] == "b" for f in solo)

    def test_replacement_can_empty_a_partition(self, spark, tmp_path):
        cat = SnapshotCatalog(str(tmp_path / "po_empty"))
        base = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int")
        m1 = cat.write(base, "t", partition_by="k", count_by="k")
        only_a = spark.createDataFrame([("a", 7)], "k string, v int")
        m2 = cat.write(only_a, "t", partition_by="k", count_by="k",
                       parent=m1["snapshot"], replace_partitions=["b"])
        rows = sorted((r.k, r.v) for r in cat.read(spark, "t").collect())
        assert rows == [("a", 1), ("a", 7)]
        assert m2["cumulative_partition_counts"] == {"a": 2}

    def test_validation_requires_parent_and_accounting(self, spark, tmp_path):
        cat = SnapshotCatalog(str(tmp_path / "po_val"))
        df = spark.createDataFrame([("a", 1)], "k string, v int")
        with pytest.raises(ValueError, match="append chain"):
            cat.write(df, "t", partition_by="k", count_by="k",
                      replace_partitions=["a"])
        m1 = cat.write(df, "t", partition_by="k", count_by="k")
        with pytest.raises(ValueError, match="per-partition accounting"):
            cat.write(df, "t", partition_by="k", parent=m1["snapshot"],
                      replace_partitions=["a"])


class TestEqualityDelete:
    """Merge-on-read equality deletes (Iceberg DELETE semantics): a
    delete snapshot carries only a key file; rows in earlier snapshots
    matching the keys are dead to chain reads, later appends are
    untouched, accounting stays exact, and compaction applies the
    deletes physically."""

    @pytest.fixture()
    def deleted(self, spark, tmp_path):
        cat = SnapshotCatalog(str(tmp_path / "eq"))
        m1 = cat.write(
            spark.createDataFrame([("a", 1), ("a", 2), ("b", 3)], "k string, v int"),
            "t", partition_by="k", count_by="k",
        )
        m2 = cat.write(
            spark.createDataFrame([("a", 4), ("b", 5)], "k string, v int"),
            "t", partition_by="k", count_by="k", parent=m1["snapshot"],
        )
        dm = cat.delete_rows(
            spark, "t", spark.createDataFrame([(2,), (5,), (99,)], "v int"),
            on=["v"], input_fingerprint="del1",
        )
        return cat, m1, m2, dm

    def test_chain_read_excludes_matching_rows(self, spark, deleted):
        cat, _, _, dm = deleted
        rows = sorted((r.k, r.v) for r in cat.read(spark, "t").collect())
        assert rows == [("a", 1), ("a", 4), ("b", 3)]
        assert dm["deleted_row_count"] == 2
        assert dm["deleted_partition_counts"] == {"a": 1, "b": 1}

    def test_accounting_subtracts_deleted(self, deleted):
        _, _, _, dm = deleted
        assert dm["cumulative_row_count"] == 3
        assert dm["cumulative_partition_counts"] == {"a": 2, "b": 1}

    def test_later_appends_not_affected(self, spark, deleted):
        cat, _, _, dm = deleted
        cat.write(
            spark.createDataFrame([("a", 2)], "k string, v int"),
            "t", partition_by="k", count_by="k", parent=dm["snapshot"],
        )
        rows = sorted((r.k, r.v) for r in cat.read(spark, "t").collect())
        assert rows == [("a", 1), ("a", 2), ("a", 4), ("b", 3)]

    def test_time_travel_pre_delete_unchanged(self, spark, deleted):
        cat, _, m2, _ = deleted
        rows = sorted(
            (r.k, r.v) for r in cat.read(spark, "t", m2["snapshot"]).collect()
        )
        assert rows == [("a", 1), ("a", 2), ("a", 4), ("b", 3), ("b", 5)]

    def test_compact_applies_deletes_physically(self, spark, deleted):
        cat, _, _, _ = deleted
        cm = cat.compact(spark, "t", target_file_bytes=1 << 20, force=True)
        assert cm["parent"] is None  # chain flattened
        rows = sorted((r.k, r.v) for r in cat.read(spark, "t").collect())
        assert rows == [("a", 1), ("a", 4), ("b", 3)]
        assert cm["cumulative_row_count"] == 3

    def test_delete_preserves_broadcast_anti_plan(self, spark, deleted):
        cat, _, _, _ = deleted
        df = cat.read(spark, "t")
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"
        )
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
        assert "SortMergeJoin" not in plan

    def test_nondeterministic_keys_account_exactly(self, spark, tmp_path):
        """Exact-accounting invariant under a NON-DETERMINISTIC keys
        DataFrame: whatever key set the write materialized, the recorded
        deleted_row_count must describe exactly that set — the key file
        is written first and the accounting joins against the re-read,
        so a keys plan that picks different rows per evaluation (rand()
        filter here) can never skew the manifest."""
        cat = SnapshotCatalog(str(tmp_path / "nd"))
        base = spark.range(0, 1000).select(F.col("id").cast("int").alias("v"))
        cat.write(base, "t")
        keys = base.where(F.rand(seed=None) < 0.5).select("v")
        dm = cat.delete_rows(spark, "t", keys, on=["v"])
        committed = spark.read.parquet(
            str(tmp_path / "nd" / "t" / dm["snapshot"] / "deletes")
        )
        n_committed = committed.count()
        assert dm["deleted_row_count"] == n_committed
        assert cat.read(spark, "t").count() == 1000 - n_committed
        assert dm["cumulative_row_count"] == 1000 - n_committed

    def test_large_delete_set_falls_back_to_shuffle_anti(
        self, spark, tmp_path, monkeypatch
    ):
        """Past the broadcast size bound, delete application drops the
        FORCED broadcast hint — Spark's own size-based planner takes
        over (which would refuse to broadcast a genuinely huge set);
        results are identical. autoBroadcastJoinThreshold is disabled
        here so the un-hinted plan is observable as a shuffle join."""
        from qsvspark.io import snapshot as snapshot_mod

        cat = SnapshotCatalog(str(tmp_path / "big"))
        base = spark.range(0, 200).select(F.col("id").cast("int").alias("v"))
        cat.write(base, "t")
        monkeypatch.setattr(snapshot_mod, "_DELETE_BROADCAST_MAX_BYTES", 0)
        cat.delete_rows(
            spark, "t",
            spark.createDataFrame([(i,) for i in range(50)], "v int"),
            on=["v"],
        )
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            df = cat.read(spark, "t")
            plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
                df._jdf.queryExecution(), "formatted"
            )
            assert "BroadcastHashJoin LeftAnti" not in plan
            assert df.count() == 150
            assert sorted(r.v for r in df.collect()) == list(range(50, 200))
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


class TestTags:
    """Named snapshot references (Iceberg tags): immutable name → snapshot
    pins that reads, rollback, and expiry all resolve."""

    @pytest.fixture()
    def tagged(self, spark, tmp_path):
        cat = SnapshotCatalog(str(tmp_path / "tags"))
        m1 = cat.write(
            spark.createDataFrame([(1,), (2,)], "v int"), "t",
            input_fingerprint="a",
        )
        cat.tag("t", "prod")  # defaults to CURRENT == snap-00001
        m2 = cat.write(
            spark.createDataFrame([(3,)], "v int"), "t", input_fingerprint="b",
        )
        return cat, m1, m2

    def test_read_by_tag_time_travels(self, spark, tagged):
        cat, m1, _ = tagged
        assert cat.read(spark, "t", "prod").count() == 2
        assert cat.read(spark, "t").count() == 1  # CURRENT is snap-00002
        assert cat.manifest("t", "prod")["snapshot"] == m1["snapshot"]

    def test_tag_is_immutable_until_dropped(self, tagged):
        cat, _, _ = tagged
        with pytest.raises(ValueError, match="already exists"):
            cat.tag("t", "prod")
        cat.drop_tag("t", "prod")
        cat.tag("t", "prod")  # re-create on the new CURRENT
        assert cat.tags("t")["prod"] == "snap-00002"

    def test_rollback_accepts_tag(self, tagged):
        cat, m1, _ = tagged
        m = cat.rollback("t", "prod")
        assert m["snapshot"] == m1["snapshot"]
        assert cat.current_snapshot("t") == m1["snapshot"]

    def test_expire_retains_tagged_snapshots(self, spark, tagged):
        cat, m1, m2 = tagged
        m3 = cat.write(
            spark.createDataFrame([(4,)], "v int"), "t", input_fingerprint="c",
        )
        deleted = cat.expire_snapshots("t", keep_last=1)
        # snap-00002 (untagged, not current) expired; snap-00001 kept by tag
        assert deleted == [m2["snapshot"]]
        assert cat.read(spark, "t", "prod").count() == 2
        assert cat.current_snapshot("t") == m3["snapshot"]

    def test_history_lists_tags(self, tagged):
        cat, m1, _ = tagged
        h = {e["snapshot"]: e for e in cat.history("t")}
        assert h[m1["snapshot"]]["tags"] == ["prod"]
        assert h["snap-00002"]["tags"] == []

    def test_tag_name_validation(self, tagged):
        cat, _, _ = tagged
        with pytest.raises(ValueError, match="collide"):
            cat.tag("t", "snap-00001")
        with pytest.raises(FileNotFoundError):
            cat.tag("t", "x", "snap-09999")


class TestCatalogModelBased:
    """Model-based property test: a random sequence of appends, dynamic
    partition overwrites, and equality deletes applied to BOTH the
    catalog and a plain in-memory model must agree — on every read, after
    every op — in rows AND cumulative accounting. This pins the
    interaction semantics of the three mutation paths (e.g. delete keys
    do not touch rows appended later; a replace drops masked rows from
    accounting; a delete after a replace only sees surviving rows)."""

    PARTS = ["a", "b", "c"]

    def _apply_model(self, model, op):
        kind = op[0]
        if kind == "append":
            model.extend(op[1])
        elif kind == "replace":
            vals, rows = op[1], op[2]
            model[:] = [r for r in model if r[0] not in vals] + rows
        elif kind == "delete":
            keys = set(op[1])
            model[:] = [r for r in model if r[1] not in keys]
        return model

    def _apply_catalog(self, spark, cat, op):
        kind = op[0]
        parent = cat.current_snapshot("t")
        if kind == "append":
            if not op[1]:
                return
            cat.write(
                spark.createDataFrame(op[1], "k string, v int"), "t",
                partition_by="k", count_by="k", parent=parent,
            )
        elif kind == "replace":
            vals, rows = op[1], op[2]
            # a replace delta may be empty only if it writes other parts;
            # guarantee at least one row so the parquet writer has output
            df = spark.createDataFrame(
                rows or [("zz-sentinel", -1)], "k string, v int"
            )
            if not rows:
                df = df.where("v >= 0")  # truly empty frame
                if parent is None:
                    return
                # empty replacement is legal: partition disappears
            if parent is None:
                return
            cat.write(df, "t", partition_by="k", count_by="k",
                      parent=parent, replace_partitions=list(vals))
        elif kind == "delete":
            if parent is None or not op[1]:
                return
            cat.delete_rows(
                spark, "t",
                spark.createDataFrame([(v,) for v in op[1]], "v int"),
                on=["v"],
            )

    def test_random_mutation_sequences_match_model(self, spark, tmp_path):
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        parts = self.PARTS
        vseq = iter(range(10_000))  # unique v values across the whole run

        rows_strat = st.lists(
            st.sampled_from(parts), min_size=0, max_size=4
        ).map(lambda ks: [(k, next(vseq)) for k in ks])

        def op_strat(model_vals):
            return st.one_of(
                st.tuples(st.just("append"), rows_strat),
                st.tuples(
                    st.just("replace"),
                    st.lists(st.sampled_from(parts), min_size=1, max_size=2,
                             unique=True),
                    rows_strat,
                ),
                st.tuples(
                    st.just("delete"),
                    st.lists(st.integers(0, 9_999), min_size=1, max_size=3,
                             unique=True),
                ),
            )

        case_n = iter(range(1_000))

        @settings(max_examples=6, deadline=None,
                  suppress_health_check=list(HealthCheck))
        @given(st.data())
        def run(data):
            cat = SnapshotCatalog(str(tmp_path / f"mb{next(case_n)}"))
            model: list = []
            # seed commit so replaces/deletes have a chain to act on
            seed = [(k, next(vseq)) for k in parts]
            cat.write(spark.createDataFrame(seed, "k string, v int"), "t",
                      partition_by="k", count_by="k")
            model.extend(seed)
            n_ops = data.draw(st.integers(2, 5))
            for _ in range(n_ops):
                op = data.draw(op_strat(model))
                if op[0] == "delete":
                    # bias: mostly delete values that exist
                    existing = [r[1] for r in model]
                    if existing and data.draw(st.booleans()):
                        op = ("delete", data.draw(
                            st.lists(st.sampled_from(existing), min_size=1,
                                     max_size=3, unique=True)))
                self._apply_catalog(spark, cat, op)
                self._apply_model(model, op)
                got = sorted((r.k, r.v) for r in cat.read(spark, "t").collect())
                assert got == sorted(model), f"after {op}: {got} != {sorted(model)}"
                m = cat.manifest("t")
                assert m["cumulative_row_count"] == len(model)
                want_counts = {}
                for k, _v in model:
                    want_counts[k] = want_counts.get(k, 0) + 1
                assert (m["cumulative_partition_counts"] or {}) == want_counts

        run()


class TestBroadcastEstimate:
    def test_footer_estimate_beats_at_rest_bytes_on_compressible_keys(
        self, spark, tmp_path
    ):
        """ADVICE r4: the broadcast bound must gate on estimated
        IN-MEMORY size — snappy parquet of highly compressible keys
        understates the decompressed broadcast relation by 10x+."""
        from qsvspark.io.snapshot import _broadcast_estimate_bytes, _data_files

        d = str(tmp_path / "keys")
        # one repeated 200-char string: tiny at rest, big in memory
        spark.range(0, 20000).select(
            F.concat(F.lit("k" * 200), (F.col("id") % 3).cast("string")).alias("k")
        ).coalesce(1).write.parquet(d)
        at_rest = sum(os.path.getsize(path) for path, _ in _data_files(d))
        est = _broadcast_estimate_bytes(d)
        # dictionary-encoded snappy crushes this to ~2 KB at rest; the
        # footer estimate (uncompressed chunk stats + 48 B/row hash
        # -relation overhead) lands ~300x higher — a floor, not an exact
        # decoded size (dictionary decode widens it further), but enough
        # to catch the compressible-keys hazard the at-rest gate missed
        assert est > 100 * at_rest
        assert est >= 20000 * 32  # the per-row overhead alone

    def test_estimate_falls_back_on_unreadable_dir(self, tmp_path):
        from qsvspark.io.snapshot import _broadcast_estimate_bytes

        # empty/missing dir: estimate is 0-ish, never raises
        assert _broadcast_estimate_bytes(str(tmp_path / "nope")) >= 0


class TestManyDeletesOneJoin:
    def test_multiple_delete_commits_fold_into_one_anti_join(self, spark, tmp_path):
        """N delete snapshots on the same key columns cost a chain
        element ONE broadcast anti-join (key files unioned), not N."""
        cat = SnapshotCatalog(str(tmp_path / "manydel"))
        cat.write(
            spark.createDataFrame([(i,) for i in range(20)], "v int"), "t",
        )
        for batch in ([1, 2], [3], [4, 5]):
            cat.delete_rows(
                spark, "t", spark.createDataFrame([(v,) for v in batch], "v int"),
                on=["v"],
            )
        df = cat.read(spark, "t")
        assert df.count() == 15
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"
        )
        assert plan.count("BroadcastHashJoin LeftAnti") == 1


class TestZOrderCompaction:
    """compact(zorder=[...]): Iceberg rewrite_data_files sort-strategy
    zorder — after the rewrite, file min/max stats are tight on EVERY z
    column, so a file-pruning reader skips files on any of them; a
    linear sort only serves its leading column."""

    @pytest.fixture()
    def zt(self, spark, tmp_path):
        cat = SnapshotCatalog(str(tmp_path / "z"))
        df = spark.range(0, 60_000, 1, 8).select(
            (F.col("id") % 200).cast("int").alias("x"),
            ((F.col("id") * 7919) % 200).cast("int").alias("y"),
            F.col("id").alias("v"),
        )
        cat.write(df, "t")
        tb = sum(f["bytes"] for f in cat.data_files("t"))
        cm = cat.compact(spark, "t", target_file_bytes=max(1, tb // 8),
                         zorder=["x", "y"], force=True)
        return cat, df, cm

    def test_prunes_on_every_z_column(self, zt):
        import pyarrow.parquet as pq

        cat, _, _ = zt
        files = cat.data_files("t")
        assert len(files) > 1
        for col in ("x", "y"):
            # a file can hold a row with col <= 10 only if its footer min is
            mins = []
            for f in files:
                md = pq.ParquetFile(f["path"]).metadata
                names = [md.schema.column(i).name for i in range(md.num_columns)]
                ci = names.index(col)
                mins.append(min(md.row_group(g).column(ci).statistics.min
                                for g in range(md.num_row_groups)))
            assert sum(mn <= 10 for mn in mins) < len(files)

    def test_rows_preserved_and_scans_exact(self, spark, zt):
        cat, df, cm = zt
        assert cm["row_count"] == 60_000
        assert cat.read(spark, "t").count() == 60_000
        assert (
            cat.read(spark, "t").where("x = 7").count()
            == df.where("x = 7").count()
        )
        assert (
            cat.read(spark, "t").where("y >= 190").count()
            == df.where("y >= 190").count()
        )

    def test_z_values_stay_in_long_range(self, spark):
        """The interleave must never touch the long sign bit (a negative
        z would sort the top of the last column's range before
        everything else), and a single-column z must not collapse the
        top of the range through double→long overflow."""
        from qsvspark.io.snapshot import _zorder_expr

        df = spark.range(0, 200).select(
            F.col("id").cast("int").alias("x"),
            (F.lit(199) - F.col("id")).cast("int").alias("y"),
        )
        z2 = df.select(_zorder_expr([("x", 0, 199), ("y", 0, 199)]).alias("z"))
        assert z2.where("z < 0").count() == 0
        z1 = df.select(_zorder_expr([("x", 0, 199)]).alias("z"))
        assert z1.where("z < 0").count() == 0
        assert z1.distinct().count() == 200  # no upper-range collapse

    def test_zorder_validation(self, spark, tmp_path):
        cat = SnapshotCatalog(str(tmp_path / "zv"))
        df = spark.createDataFrame([("a", 1)], "k string, v int")
        cat.write(df, "t", partition_by="k", count_by="k")
        with pytest.raises(ValueError, match="partitioned"):
            cat.compact(spark, "t", zorder=["v"], force=True)
        cat2 = SnapshotCatalog(str(tmp_path / "zv2"))
        cat2.write(spark.createDataFrame([(1, 2)], "a int, b int"), "t")
        with pytest.raises(ValueError, match="mutually exclusive"):
            cat2.compact(spark, "t", zorder=["a"], cluster_by=["b"], force=True)
