"""Real-Iceberg parity suite for the SnapshotCatalog emulation.

The emulation in ``qsvspark/io/snapshot.py`` mirrors a large slice of the
Apache Iceberg table-format surface (append chains, dynamic partition
REPLACE, merge-on-read equality deletes, tags, history/rollback,
bucket transform, rewrite_data_files,
expire_snapshots, add-column schema evolution). This module runs the SAME
scenario set against an actual ``iceberg-spark-runtime`` catalog so that
the day the jars are present, every semantic claim converts from argument
into evidence — and API drift (procedure names, option spellings) is
caught immediately.

Jar discovery: ``ICEBERG_SPARK_JAR`` env var, else any
``iceberg-spark-runtime*.jar`` under ``$SPARK_HOME/jars`` or pyspark's
bundled ``jars/`` dir. Absent (this sandbox: BASELINE.md §3) → every test
SKIPs with the discovery paths in the reason.

The suite needs a session built WITH the Iceberg SQL extensions
(procedures like ``CALL ice.system.rollback_to_snapshot`` are injected at
parser construction), so when jars exist it must own session creation:
run it standalone (``pytest tests/test_iceberg_parity.py``). If another
session is already active without the extensions, it skips with that
instruction rather than asserting against a half-configured catalog.

Emulation ↔ Iceberg mapping under test (also tabled in README.md):

  SnapshotCatalog.write(parent=...)        <- Iceberg APPEND snapshots
  write(replace_partitions=...)            <- INSERT OVERWRITE (dynamic)
  write(bucket_by=..., n_buckets=N)        <- PARTITIONED BY bucket(N, col)
  delete_rows(on=[...])                    <- equality delete, merge-on-read
  tag()/drop_tag()/tags()                  <- ALTER TABLE CREATE/DROP TAG
  history() / rollback()                   <- snapshots metadata table /
                                              CALL system.rollback_to_snapshot
  compact(zorder=...)                      <- CALL system.rewrite_data_files
                                              (strategy sort, zorder(...))
  expire_snapshots(keep_last=...)          <- CALL system.expire_snapshots
  read() unionByName(allowMissingColumns)  <- ALTER TABLE ADD COLUMN evolution
"""

from __future__ import annotations

import glob
import os
import uuid

import pytest


def _find_iceberg_jar() -> str | None:
    cand = os.environ.get("ICEBERG_SPARK_JAR")
    if cand and os.path.isfile(cand):
        return cand
    roots = []
    if os.environ.get("SPARK_HOME"):
        roots.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    try:
        import pyspark

        roots.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for root in roots:
        hits = sorted(glob.glob(os.path.join(root, "iceberg-spark-runtime*.jar")))
        if hits:
            return hits[0]
    return None


_JAR = _find_iceberg_jar()

pytestmark = pytest.mark.skipif(
    _JAR is None,
    reason=(
        "iceberg-spark-runtime jar not found (checked $ICEBERG_SPARK_JAR, "
        "$SPARK_HOME/jars, pyspark/jars) — real-Iceberg parity suite runs "
        "only when the runtime is installed; the SnapshotCatalog emulation "
        "is covered by tests/test_io.py and tests/test_pipeline.py"
    ),
)

EXT = "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"


@pytest.fixture(scope="module")
def ice(tmp_path_factory):
    """SparkSession with a real Iceberg hadoop catalog named ``ice``."""
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None and EXT not in active.conf.get(
        "spark.sql.extensions", ""
    ):
        pytest.skip(
            "an active SparkSession without the Iceberg extensions exists; "
            "run this module standalone: pytest tests/test_iceberg_parity.py"
        )
    wh = str(tmp_path_factory.mktemp("iceberg_wh"))
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("iceberg-parity")
        .config("spark.jars", _JAR)
        .config("spark.sql.extensions", EXT)
        .config("spark.sql.catalog.ice", "org.apache.iceberg.spark.SparkCatalog")
        .config("spark.sql.catalog.ice.type", "hadoop")
        .config("spark.sql.catalog.ice.warehouse", f"file://{wh}")
        .config("spark.sql.shuffle.partitions", "4")
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture()
def tbl(ice):
    """A fresh fully-qualified table name per test, dropped afterwards."""
    name = f"ice.db.t_{uuid.uuid4().hex[:8]}"
    yield name
    ice.sql(f"DROP TABLE IF EXISTS {name}")


def _rows(ice, sql: str) -> list[tuple]:
    return [tuple(r) for r in ice.sql(sql).collect()]


class TestAppendChain:
    """Parity for SnapshotCatalog.write(parent=...): appends accumulate,
    each append is its own snapshot (``SnapshotCatalog.write`` chain
    semantics)."""

    def test_two_appends_union_and_two_snapshots(self, ice, tbl):
        ice.sql(f"CREATE TABLE {tbl} (id BIGINT, v STRING) USING iceberg")
        ice.sql(f"INSERT INTO {tbl} VALUES (1, 'a'), (2, 'b')")
        ice.sql(f"INSERT INTO {tbl} VALUES (3, 'c')")
        assert sorted(_rows(ice, f"SELECT id, v FROM {tbl}")) == [
            (1, "a"),
            (2, "b"),
            (3, "c"),
        ]
        snaps = _rows(ice, f"SELECT snapshot_id FROM {tbl}.snapshots")
        assert len(snaps) == 2


class TestDynamicPartitionOverwrite:
    """Parity for write(replace_partitions=...): INSERT OVERWRITE in
    dynamic mode replaces ONLY the partitions present in the new data
    (snapshot.py REPLACE semantics)."""

    def test_untouched_partition_survives(self, ice, tbl):
        ice.sql(
            f"CREATE TABLE {tbl} (id BIGINT, p STRING) USING iceberg "
            f"PARTITIONED BY (p)"
        )
        ice.sql(f"INSERT INTO {tbl} VALUES (1, 'x'), (2, 'y')")
        ice.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        ice.sql(f"INSERT OVERWRITE {tbl} VALUES (10, 'x')")
        assert sorted(_rows(ice, f"SELECT id, p FROM {tbl}")) == [
            (2, "y"),
            (10, "x"),
        ]


class TestEqualityDeleteMergeOnRead:
    """Parity for delete_rows(): merge-on-read DELETE commits delete
    files; prior data files are not rewritten (``SnapshotCatalog.delete_rows``)."""

    def test_delete_without_rewrite(self, ice, tbl):
        ice.sql(
            f"CREATE TABLE {tbl} (id BIGINT, v STRING) USING iceberg "
            f"TBLPROPERTIES ('write.delete.mode'='merge-on-read', "
            f"'format-version'='2')"
        )
        ice.sql(f"INSERT INTO {tbl} VALUES (1, 'a'), (2, 'b'), (3, 'c')")
        files_before = _rows(ice, f"SELECT file_path FROM {tbl}.data_files")
        ice.sql(f"DELETE FROM {tbl} WHERE id = 2")
        assert sorted(_rows(ice, f"SELECT id FROM {tbl}")) == [(1,), (3,)]
        files_after = _rows(ice, f"SELECT file_path FROM {tbl}.data_files")
        assert sorted(files_after) == sorted(files_before)
        # the delete landed as delete files, not a data rewrite
        summ = _rows(
            ice,
            f"SELECT summary['added-delete-files'] FROM {tbl}.snapshots "
            f"ORDER BY committed_at DESC LIMIT 1",
        )
        assert summ and summ[0][0] is not None and int(summ[0][0]) >= 1

    def test_later_appends_untouched_by_earlier_delete(self, ice, tbl):
        """Sequence-number semantics mirrored by ``_resolve_chain``:
        deletes only mask rows from EARLIER snapshots."""
        ice.sql(
            f"CREATE TABLE {tbl} (id BIGINT) USING iceberg "
            f"TBLPROPERTIES ('write.delete.mode'='merge-on-read', "
            f"'format-version'='2')"
        )
        ice.sql(f"INSERT INTO {tbl} VALUES (1), (2)")
        ice.sql(f"DELETE FROM {tbl} WHERE id = 2")
        ice.sql(f"INSERT INTO {tbl} VALUES (2)")  # re-append same key
        assert sorted(_rows(ice, f"SELECT id FROM {tbl}")) == [(1,), (2,)]


class TestTags:
    """Parity for tag()/drop_tag(): named immutable refs readable via
    VERSION AS OF (``SnapshotCatalog.tag``)."""

    def test_tag_pins_old_state(self, ice, tbl):
        ice.sql(f"CREATE TABLE {tbl} (id BIGINT) USING iceberg")
        ice.sql(f"INSERT INTO {tbl} VALUES (1)")
        ice.sql(f"ALTER TABLE {tbl} CREATE TAG v1")
        ice.sql(f"INSERT INTO {tbl} VALUES (2)")
        assert _rows(ice, f"SELECT id FROM {tbl} VERSION AS OF 'v1'") == [(1,)]
        assert len(_rows(ice, f"SELECT id FROM {tbl}")) == 2
        ice.sql(f"ALTER TABLE {tbl} DROP TAG v1")
        with pytest.raises(Exception):
            ice.sql(f"SELECT id FROM {tbl} VERSION AS OF 'v1'").collect()


class TestHistoryRollback:
    """Parity for history()/rollback(): rollback moves the current
    pointer without deleting snapshots (``SnapshotCatalog.rollback``)."""

    def test_rollback_restores_and_keeps_history(self, ice, tbl):
        ice.sql(f"CREATE TABLE {tbl} (id BIGINT) USING iceberg")
        ice.sql(f"INSERT INTO {tbl} VALUES (1)")
        first = _rows(
            ice,
            f"SELECT snapshot_id FROM {tbl}.snapshots "
            f"ORDER BY committed_at LIMIT 1",
        )[0][0]
        ice.sql(f"INSERT INTO {tbl} VALUES (2)")
        ice.sql(f"CALL ice.system.rollback_to_snapshot('{tbl[4:]}', {first})")
        assert _rows(ice, f"SELECT id FROM {tbl}") == [(1,)]
        # both snapshots still exist — rollback is a pointer move
        assert len(_rows(ice, f"SELECT snapshot_id FROM {tbl}.snapshots")) == 2


class TestBucketTransform:
    """Parity for write(bucket_by=..., n_buckets=N): the bucket(N, col)
    partition transform (``SnapshotCatalog._write_bucketed_data``)."""

    def test_bucketed_write_reads_back(self, ice, tbl):
        ice.sql(
            f"CREATE TABLE {tbl} (id BIGINT, v STRING) USING iceberg "
            f"PARTITIONED BY (bucket(4, id))"
        )
        ice.sql(
            f"INSERT INTO {tbl} SELECT id, CAST(id AS STRING) "
            f"FROM range(100)"
        )
        assert _rows(ice, f"SELECT count(*) FROM {tbl}") == [(100,)]
        # rows landed across multiple bucket partitions
        nparts = _rows(
            ice, f"SELECT count(DISTINCT partition) FROM {tbl}.files"
        )[0][0]
        assert 2 <= nparts <= 4


class TestRewriteDataFiles:
    """Parity for compact(zorder=...): rewrite_data_files bin-packs and
    preserves rows (``SnapshotCatalog.compact``)."""

    def test_rewrite_preserves_rows_and_shrinks_files(self, ice, tbl):
        ice.sql(f"CREATE TABLE {tbl} (id BIGINT, a DOUBLE, b DOUBLE) USING iceberg")
        for i in range(6):  # 6 tiny commits -> 6+ small files
            ice.sql(
                f"INSERT INTO {tbl} SELECT id, rand(1)*{i + 1}, rand(2) "
                f"FROM range({i * 10}, {i * 10 + 10})"
            )
        before = _rows(ice, f"SELECT count(*) FROM {tbl}.data_files")[0][0]
        ice.sql(
            f"CALL ice.system.rewrite_data_files(table => '{tbl[4:]}', "
            f"strategy => 'sort', sort_order => 'zorder(a, b)', "
            f"options => map('min-input-files', '2'))"
        )
        after = _rows(ice, f"SELECT count(*) FROM {tbl}.data_files")[0][0]
        assert after < before
        assert _rows(ice, f"SELECT count(*) FROM {tbl}") == [(60,)]


class TestExpireSnapshots:
    """Parity for expire_snapshots(keep_last=...) (``SnapshotCatalog.expire_snapshots``)."""

    def test_expire_drops_old_metadata(self, ice, tbl):
        ice.sql(f"CREATE TABLE {tbl} (id BIGINT) USING iceberg")
        ice.sql(f"INSERT INTO {tbl} VALUES (1)")
        ice.sql(f"INSERT INTO {tbl} VALUES (2)")
        ice.sql(
            f"CALL ice.system.expire_snapshots(table => '{tbl[4:]}', "
            f"older_than => TIMESTAMP '2100-01-01 00:00:00', "
            f"retain_last => 1)"
        )
        assert len(_rows(ice, f"SELECT snapshot_id FROM {tbl}.snapshots")) == 1
        assert sorted(_rows(ice, f"SELECT id FROM {tbl}")) == [(1,), (2,)]


class TestSchemaEvolution:
    """Parity for read()'s unionByName(allowMissingColumns=True): rows
    from pre-ADD-COLUMN snapshots read the new column as null
    (``SnapshotCatalog.read``)."""

    def test_add_column_nulls_for_old_rows(self, ice, tbl):
        ice.sql(f"CREATE TABLE {tbl} (id BIGINT) USING iceberg")
        ice.sql(f"INSERT INTO {tbl} VALUES (1)")
        ice.sql(f"ALTER TABLE {tbl} ADD COLUMN extra STRING")
        ice.sql(f"INSERT INTO {tbl} VALUES (2, 'new')")
        got = sorted(_rows(ice, f"SELECT id, extra FROM {tbl}"))
        assert got == [(1, None), (2, "new")]
