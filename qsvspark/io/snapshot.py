"""Snapshot catalog: Iceberg-style table snapshots with lineage manifests.

No Iceberg runtime jars exist in this sandbox (verified — BASELINE.md §3),
so the catalog emulates the parts the pipeline needs on plain Parquet:

  root/
    <table>/
      snap-00001/
        data/ ...parquet parts (optionally partitioned by a key column)
        manifest.json       — schema, row counts (total + per partition),
                              lineage (input snapshot ids + op description),
                              input fingerprint, metrics, committed flag
      snap-00002/ ...
      CURRENT                — name of the latest committed snapshot

A write is atomic-by-rename semantics: data lands under a snap dir, the
manifest is written last with committed=true, and CURRENT flips only then
— a killed run leaves either no snap or an uncommitted one (every
metadata file, TAGS.json included, is written to a temp file and
``os.replace``d, so no reader ever sees half a file), and resume
(``find_committed``) keys on the input fingerprint, so committed stages
are never recomputed. On a real cluster the same interface binds to
Iceberg (`writeTo(...).createOrReplace()` + snapshot metadata); the
emulation keeps resume logic testable locally.

Files can also reach a snapshot without Spark's writer:
``write_tasks`` runs one job whose tasks write their own parquet files
(pyarrow, with the Spark writer's settings and footer schema) under a
staging directory, then moves exactly the files the successful tasks
reported into a new snapshot of one table. Both ``write`` and
``write_tasks`` end in the same ``_commit``: footer accounting (row
counts included), parent chaining, manifest, CURRENT flip.

Every consumer of an append chain (``read_parts``, ``read_partitions``,
``data_files``, ``compact``, ``expire_snapshots``) goes through ONE walk,
``_resolve_chain``: the tag or CURRENT ref resolves once, each manifest
is opened once, and each element comes back with the partition values
and delete key files that later snapshots laid over it.

Where a snapshot's files live is decided here alone: ``_data_files`` is
the one listing of a data dir (commit accounting, broadcast sizing,
masked reads, ``data_files``), and ``read_partitions`` reads partition
values from the directories the manifests name, listing no storage.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import urllib.parse
import uuid
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Spark stores each file's data schema (partition columns excluded) as
# JSON in the parquet footer under this key
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _data_files(data_dir: str) -> list[tuple[str, str | None]]:
    """The one listing of a data dir: ``(path, partition value)`` per
    parquet file in sorted order, the value decoded from Spark's
    ``key=value`` directory name (None at the top level)."""
    out = []
    for root, dirs, files in os.walk(data_dir):
        dirs.sort()
        rel = os.path.relpath(root, data_dir)
        part = urllib.parse.unquote(rel.split("=", 1)[1]) if "=" in rel else None
        out.extend((os.path.join(root, fn), part)
                   for fn in sorted(files) if fn.endswith(".parquet"))
    return out


def _walk_written(data_dir: str, count_col: str | None = None) -> dict:
    """What a commit records about the files a write just produced, from
    ONE driver-side pass and no Spark job — the way Iceberg manifests
    account data files at commit time. Returns ``rows`` (footer row
    counts summed), ``schema`` (footer Spark schema JSON, None if no file
    has one), ``partition_counts`` (rows per partition value) and
    ``value_counts`` (rows per ``str(value)`` of ``count_col``, else
    None). Only ``count_col`` reads data pages; the rest is footers."""
    import pyarrow.parquet as pq

    out: dict = {"rows": 0, "schema": None, "partition_counts": {},
                 "value_counts": {} if count_col else None}
    for path, part in _data_files(data_dir):
        pf = pq.ParquetFile(path)
        md = pf.metadata
        out["rows"] += md.num_rows
        if out["schema"] is None:
            out["schema"] = (md.metadata or {}).get(_SPARK_SCHEMA_KEY)
        if part is not None:
            out["partition_counts"][part] = out["partition_counts"].get(part, 0) + md.num_rows
        if count_col:
            vc = out["value_counts"]
            for item in pf.read(columns=[count_col]).column(0).value_counts().to_pylist():
                key = str(item["values"])
                vc[key] = vc.get(key, 0) + item["counts"]
    if count_col:
        out["value_counts"] = dict(sorted(out["value_counts"].items()))
    return out


def _written_schema(
    spark: SparkSession, declared: T.StructType, data_dir: str, written: dict,
    partition_by: str | None,
) -> T.StructType:
    """``spark.read.parquet(data_dir).schema`` without its inference job
    (see ``SnapshotCatalog.write``); with no files, the same column order
    and nullability from the ``declared`` schema of the written rows."""
    if written["schema"] is not None:
        data_schema = T.StructType.fromJson(json.loads(written["schema"]))
    else:  # 0 files: every file a snapshot write makes has the footer key
        data_schema = T.StructType([f for f in declared.fields if f.name != partition_by])
    schema = spark.read.schema(data_schema).parquet(data_dir).schema
    if partition_by and partition_by not in schema.names:
        schema = schema.add(partition_by, declared[partition_by].dataType, True)
    return schema


def _partition_dirs(spark: SparkSession, data_dir: str, key: str, values) -> dict:
    """The directory under ``data_dir`` that Spark's writer names for each
    partition value of ``key`` (null and "" become
    ``__HIVE_DEFAULT_PARTITION__``)."""
    utils = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils  # noqa: SLF001
    return {v: os.path.join(data_dir, utils.getPartitionPathString(key, v)) for v in values}


def _split_by(batch, col: str):
    """``(value, rows without col)`` for each distinct ``col`` value of an
    Arrow batch."""
    import pyarrow.compute as pc

    keys = batch.column(col)
    rest = batch.drop_columns([col])
    for v in keys.unique().to_pylist():
        yield v, rest.filter(keys.is_null() if v is None else pc.equal(keys, v))


def _spark_writer(df: DataFrame):
    """The Spark writer of every snapshot data write, snappy. Token-id /
    unique-id heavy tables: dictionary encoding only balloons then falls
    back (ids are near-random), and parquet v2 delta-packed encodings
    beat v1 plain by ~30% on encode time; 32MB row groups bound
    per-writer buffer memory when a task holds one open writer per
    routed sink."""
    return (
        df.write.mode("overwrite")
        .option("compression", "snappy")
        .option("parquet.enable.dictionary", "false")
        .option("parquet.writer.version", "v2")
        .option("parquet.block.size", str(32 * 1024 * 1024))
    )


def _parquet_writer(path: str, schema, footer_schema: str):
    """A pyarrow writer with the settings of ``_spark_writer``: snappy,
    no dictionary, v2 data pages and
    DELTA_BINARY_PACKED for every integer leaf (list elements and struct
    fields included), and the Spark schema JSON under the footer key
    Spark's own writer uses, so readers and commit accounting cannot
    tell the files apart."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def int_leaves(fields, prefix: str):
        for f in fields:
            name = prefix + f.name
            if pa.types.is_list(f.type):
                yield from int_leaves([f.type.value_field], name + ".list.")
            elif pa.types.is_struct(f.type):
                yield from int_leaves(list(f.type), name + ".")
            elif pa.types.is_integer(f.type):
                yield name

    return pq.ParquetWriter(
        path,
        schema.with_metadata({_SPARK_SCHEMA_KEY: footer_schema.encode()}),
        compression="snappy",
        use_dictionary=False,
        data_page_version="2.0",
        column_encoding={c: "DELTA_BINARY_PACKED" for c in int_leaves(schema, "")},
    )


def _zorder_expr(cols_ranges: list[tuple[str, float, float]],
                 bits_total: int = 63):
    """Z-order (Morton) value over numeric columns: each column is scaled
    into its share of ``bits_total`` bits using the GIVEN min/max range
    (no data pass here), then the bits are interleaved — a single
    codegen'd expression tree of shifts/ands/ors. Rows close in z are
    close in EVERY dimension, so range-partitioning + sorting by z gives
    files whose min/max stats are tight on every z column at once —
    multi-column file pruning, where a linear sort only serves its
    leading column.

    bits_total defaults to 63 (not 64) so the highest interleaved bit
    position is ≤62 and z stays non-negative — position 63 is the long
    sign bit, and a sign flip would sort the upper half of the last
    column's range BEFORE everything else, splitting the curve. Per-column
    bits are additionally capped at 52 so ``top`` is exactly representable
    as a double (the scaling arithmetic is double-precision); without the
    cap a single-column call would compute top = 2^63-1, which rounds to
    2^63 as a double and saturates the long cast, collapsing the top of
    the range to one z value."""
    n = len(cols_ranges)
    bits = max(1, min(bits_total // n, 52))
    top = float(2**bits - 1)
    us = []
    for c, mn, mx in cols_ranges:
        span = float(mx) - float(mn)
        if span <= 0:
            us.append(F.lit(0).cast("long"))
            continue
        scaled = (F.col(c).cast("double") - F.lit(float(mn))) / F.lit(span) * F.lit(top)
        us.append(F.least(F.greatest(scaled, F.lit(0.0)), F.lit(top)).cast("long"))
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, u in enumerate(us):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(u, i).bitwiseAND(F.lit(1)), i * n + j)
            )
    return z


# Delete-key sets are broadcast to every task while they are small (the
# common takedown case: a key file of doc ids), but takedowns accumulate
# without bound; past this many bytes of ESTIMATED IN-MEMORY relation
# (footer uncompressed stats + per-row overhead — see
# _broadcast_estimate_bytes; at-rest snappy bytes understate highly
# compressible keys by 10x+) the reader falls back to a shuffled
# anti-join rather than risk executor/driver memory on an ever-growing
# broadcast. (Iceberg bounds delete application per data file via its
# manifests; this is the emulation-layer equivalent bound.)
_DELETE_BROADCAST_MAX_BYTES = 32 * 1024 * 1024
# rough per-row overhead of Spark's LongToUnsafeRowMap/BytesToBytesMap
# broadcast relations (key hash + offsets + UnsafeRow header); every
# broadcast size estimate adds it
_BROADCAST_ROW_OVERHEAD = 48


def _replace_file(path: str, content) -> None:
    """Write ``content`` (a string as is, anything else as JSON) to
    ``path`` through a temp file and ``os.replace``: a kill mid-write
    leaves the old file or none, never a truncated one that would make
    every later manifest read raise."""
    tmp = f"{path}.tmp"
    with open(tmp, "w") as f:
        if isinstance(content, str):
            f.write(content)
        else:
            json.dump(content, f, indent=2)
    os.replace(tmp, path)


def _broadcast_estimate_bytes(*dirs: str) -> int:
    """Estimated IN-MEMORY size of the broadcast relation built from the
    parquet under ``dirs``. At-rest snappy bytes understate the hazard —
    32 MB of highly-compressible key parquet can decompress to hundreds
    of MB of broadcast relation — so this reads only the FOOTERS
    (metadata, not data) and sums each column chunk's
    total_uncompressed_size, plus ``_BROADCAST_ROW_OVERHEAD`` per row.
    Falls back to 3x the at-rest bytes when footer stats are
    unreadable."""
    files = [path for d in dirs for path, _ in _data_files(d)]
    try:
        import pyarrow.parquet as pq

        total = 0
        for path in files:
            md = pq.ParquetFile(path).metadata
            total += md.num_rows * _BROADCAST_ROW_OVERHEAD + sum(
                md.row_group(g).column(c).total_uncompressed_size
                for g in range(md.num_row_groups) for c in range(md.num_columns)
            )
        return total
    except Exception:  # noqa: BLE001 — a sizing estimate must never fail the op
        return 3 * sum(os.path.getsize(path) for path in files)


class _Link(NamedTuple):
    """One element of a resolved append chain (see ``_resolve_chain``)."""

    snapshot: str
    manifest: dict  # {} when the snapshot dir has no manifest
    data_dir: str
    mask: set  # partition values STRICTLY LATER snapshots replaced
    deletes: list  # (key_cols, delete_dir) of STRICTLY LATER delete snapshots


class SnapshotCatalog:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- paths ------------------------------------------------------

    def _table_dir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _snaps(self, table: str) -> list[str]:
        d = self._table_dir(table)
        if not os.path.isdir(d):
            return []
        return sorted(s for s in os.listdir(d) if s.startswith("snap-"))

    def _next_snapshot(self, table: str) -> str:
        """The id a new commit takes: one past the highest existing number
        (not the count, which expiry lowers below the highest id)."""
        nums = [int(s[len("snap-"):]) for s in self._snaps(table)]
        return f"snap-{max(nums, default=0) + 1:05d}"

    def current_snapshot(self, table: str) -> str | None:
        cur = os.path.join(self._table_dir(table), "CURRENT")
        if os.path.exists(cur):
            with open(cur) as f:
                return f.read().strip()
        return None

    def manifest(self, table: str, snap: str | None = None) -> dict | None:
        snap = self._resolve_ref(table, snap) or self.current_snapshot(table)
        if snap is None:
            return None
        mpath = os.path.join(self._table_dir(table), snap, "manifest.json")
        if not os.path.exists(mpath):
            return None
        with open(mpath) as f:
            return json.load(f)

    # -- resume -----------------------------------------------------

    def find_committed(self, table: str, input_fingerprint: str) -> str | None:
        """Return the snapshot id of a committed snapshot produced from the
        same inputs, or None. This is the resume check: a killed run calls
        this per stage and skips stages whose fingerprint already landed."""
        for snap in reversed(self._snaps(table)):
            m = self.manifest(table, snap)
            if m and m.get("committed") and m.get("input_fingerprint") == input_fingerprint:
                return snap
        return None

    # -- write ------------------------------------------------------

    def write(
        self,
        df: DataFrame,
        table: str,
        *,
        input_fingerprint: str = "",
        lineage: dict | None = None,
        partition_by: str | None = None,
        count_by: str | None = None,
        cluster_by: list[str] | None = None,
        parent: str | None = None,
        bucket_by: list[str] | None = None,
        n_buckets: int = 0,
        replace_partitions: list[str] | None = None,
    ) -> dict:
        """Write df as the next snapshot of ``table`` and commit a manifest.

        parent: chain this snapshot onto an existing one (Iceberg APPEND
        semantics): the new snapshot's data dir holds ONLY the delta rows;
        reads resolve the parent chain. The manifest keeps the delta's
        row_count/partition_counts plus running ``cumulative_*`` totals,
        so per-partition accounting stays one manifest read deep.

        count_by: a column whose per-value row counts go in the manifest
        (the per-partition lineage/metrics the north rule requires).
        Accounting runs no Spark job after the write: the row counts come
        from one driver-side pass over the files just written — footer
        row counts in total and per partition directory when partitioned
        by the count key, otherwise a pyarrow read of that one column for
        the per-value counts, keyed by ``str(value)`` (``"None"`` for
        null), as a ``groupBy().count().collect()`` would key string,
        numeric, date and boolean values. That read is O(rows) on the
        driver, so unpartitioned ``count_by`` suits small tables: its one
        caller, the pipeline's aggregates, writes one row per sink ×
        source × bucket.

        The manifest's ``schema`` is exactly what
        ``spark.read.parquet(data_dir).schema`` reports (partition column
        last, every field nullable), obtained without the inference job:
        the data schema Spark stored in the parquet footer is passed to
        the reader as a user schema and only the partition column is
        inferred, from directory names. A 0-row write (no files) stores
        the same column order and nullability built from ``df``'s
        declared schema; there the partition column keeps its declared
        type, which equals the inferred one for string columns whose
        values do not parse as numbers or dates (a long column reads back
        as int when its values fit).

        cluster_by: sort each write task's rows by these columns before
        encoding (Iceberg's sort-order data layout). Narrow (no shuffle)
        — the point is parquet min/max locality: row groups inside each
        file cover disjoint ranges of the cluster columns, so downstream
        point/range filters prune row groups instead of scanning them.

        bucket_by/n_buckets: hash-bucket layout (Iceberg's ``bucket(N,
        col)`` partition transform, realized through Spark's native
        bucketed writer). The point at 10^12-row scale: a table written
        bucketed on its join key is NEVER reshuffled by later joins on
        that key — the scan itself reports hash partitioning, so only
        the other (small, incremental) side pays an Exchange. This is
        how the ever-growing dedup-keys chain stays join-cheap: the
        multi-TB committed key set sits bucketed at rest while each
        increment shuffles only its own delta keys into the same
        bucketing. Bucketed snapshots also sort within buckets on the
        bucket columns (sort-merge joins skip the sort on this side).
        Mutually exclusive with partition_by.

        replace_partitions: Iceberg DYNAMIC PARTITION OVERWRITE on an
        append chain: the listed partition VALUES (of partition_by) are
        superseded — chain reads mask every ancestor file under those
        partitions, and this snapshot's delta provides their new contents
        (possibly none, which deletes the partition). Rows the delta
        writes into OTHER partitions still append as usual, so one commit
        can atomically move rows out of a partition (the quarantine
        redrive pattern). Requires parent, partition_by, and per-partition
        accounting (count_by == partition_by) on the chain. Pure
        metadata: no ancestor data is rewritten; time-travel reads of the
        parent still see the old partition.
        """
        t0 = time.time()
        if bucket_by and partition_by:
            raise ValueError("bucket_by and partition_by are mutually exclusive")
        if bucket_by and cluster_by:
            raise ValueError(
                "bucketed snapshots already sort within buckets on the bucket "
                "columns; cluster_by would be destroyed by the bucket shuffle"
            )
        if bool(bucket_by) != bool(n_buckets):
            raise ValueError("bucket_by requires n_buckets (and vice versa)")
        if replace_partitions:
            if parent is None or not partition_by:
                raise ValueError(
                    "replace_partitions needs an append chain (parent) and "
                    "a partition_by column to scope the overwrite"
                )
            if count_by != partition_by:
                raise ValueError(
                    "replace_partitions needs per-partition accounting: "
                    "set count_by to the partition_by column"
                )
        if cluster_by:
            df = df.sortWithinPartitions(*cluster_by)
        snap = self._next_snapshot(table)
        data_dir = os.path.join(self._table_dir(table), snap, "data")
        if bucket_by:
            # one shuffle into bucket layout (each task owns exactly one
            # bucket → one file per bucket, no tasks×buckets fan-out);
            # in-bucket sort on the bucket columns so downstream SMJs
            # skip the sort on this side
            self._write_bucketed_data(df, data_dir, bucket_by, n_buckets)
        else:
            writer = _spark_writer(df)
            if partition_by:
                writer = writer.partitionBy(partition_by)
            writer.parquet(data_dir)

        return self._commit(
            df.sparkSession, df.schema, table, snap, t0,
            input_fingerprint=input_fingerprint, lineage=lineage,
            partition_by=partition_by, count_by=count_by, cluster_by=cluster_by,
            parent=parent, bucket_by=bucket_by, n_buckets=n_buckets,
            replace_partitions=replace_partitions,
        )

    def _commit(
        self,
        spark: SparkSession,
        declared: T.StructType,
        table: str,
        snap: str,
        t0: float,
        *,
        input_fingerprint: str,
        lineage: dict | None,
        partition_by: str | None,
        count_by: str | None,
        cluster_by: list[str] | None = None,
        parent: str | None = None,
        bucket_by: list[str] | None = None,
        n_buckets: int = 0,
        replace_partitions: list[str] | None = None,
    ) -> dict:
        """Commit the files already under ``snap``'s data dir: account
        them from their footers (``_walk_written``), chain the counts onto
        ``parent``, write the manifest and flip CURRENT (``_publish``, which
        ``delete_rows`` shares). Every way data reaches a snapshot
        (``write``, ``write_tasks``) ends here.
        ``declared`` is the schema of the written rows."""
        data_dir = os.path.join(self._table_dir(table), snap, "data")
        counted = count_by if count_by and count_by in declared.names else None
        written = _walk_written(data_dir, counted if counted != partition_by else None)
        total = written["rows"]
        per_part = None
        if counted:
            per_part = written["partition_counts" if counted == partition_by else "value_counts"]
        cum_total, cum_parts = total, per_part
        if parent is not None:
            pm = self.manifest(table, parent)
            if pm is None:
                raise FileNotFoundError(f"parent snapshot '{parent}' has no manifest")
            if pm.get("partition_by") != partition_by:
                raise ValueError(
                    f"append partitioning mismatch: parent {pm.get('partition_by')!r} "
                    f"vs delta {partition_by!r}"
                )
            if (pm.get("bucket_by"), pm.get("n_buckets", 0)) != (bucket_by, n_buckets):
                raise ValueError(
                    "append bucketing mismatch: parent "
                    f"{pm.get('bucket_by')!r}×{pm.get('n_buckets', 0)} vs delta "
                    f"{bucket_by!r}×{n_buckets} — co-located chain joins need one "
                    "bucket spec across the chain"
                )
            cum_total = pm.get("cumulative_row_count", pm["row_count"]) + total
            pc = pm.get("cumulative_partition_counts") or pm.get("partition_counts")
            if replace_partitions and pc is None:
                raise ValueError(
                    "replace_partitions needs the parent chain to carry "
                    "per-partition counts (count_by on every chain write)"
                )
            if pc is not None and per_part is not None:
                cum_parts = dict(pc)
                for v in replace_partitions or []:
                    # the masked ancestor rows leave the cumulative totals
                    cum_total -= cum_parts.pop(v, 0)
                for k, v in per_part.items():
                    cum_parts[k] = cum_parts.get(k, 0) + v
        schema_json = _written_schema(spark, declared, data_dir, written, partition_by).jsonValue()
        manifest = {
            "table": table,
            "snapshot": snap,
            "committed": True,
            "created_at_unix": int(t0),
            "schema": schema_json,
            "row_count": total,
            "partition_counts": per_part,
            "cumulative_row_count": cum_total,
            "cumulative_partition_counts": cum_parts,
            "parent": parent,
            "partition_by": partition_by,
            "replace_partitions": replace_partitions,
            "bucket_by": bucket_by,
            "n_buckets": n_buckets,
            "input_fingerprint": input_fingerprint,
            "lineage": lineage or {},
            "cluster_by": cluster_by,
            "metrics": {"write_seconds": round(time.time() - t0, 3)},
        }
        return self._publish(table, manifest)

    def _publish(self, table: str, manifest: dict) -> dict:
        """The commit tail of every snapshot: the manifest lands in its
        snap dir, then CURRENT flips to it."""
        snap = manifest["snapshot"]
        _replace_file(os.path.join(self._table_dir(table), snap, "manifest.json"), manifest)
        _replace_file(os.path.join(self._table_dir(table), "CURRENT"), snap)
        return manifest

    # -- task-written files -----------------------------------------

    def write_tasks(
        self,
        df: DataFrame,
        emit,
        schema: T.StructType,
        table: str,
        *,
        partition_by: str,
        input_fingerprint: str = "",
        lineage: dict | None = None,
        count_by: str | None = None,
    ) -> dict:
        """Write ``table``'s next snapshot from files the tasks of ONE
        Spark job write themselves, committing exactly the files they
        report (the Iceberg model: writers produce data files, the
        catalog commits them).

        ``emit`` runs in each task over the Arrow batches of ``df``'s
        partition and yields Arrow batches of ``schema``'s rows. Each
        batch is split by the string ``partition_by`` column into one
        open file per value, written with the settings of ``write``'s
        Spark writer (``_parquet_writer``).

        Each task attempt writes under ``<root>/_staging/<uuid>/`` with
        attempt-unique names (partition id, attempt number, uuid) and
        returns one row per file. The collected result holds exactly one
        successful attempt per partition, and ``_move_reported`` moves
        only its files into the snapshot; a failed or speculative
        attempt's files go with the staging directory, removed whether
        or not the commit succeeds (readers list only ``snap-*``, so one
        a killed run leaves is never read). The commit is ``_commit``'s,
        as for ``write``; ``write_seconds`` spans the job and commit."""
        import pyarrow as pa

        if not isinstance(schema[partition_by].dataType, T.StringType):
            raise ValueError(
                f"write_tasks: partition column '{partition_by}' of '{table}' "
                "must be a string"
            )
        staging = os.path.join(self.root, "_staging", uuid.uuid4().hex)
        footer = T.StructType([f for f in schema.fields if f.name != partition_by]).json()
        result = pa.schema([("partition", pa.string()), ("path", pa.string())])

        def task(batches):
            from pyspark import TaskContext

            ctx = TaskContext.get()
            stem = f"part-{ctx.partitionId():05d}-{ctx.attemptNumber()}-{uuid.uuid4().hex}"
            files: dict = {}  # partition value -> (path, writer)
            try:
                for batch in emit(batches):
                    for value, rows in _split_by(batch, partition_by):
                        if value not in files:
                            os.makedirs(staging, exist_ok=True)
                            path = os.path.join(
                                staging, f"{stem}-{len(files):05d}.snappy.parquet"
                            )
                            files[value] = (path, _parquet_writer(path, rows.schema, footer))
                        files[value][1].write_batch(rows)
            finally:
                for _, writer in files.values():
                    writer.close()
            yield pa.RecordBatch.from_pylist(
                [{"partition": v, "path": path} for v, (path, _) in files.items()],
                schema=result,
            )

        t0 = time.time()
        try:
            reported = df.mapInArrow(task, "partition string, path string").collect()
            snap = self._next_snapshot(table)
            data_dir = os.path.join(self._table_dir(table), snap, "data")
            os.makedirs(data_dir)
            self._move_reported(df.sparkSession, reported, data_dir, partition_by)
            return self._commit(
                df.sparkSession, schema, table, snap, t0,
                input_fingerprint=input_fingerprint, lineage=lineage,
                partition_by=partition_by, count_by=count_by,
            )
        finally:
            shutil.rmtree(staging, ignore_errors=True)

    @staticmethod
    def _move_reported(
        spark: SparkSession, reported: list, data_dir: str, partition_by: str
    ) -> None:
        """Move each reported file (a ``partition``, ``path`` row) into
        ``data_dir``, under the partition directory Spark's writer would
        name (``_partition_dirs``)."""
        dirs = _partition_dirs(spark, data_dir, partition_by, {r["partition"] for r in reported})
        for r in reported:
            d = dirs[r["partition"]]
            os.makedirs(d, exist_ok=True)
            os.replace(r["path"], os.path.join(d, os.path.basename(r["path"])))

    def delete_rows(
        self,
        spark: SparkSession,
        table: str,
        keys: DataFrame,
        on: list[str],
        *,
        input_fingerprint: str = "",
        lineage: dict | None = None,
    ) -> dict:
        """Iceberg EQUALITY DELETE, merge-on-read: commit a snapshot that
        carries only a key file — rows in EARLIER snapshots whose ``on``
        columns match any key row are dead to every read at or above this
        snapshot; rows appended LATER are untouched (standard Iceberg
        sequence-number semantics). No data file is rewritten; compaction
        is the rewrite that applies deletes physically.

        This is the takedown/contamination-removal primitive a training
        corpus needs at 10^12 rows: deleting a document list costs one
        small key file plus one column-pruned accounting scan, not a
        rewrite of the table. Note the interplay with the dedup_keys
        chain: deleted content's keys stay committed, so re-shipped
        copies of taken-down content are still dropped — which is the
        desired takedown semantics.

        Accounting stays EXACT: one column-pruned broadcast semi-join
        against the current chain counts the matching rows (total and
        per-partition) before commit, and the manifest's cumulative
        totals subtract them. Reads apply the keys as a broadcast
        LEFT ANTI join per chain element — broadcast preserves the
        child's partitioning, so bucketed chain elements keep their
        shuffle-free join property through a delete.
        """
        if not on:
            raise ValueError("delete_rows needs at least one key column")
        parent = self.current_snapshot(table)
        if parent is None:
            raise FileNotFoundError(f"no committed snapshot for table '{table}'")
        pm = self.manifest(table, parent)
        part_key = pm.get("partition_by")

        # Materialize the key file FIRST, then account from the re-read:
        # if the caller's keys DataFrame is non-deterministic (sampling,
        # limit, shuffle-order-dependent), evaluating it once for
        # accounting and again for the write would commit a different key
        # set than the one counted, breaking the exact-accounting
        # invariant. Counting from the parquet we just wrote makes the
        # committed keys and the recorded counts provably the same set.
        # A crash after this write but before the manifest leaves an
        # uncommitted snap dir (no manifest) — same crash-safety story as
        # every other write path.
        snap = self._next_snapshot(table)
        delete_dir = os.path.join(self._table_dir(table), snap, "deletes")
        keys.select(*on).distinct().coalesce(1).write.mode("overwrite").parquet(
            delete_dir
        )
        committed_keys = spark.read.parquet(delete_dir)
        if _broadcast_estimate_bytes(delete_dir) <= _DELETE_BROADCAST_MAX_BYTES:
            committed_keys = F.broadcast(committed_keys)

        # exact accounting scan: only the key + partition columns are read
        doomed = self.read(spark, table, parent).join(
            committed_keys, on, "left_semi"
        )
        if part_key:
            per_part_deleted = {
                str(r[part_key]): r["n"]
                for r in doomed.groupBy(part_key)
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            deleted_total = sum(per_part_deleted.values())
        else:
            per_part_deleted = None
            deleted_total = doomed.count()

        cum_total = pm.get("cumulative_row_count", pm["row_count"]) - deleted_total
        pc = pm.get("cumulative_partition_counts") or pm.get("partition_counts")
        cum_parts = None
        if pc is not None:
            cum_parts = dict(pc)
            for k, v in (per_part_deleted or {}).items():
                left = cum_parts.get(k, 0) - v
                if left > 0:
                    cum_parts[k] = left
                else:
                    cum_parts.pop(k, None)
        manifest = {
            "table": table,
            "snapshot": snap,
            "committed": True,
            "created_at_unix": int(time.time()),
            "schema": pm["schema"],
            "row_count": 0,
            "partition_counts": {} if part_key else None,
            "deleted_row_count": deleted_total,
            "deleted_partition_counts": per_part_deleted,
            "equality_delete_cols": list(on),
            "cumulative_row_count": cum_total,
            "cumulative_partition_counts": cum_parts,
            "parent": parent,
            "partition_by": pm.get("partition_by"),
            "bucket_by": pm.get("bucket_by"),
            "n_buckets": pm.get("n_buckets", 0),
            "input_fingerprint": input_fingerprint,
            "lineage": {**(lineage or {}), "op": "equality-delete"},
        }
        return self._publish(table, manifest)

    def _apply_deletes(
        self,
        spark: SparkSession,
        df: DataFrame,
        specs: list[tuple[list[str], str]],
    ) -> DataFrame:
        # many takedowns accumulate many delete snapshots; group the key
        # files by key-column set so a chain element pays ONE broadcast
        # anti-join per column set, not one per delete commit (the union
        # of key files is what Iceberg's reader does with its delete-file
        # list for a data file)
        grouped: dict[tuple[str, ...], list[str]] = {}
        for cols, delete_dir in specs:
            grouped.setdefault(tuple(cols), []).append(delete_dir)
        for cols, dirs in grouped.items():
            keys = spark.read.parquet(*dirs)
            # broadcast preserves the child's (bucketed) partitioning, so
            # it's the default — but the accumulated key union grows with
            # every takedown, so past the size bound fall back to a plain
            # anti-join (one shuffle) rather than blow executor memory on
            # an unbounded broadcast. Gated on the estimated IN-MEMORY
            # size (footer uncompressed stats), not at-rest snappy bytes.
            if _broadcast_estimate_bytes(*dirs) <= _DELETE_BROADCAST_MAX_BYTES:
                keys = F.broadcast(keys)
            df = df.join(keys, list(cols), "left_anti")
        return df

    # -- snapshot history / time travel --------------------------------

    def history(self, table: str) -> list[dict]:
        """Commit log, oldest first (Iceberg's ``table.history()``): one
        entry per committed snapshot with its timestamp, lineage op,
        parent, and row accounting. Reads only manifests — never data —
        plus CURRENT and the tags once per call."""
        out = []
        current, tags = self.current_snapshot(table), self.tags(table)
        for s in self._snaps(table):
            m = self.manifest(table, s)
            if not m or not m.get("committed"):
                continue
            out.append(
                {
                    "snapshot": s,
                    "created_at_unix": m.get("created_at_unix"),
                    "op": (m.get("lineage") or {}).get("op"),
                    "parent": m.get("parent"),
                    "row_count": m.get("row_count"),
                    "cumulative_row_count": m.get("cumulative_row_count"),
                    "is_current": s == current,
                    "tags": sorted(t for t, ts in tags.items() if ts == s),
                }
            )
        return out

    # -- tags (named snapshot refs) -------------------------------------

    def _tags_path(self, table: str) -> str:
        return os.path.join(self._table_dir(table), "TAGS.json")

    def tags(self, table: str) -> dict[str, str]:
        """All tags: name → snapshot id (Iceberg named references)."""
        p = self._tags_path(table)
        if not os.path.exists(p):
            return {}
        with open(p) as f:
            return json.load(f)

    def tag(self, table: str, name: str, snap: str | None = None) -> str:
        """Pin a name to a committed snapshot (Iceberg ``create_tag``):
        an immutable, human-meaningful reference — 'prod', 'pre-purge',
        'audit-2026-08' — that ``read(snap=name)`` and expiry both
        resolve. Defaults to CURRENT. Pure metadata; re-tagging an
        existing name errors (drop it first), matching Iceberg."""
        if name.startswith("snap-"):
            raise ValueError("tag names must not collide with snapshot ids")
        snap = self._resolve_ref(table, snap) or self.current_snapshot(table)
        m = self.manifest(table, snap)
        if m is None or not m.get("committed"):
            raise FileNotFoundError(
                f"cannot tag: no committed snapshot '{snap}' in '{table}'"
            )
        tags = self.tags(table)
        if name in tags:
            raise ValueError(
                f"tag '{name}' already exists (on {tags[name]}); "
                "drop_tag it first"
            )
        tags[name] = snap
        _replace_file(self._tags_path(table), tags)
        return snap

    def drop_tag(self, table: str, name: str) -> None:
        tags = self.tags(table)
        if name not in tags:
            raise KeyError(f"no tag '{name}' on '{table}'")
        del tags[name]
        _replace_file(self._tags_path(table), tags)

    def _resolve_ref(self, table: str, ref: str | None) -> str | None:
        """A snapshot argument anywhere in the API may be a snapshot id
        or a tag name."""
        if ref is None or ref.startswith("snap-"):
            return ref
        tags = self.tags(table)
        if ref in tags:
            return tags[ref]
        return ref

    def rollback(self, table: str, snap: str) -> dict:
        """Point CURRENT back at an older committed snapshot (Iceberg
        ``rollback_to_snapshot``). Pure metadata — no data moves; newer
        snapshots stay on disk (roll forward by rolling 'back' to them)
        until ``expire_snapshots`` reclaims them. Time-travel READS don't
        need this — ``read(table, snap=...)`` already scans any committed
        snapshot — rollback changes what readers of CURRENT see next.
        Accepts a tag name as well as a snapshot id."""
        snap = self._resolve_ref(table, snap)
        m = self.manifest(table, snap)
        if m is None or not m.get("committed"):
            raise FileNotFoundError(
                f"cannot roll back '{table}' to {snap}: not a committed snapshot"
            )
        _replace_file(os.path.join(self._table_dir(table), "CURRENT"), snap)
        return m

    # -- bucketed layout ---------------------------------------------

    @staticmethod
    def _bucket_table_name(data_dir: str) -> str:
        """Deterministic session-catalog name for a bucketed snapshot's
        external table — path-hashed so re-registration in a fresh
        session (resume in a new JVM) lands on the same name and two
        snapshots never collide."""
        import hashlib

        return "qsvb_" + hashlib.md5(
            os.path.abspath(data_dir).encode()
        ).hexdigest()[:16]

    def _write_bucketed_data(
        self,
        df: DataFrame,
        data_dir: str,
        bucket_by: list[str],
        n_buckets: int,
    ) -> None:
        """Write through Spark's native bucketed writer (external table at
        the snap data dir). repartition(n_buckets, cols) uses the same
        murmur3 HashPartitioning as the bucket assignment, so each write
        task owns exactly one bucket → exactly n_buckets files, never a
        tasks×buckets fan-out."""
        spark = df.sparkSession
        name = self._bucket_table_name(data_dir)
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            _spark_writer(df.repartition(n_buckets, *bucket_by))
            .format("parquet")
            .option("path", data_dir)
            .bucketBy(n_buckets, *bucket_by)
            .sortBy(*bucket_by)
            .saveAsTable(name)
        )

    def _register_bucketed(self, spark: SparkSession, link: _Link) -> str:
        """Attach a bucketed snapshot's files to the session catalog (no-op
        if already attached). Spark only exploits bucketing through table
        metadata, not bare parquet paths; the manifest carries everything
        needed to recreate the DDL, so a fresh session resumes with the
        same shuffle-free join property. The bucket id lives in each file
        name (Spark's ``part-…_NNNNN`` convention), so re-registering
        files written by the bucketed writer is exact."""
        m = link.manifest
        name = self._bucket_table_name(link.data_dir)
        if not spark.catalog.tableExists(name):
            st = T.StructType.fromJson(m["schema"])
            cols_ddl = ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}" for f in st.fields
            )
            bcols = ", ".join(f"`{c}`" for c in m["bucket_by"])
            spark.sql(
                f"CREATE TABLE {name} ({cols_ddl}) USING PARQUET "
                f"CLUSTERED BY ({bcols}) SORTED BY ({bcols}) "
                f"INTO {m['n_buckets']} BUCKETS "
                f"LOCATION '{link.data_dir}'"
            )
        return name

    # -- read -------------------------------------------------------

    def _resolve_chain(
        self, table: str, snap: str | None = None, follow_parents: bool = True
    ) -> list[_Link]:
        """The one chain walk. Resolves ``snap`` (snapshot id, tag name, or
        None for CURRENT) once, opens each manifest once, and returns the
        chain from its root to ``snap``, oldest first (``snap`` alone when
        not following parents). Each element carries the partition values
        STRICTLY LATER snapshots replaced — its files under them are dead
        to any read at the head — and the key files of STRICTLY LATER
        delete snapshots (Iceberg sequence-number scoping). [] when the
        table has no snapshot."""
        newest_first: list[tuple[str, dict]] = []
        cur = self._resolve_ref(table, snap) or self.current_snapshot(table)
        while cur is not None:
            m = self.manifest(table, cur) or {}
            newest_first.append((cur, m))
            cur = m.get("parent") if follow_parents else None
        links: list[_Link] = []
        mask: set = set()
        deletes: list = []
        for s, m in newest_first:
            snap_dir = os.path.join(self._table_dir(table), s)
            links.append(
                _Link(s, m, os.path.join(snap_dir, "data"), set(mask), list(deletes))
            )
            mask |= set(m.get("replace_partitions") or [])
            if m.get("equality_delete_cols"):
                deletes.append(
                    (m["equality_delete_cols"], os.path.join(snap_dir, "deletes"))
                )
        return links[::-1]

    def _read_chain(
        self, spark: SparkSession, chain: list[_Link], *, raw: bool = False,
        values: list[str] | None = None,
    ) -> list[DataFrame]:
        """One scan per chain element that holds live data files, each
        with its later deletes applied. A bucketed element reads as its
        registered session-catalog table, whose scan REPORTS the hash
        partitioning; ``raw`` reads its parquet files instead. ``values``:
        see ``read_partitions``."""
        parts: list[DataFrame] = []
        for link in chain:
            m = link.manifest
            if m.get("equality_delete_cols"):
                continue  # delete snapshots carry keys, not data
            if m.get("row_count") == 0:
                continue  # empty delta: no files on disk
            dirs = None  # the whole data dir
            if values is not None:
                counts = m.get("partition_counts") or {}
                hit = [v for v in values if v in counts and v not in link.mask]
                dirs = list(_partition_dirs(spark, link.data_dir, m["partition_by"], hit).values())
            elif link.mask and m.get("partition_by"):
                # a later snapshot replaced some of this one's partitions:
                # read only the surviving partition directories
                dirs = list(dict.fromkeys(
                    os.path.dirname(path) for path, value in _data_files(link.data_dir)
                    if value not in link.mask
                ))
            if dirs == []:
                continue
            # the manifest's stored schema IS the data's read-back schema:
            # passing it skips Spark's per-read schema-inference job
            reader = (
                spark.read.schema(T.StructType.fromJson(m["schema"]))
                if m.get("schema") else spark.read
            )
            if m.get("bucket_by") and not raw:
                df = spark.table(self._register_bucketed(spark, link))
            elif dirs:  # basePath keeps the partition column in the schema
                df = reader.option("basePath", link.data_dir).parquet(*dirs)
            else:
                df = reader.parquet(link.data_dir)
            # broadcast LEFT ANTI keeps the part's reported partitioning
            # (bucketed parts stay join-co-located)
            parts.append(self._apply_deletes(spark, df, link.deletes))
        return parts

    @staticmethod
    def _union(spark: SparkSession, dfs: list[DataFrame], schema: dict) -> DataFrame:
        """Chain parts as one frame; with no part (every file masked,
        deleted or empty), an empty frame of the chain head's ``schema``
        (from Arrow: a LocalTableScan, not an ExistingRDD scan that starts
        Python workers)."""
        if not dfs:
            from pyspark.sql.pandas.types import to_arrow_schema

            struct = T.StructType.fromJson(schema)
            return spark.createDataFrame(to_arrow_schema(struct).empty_table(), struct)
        df = dfs[0]
        for other in dfs[1:]:
            # allowMissingColumns = Iceberg add-column schema evolution:
            # an increment that shipped a new column unions with older
            # snapshots projecting null for it (and vice versa)
            df = df.unionByName(other, allowMissingColumns=True)
        return df

    def read(
        self,
        spark: SparkSession,
        table: str,
        snap: str | None = None,
        *,
        follow_parents: bool = True,
    ) -> DataFrame:
        """Read a snapshot. Append chains resolve to a union of
        per-snapshot scans (Spark's partitioned-parquet discovery requires
        one directory structure per root, so chained roots can't share a
        FileScan); predicate pushdown and partition pruning apply to every
        branch, and compaction resets chain length to 1 so plans stay
        bounded. follow_parents=False reads only the snapshot's own
        delta."""
        dfs = self.read_parts(spark, table, snap, follow_parents=follow_parents)
        schema = None if dfs else self.manifest(table, snap)["schema"]
        return self._union(spark, dfs, schema)

    def read_parts(
        self,
        spark: SparkSession,
        table: str,
        snap: str | None = None,
        *,
        follow_parents: bool = True,
    ) -> list[DataFrame]:
        """One DataFrame per snapshot in the chain (oldest first), each a
        single scan. Bucketed snapshots come back as session-catalog table
        scans that REPORT their hash partitioning to the planner — callers
        that join/anti-join the chain element-wise keep every element
        shuffle-free on the bucket key, which a union (whose output
        partitioning Spark discards) cannot."""
        chain = self._resolve_chain(table, snap, follow_parents)
        if not chain:
            raise FileNotFoundError(f"no committed snapshot for table '{table}'")
        return self._read_chain(spark, chain)

    def read_partitions(self, spark: SparkSession, table: str, values: list) -> DataFrame:
        """CURRENT's rows whose partition value is one of ``values``
        (as ``str(value)``): an index probe's pruned read. Directories
        come from the manifests' ``partition_counts``, never from listing
        storage (Iceberg's manifest file list); with no value committed,
        an empty frame of the stored schema."""
        chain = self._resolve_chain(table)
        head = chain[-1].manifest if chain else {}
        if head.get("partition_counts") is None:
            raise FileNotFoundError(f"no per-partition counts committed for table '{table}'")
        parts = self._read_chain(spark, chain, values=[str(v) for v in values])
        return self._union(spark, parts, head["schema"])

    # -- maintenance ------------------------------------------------

    @staticmethod
    def _chain_files(chain: list[_Link]) -> list[dict]:
        """The live data files of a resolved chain (see ``data_files``)."""
        return [
            {"path": path, "bytes": os.path.getsize(path), "partition": part,
             "snapshot": link.snapshot}
            for link in chain
            for path, part in _data_files(link.data_dir)
            if part not in link.mask  # else replaced by a later snapshot
        ]

    def data_files(
        self,
        table: str,
        snap: str | None = None,
        *,
        follow_parents: bool = True,
    ) -> list[dict]:
        """List a snapshot's data files with sizes and partition value
        (append chains included unless follow_parents=False).

        The emulation-layer stand-in for Iceberg's manifest file list —
        a real catalog answers this from metadata, never by listing
        storage; here the snapshot directory IS the metadata scope, so
        the walk stays bounded to the snapshot chain.
        """
        return self._chain_files(self._resolve_chain(table, snap, follow_parents))

    # -- snapshot expiry ---------------------------------------------

    def expire_snapshots(self, table: str, *, keep_last: int = 1) -> list[str]:
        """Delete snapshot directories that are neither among the newest
        ``keep_last`` committed snapshots, nor CURRENT, nor TAGGED, nor a
        parent in a retained snapshot's append chain (Iceberg
        ``expire_snapshots``, which likewise never drops a snapshot a
        named reference can still reach).
        Uncommitted snap dirs (failed writes — data present, manifest
        absent) are always removed: that is the orphan-file cleanup half
        of the maintenance story. Returns the deleted snapshot ids."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        snaps = self._snaps(table)
        committed = [s for s in snaps
                     if (self.manifest(table, s) or {}).get("committed")]
        roots = set(committed[-keep_last:]) | set(self.tags(table).values())
        cur = self.current_snapshot(table)
        if cur is not None:
            roots.add(cur)
        retained = {link.snapshot for r in roots for link in self._resolve_chain(table, r)}
        deleted = []
        for s in snaps:
            if s in retained:
                continue
            shutil.rmtree(os.path.join(self._table_dir(table), s))
            deleted.append(s)
        return deleted

    def compact(
        self,
        spark: SparkSession,
        table: str,
        *,
        target_file_bytes: int = 128 * 1024 * 1024,
        cluster_by: list[str] | None = None,
        zorder: list[str] | None = None,
        force: bool = False,
    ) -> dict | None:
        """Bin-pack the CURRENT snapshot's small data files into ~target-size files
        (Iceberg ``rewrite_data_files``), committed as a NEW snapshot.

        Routed sinks accumulate (write-tasks × sinks) files per run; at
        10^12-row scale that is the classic small-files pattern — tiny
        row groups, metadata-bound scans. The rewrite is ONE Spark job:
        an AQE ``REBALANCE`` shuffle (coalesces small partitions AND
        splits skewed ones to ``advisoryPartitionSizeInBytes``) followed
        by the normal snapshot write, so output tasks — hence files —
        land near the target size without any driver-side file math.

        The new snapshot carries the SOURCE's input_fingerprint: it is
        the same logical data, so ``find_committed`` resume now lands on
        the compacted copy. Row preservation is checked by the caller's
        manifest (footer row and partition counts).

        Returns the new manifest, or None when the snapshot is already
        compact (fewer than 2 sub-target files anywhere — nothing to
        bin-pack) and ``force`` is not set.

        cluster_by: also sort within the rewritten tasks (sort-based
        rewrite) — compaction is the natural moment to fix layout.

        Append chains are flattened: the rewrite reads the whole parent
        chain and commits a parent-less snapshot whose counts equal the
        chain's cumulative totals, so chain length resets to 1. That is
        why only CURRENT is rewritten: the rewrite becomes CURRENT, so
        rewriting an older snapshot would drop every later commit from
        what readers see.

        zorder: multi-column clustering (Iceberg ``rewrite_data_files``
        sort-strategy zorder): rows are range-partitioned and sorted by a
        Morton interleave of the listed NUMERIC columns, so every file's
        min/max stats are tight on EVERY z column at once — point/range
        filters on any of them prune files, where a linear ``cluster_by``
        only serves its leading column. Column ranges come from one
        min/max aggregate over the source. Mutually exclusive with
        cluster_by and with partitioned/bucketed layouts.
        """
        chain = self._resolve_chain(table)
        m = chain[-1].manifest if chain else {}
        if not m:
            raise FileNotFoundError(f"no committed snapshot for table '{table}'")
        src = chain[-1].snapshot
        files = self._chain_files(chain)
        small = [f for f in files if f["bytes"] < 0.75 * target_file_bytes]
        if not force and len(small) < 2:
            return None
        key, bucket_by = m.get("partition_by"), m.get("bucket_by")
        if zorder:
            if cluster_by:
                raise ValueError("zorder and cluster_by are mutually exclusive")
            if key or bucket_by:
                raise ValueError(
                    "zorder rewrites the global row order; partitioned/"
                    "bucketed layouts own their order already"
                )
        # A bucketed source reads its chain as RAW parquet: the bucketed
        # writer's own repartition(n_buckets) IS the bin-pack (chain →
        # exactly n_buckets files), and the layout must survive compaction
        # or the chain's shuffle-free join property dies with it. Bucketed
        # table scans report hash partitioning, which would make the
        # planner elide that repartition and emit one file per (bucket ×
        # chain element) — exactly the small files this rewrite removes.
        df = self._union(
            spark, self._read_chain(spark, chain, raw=bool(bucket_by)), m["schema"]
        )
        # REBALANCE is AQE-only: size the post-shuffle partitions by
        # advisory bytes for the duration of this one write. (Shuffle
        # bytes ≠ encoded parquet bytes; like Iceberg's rewrite we accept
        # the compression-ratio slack rather than probe it.)
        conf = spark.conf
        advisory_key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
        old = conf.get(advisory_key, None)
        conf.set(advisory_key, str(target_file_bytes))
        try:
            if bucket_by:
                balanced = df
            elif zorder:
                row = df.agg(
                    *(F.min(c).alias(f"__mn{i}") for i, c in enumerate(zorder)),
                    *(F.max(c).alias(f"__mx{i}") for i, c in enumerate(zorder)),
                ).collect()[0]
                z = _zorder_expr(
                    [(c, row[f"__mn{i}"], row[f"__mx{i}"]) for i, c in enumerate(zorder)]
                )
                total_bytes = sum(f["bytes"] for f in files) or 1
                nfiles = max(1, -(-total_bytes // target_file_bytes))
                # range-partition by z (each task owns a z range → a file
                # whose stats are tight in every z dimension), then sort
                # within the task so row groups inherit the property
                balanced = df.repartitionByRange(
                    int(nfiles), z
                ).sortWithinPartitions(z)
            else:
                balanced = df.hint("rebalance", key) if key else df.hint("rebalance")
            manifest = self.write(
                balanced,
                table,
                input_fingerprint=m.get("input_fingerprint", ""),
                lineage={
                    "op": "compact",
                    "source_snapshot": src,
                    "target_file_bytes": target_file_bytes,
                    "source_files": len(files),
                    "zorder": zorder,
                },
                partition_by=key,
                count_by=key,
                cluster_by=cluster_by,
                bucket_by=bucket_by,
                n_buckets=m.get("n_buckets", 0),
            )
        finally:
            if old is None:
                conf.unset(advisory_key)
            else:
                conf.set(advisory_key, old)
        return manifest
