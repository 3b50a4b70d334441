"""Finalizer sinks — the actions that trigger a Spark job.

CLI-parity sinks (show/showtable) collect because their contract is
"print to stdout"; the distributed sinks (dump/dumpcache/partition) stay
executor-side via df.write — unlike the reference, which collects the
whole table to memory for partition/stats/dumpcache
(/root/reference/src/operations/finalizers/partition.rs:25-34,
stats.rs:145, dumpcache.rs:34-40).
"""

from __future__ import annotations

import io as _io
import os
import re
import sys

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from qsvspark.ops.helpers import require_columns


def show(
    df: DataFrame, file=None, header: bool = True, batch_size: int | None = None
) -> str:
    """CSV to stdout (header always). Reference: finalizers/show.rs:6-123.

    Default: one Arrow collect (toPandas) — fine for printable sizes.
    batch_size set: STREAM the result through the driver in bounded
    slices via toLocalIterator, which pulls one partition at a time so
    driver memory is O(partition), never O(table). The reference gets
    the same bound by re-running the whole plan per slice (show.rs:44-81,
    O(batches × plan)); Spark runs the plan once and ships partitions
    incrementally."""
    out = file or sys.stdout
    if batch_size:
        _write_csv_rows(
            df.toLocalIterator(prefetchPartitions=True), df.columns, out, ",",
            flush_every=batch_size, header=header,
        )
        return ""  # streamed — not buffered into a return string
    pdf = df.toPandas()
    buf = _io.StringIO()
    pdf.to_csv(buf, index=False, header=header)
    text = buf.getvalue()
    out.write(text)
    return text


def _fmt_cell(v) -> str:
    """Cell rendering parity with the reference's format_anyvalue
    (showtable.rs:78-99): null → 'null', bools lowercase, floats via
    shortest round-trip (Rust Display == Python str for f64), integral
    floats without the trailing .0."""
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if v != v:
            return "NaN"
        if v == int(v) and abs(v) < 1e16:
            return str(int(v))
        return str(v)
    import datetime as _dt

    if isinstance(v, _dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f").rstrip("0").rstrip(".") \
            if v.microsecond else v.strftime("%Y-%m-%d %H:%M:%S")
    return str(v)


def showtable(df: DataFrame, max_rows: int = 8, file=None) -> str:
    """UTF8 box table of ≤max_rows rows + a shape header; the default
    finalizer when a chain ends without one (reference src/main.rs:91-110,
    finalizers/showtable.rs:6-99, MAX_DISPLAY_ROWS=8).

    Exactly like the reference, only limit(max_rows+1) rows are ever
    collected — NO full count/scan; a longer table shows ``shape: (8+,
    C) [showing first 8 rows]`` and a ``⋮`` truncation row
    (showtable.rs:11-42,67-74). Box glyphs match the comfy-table
    UTF8_FULL preset golden (tests/test_finalizers_showtable.py)."""
    cols = df.columns
    head = df.limit(max_rows + 1).collect()
    truncated = len(head) > max_rows
    rows = [[_fmt_cell(v) for v in r] for r in head[:max_rows]]
    if truncated:
        shape_line = f"shape: ({max_rows}+, {len(cols)}) [showing first {max_rows} rows]"
        rows.append(["⋮"] * len(cols))
    else:
        shape_line = f"shape: ({len(rows)}, {len(cols)})"
    widths = [
        max(len(c), *(len(r[i]) for r in rows)) if rows else len(c)
        for i, c in enumerate(cols)
    ]

    def border(left: str, fill: str, mid: str, right: str) -> str:
        return left + mid.join(fill * (w + 2) for w in widths) + right

    def row_line(cells: list[str]) -> str:
        return "│ " + " ┆ ".join(c.ljust(w) for c, w in zip(cells, widths)) + " │"

    lines = [shape_line, border("┌", "─", "┬", "┐"), row_line(list(cols)),
             border("╞", "═", "╪", "╡")]
    for i, r in enumerate(rows):
        if i:
            lines.append(border("├", "╌", "┼", "┤"))
        lines.append(row_line(r))
    lines.append(border("└", "─", "┴", "┘"))
    text = "\n".join(lines) + "\n"
    (file or sys.stdout).write(text)
    return text


def headers(df: DataFrame, plain: bool = False) -> list[str]:
    """Column names — schema-only, triggers no job.
    Reference: finalizers/headers.rs:6-32."""
    if plain:
        print("\n".join(df.columns))
    else:
        print("\n".join(f"{i:>2}  {c}" for i, c in enumerate(df.columns, 1)))
    return df.columns


def stats(df: DataFrame) -> DataFrame:
    """Per-column summary computed in ONE batched aggregation.

    Per column: count, null_count, dtype, then for numerics mean,
    std (ddof=1), min, max, p25/p50/p75; for strings min/max only.
    Reference: finalizers/stats.rs:5-216 (single batched select :101-145,
    quantile exprs :124-132). The reference collects the table first; here
    one distributed agg row comes back (columns × ~10 scalars).
    """
    numeric = {
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, T.NumericType)
    }
    exprs = []
    for c in df.columns:
        exprs.append(F.count(F.col(c)).alias(f"{c}__count"))
        exprs.append(F.count(F.when(F.col(c).isNull(), 1)).alias(f"{c}__nulls"))
        if c in numeric:
            exprs += [
                F.mean(c).alias(f"{c}__mean"),
                F.stddev_samp(c).alias(f"{c}__std"),
                F.min(c).alias(f"{c}__min"),
                F.max(c).alias(f"{c}__max"),
                F.percentile(F.col(c), F.lit([0.25, 0.5, 0.75])).alias(f"{c}__pct"),
            ]
        else:
            exprs += [
                F.min(F.col(c).cast("string")).alias(f"{c}__min"),
                F.max(F.col(c).cast("string")).alias(f"{c}__max"),
            ]
    row = df.agg(*exprs).collect()[0].asDict()
    dtypes = dict(df.dtypes)
    out_rows = []
    for c in df.columns:
        pct = row.get(f"{c}__pct")
        out_rows.append(
            {
                "column": c,
                "dtype": dtypes[c],
                "count": row[f"{c}__count"],
                "null_count": row[f"{c}__nulls"],
                "mean": float(row[f"{c}__mean"]) if c in numeric and row[f"{c}__mean"] is not None else None,
                "std": float(row[f"{c}__std"]) if c in numeric and row[f"{c}__std"] is not None else None,
                "min": str(row[f"{c}__min"]) if row[f"{c}__min"] is not None else None,
                "max": str(row[f"{c}__max"]) if row[f"{c}__max"] is not None else None,
                "p25": float(pct[0]) if pct else None,
                "p50": float(pct[1]) if pct else None,
                "p75": float(pct[2]) if pct else None,
            }
        )
    schema = T.StructType(
        [
            T.StructField("column", T.StringType()),
            T.StructField("dtype", T.StringType()),
            T.StructField("count", T.LongType()),
            T.StructField("null_count", T.LongType()),
            T.StructField("mean", T.DoubleType()),
            T.StructField("std", T.DoubleType()),
            T.StructField("min", T.StringType()),
            T.StructField("max", T.StringType()),
            T.StructField("p25", T.DoubleType()),
            T.StructField("p50", T.DoubleType()),
            T.StructField("p75", T.DoubleType()),
        ]
    )
    # from Arrow, the result plans as a LocalTableScan: a Python list would
    # plan as Scan ExistingRDD, whose execution starts Python workers
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    return df.sparkSession.createDataFrame(
        pa.Table.from_pylist(out_rows, schema=to_arrow_schema(schema)), schema
    )


def showquery(df: DataFrame, extended: bool = True) -> str:
    """Logical + optimized + physical plan text.
    Reference: finalizers/showquery.rs:3-19 (Polars plan dump)."""
    text = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "extended" if extended else "simple"
    )
    print(text)
    return text


def estimate_batch_rows(
    df: DataFrame, target_bytes: int, sample_rows: int = 100
) -> int:
    """Rows per driver-side slice for a byte-denominated ``--batch-size``:
    sample up to 100 rows, estimate bytes/row from their CSV rendering,
    clamp to [1e3, 1e6] rows — the reference's adaptive batch sizing
    (batch.rs:8-38, row clamp batch.rs:4-5), replacing a fixed
    bytes-per-row guess so wide rows get proportionally smaller slices."""
    sample = df.limit(sample_rows).collect()
    if not sample:
        return 1000
    total = sum(
        len(",".join("" if v is None else str(v) for v in r)) + 1 for r in sample
    )
    bytes_per_row = max(1, total // len(sample))
    return max(1000, min(1_000_000, target_bytes // bytes_per_row))


def _write_csv_rows(rows_iter, cols: list[str], out_file, separator: str,
                    flush_every: int = 10_000, header: bool = True) -> None:
    """One csv-module writer shared by every single-file CSV path, so the
    streamed and collected variants are byte-identical by construction."""
    import csv as _csv

    w = _csv.writer(out_file, delimiter=separator, lineterminator="\n")
    if header:
        w.writerow(cols)
    buf: list = []
    for row in rows_iter:
        buf.append(tuple(row))
        if len(buf) >= flush_every:
            w.writerows(buf)
            buf.clear()
    w.writerows(buf)


def dump(
    df: DataFrame,
    output: str,
    separator: str = ",",
    single_file: bool = False,
    mode: str = "overwrite",
    batch_size: int | None = None,
) -> None:
    """Write CSV. Distributed directory-of-parts by default (the scale
    path); single_file=True gives reference-style one-file output for
    CLI parity (one Arrow collect — small data only); batch_size (rows)
    STREAMS the same single file through the driver via toLocalIterator,
    holding one partition at a time — bounded driver memory like the
    reference's streamed dump (dump.rs:74-134), but the plan runs once
    instead of once per batch.
    Reference: finalizers/dump.rs:9-171."""
    if batch_size:
        with open(output, "w", newline="") as f:
            _write_csv_rows(
                df.toLocalIterator(prefetchPartitions=True), df.columns, f,
                separator, flush_every=batch_size,
            )
        return
    if single_file:
        with open(output, "w", newline="") as f:
            _write_csv_rows(iter(df.collect()), df.columns, f, separator)
        return
    df.write.mode(mode).option("header", "true").option("sep", separator).csv(output)


def dumpcache(df: DataFrame, output: str, mode: str = "overwrite") -> None:
    """Write Snappy Parquet, reloadable by load().
    Reference: finalizers/dumpcache.rs:7-72 (snappy :45-47)."""
    df.write.mode(mode).parquet(output, compression="snappy")


# exact reference charset (partition.rs:107-119): path separators, shell
# specials, and Unicode control chars → '_', then trim
_SANITIZE_PATTERN = r'[/\\:*?"<>|\x00-\x1f\x7f-\x9f]'
_SANITIZE = re.compile(_SANITIZE_PATTERN)


def sanitize_key(value) -> str:
    """Invalid filename chars → '_' (reference partition.rs:107-119)."""
    return _SANITIZE.sub("_", str(value)).strip()


def partition(
    df: DataFrame,
    column: str,
    outdir: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    per_key_files: bool = False,
) -> None:
    """Fan out rows to one directory (or file) per distinct key value.

    Reference: finalizers/partition.rs:6-131 collects everything then
    splits in memory — single-node only. Here it is one distributed pass:
    ``df.write.partitionBy(key)`` (dynamic partition overwrite style), so
    each executor writes its own slice of every key; no collect, no
    per-key job loop.

    per_key_files=True gives the reference's exact CLI contract — one
    ``<sanitized_value>.csv`` per key directly under outdir
    (partition.rs:34,107-119) — by running the SAME distributed
    partitioned write into a staging dir and then streaming-merging each
    key's part files driver-side (file I/O only, no second Spark job, no
    collect; the merge is the unavoidable cost of a one-file-per-key
    contract).
    """
    require_columns(df, [column])
    # sanitize JVM-side (regexp_replace) — no Python in the write path.
    # Null keys coalesce to the literal 'null' BEFORE partitioning: the
    # reference's anyvalue_to_string writes 'null.csv' for null keys
    # (partition.rs:86), whereas a null partition value would surface as
    # Spark's __HIVE_DEFAULT_PARTITION__ directory.
    out = df.withColumn(
        "__part_key__",
        F.trim(F.regexp_replace(
            F.coalesce(F.col(column).cast("string"), F.lit("null")),
            _SANITIZE_PATTERN, "_",
        )),
    )
    if per_key_files:
        import glob as _glob
        import shutil
        import urllib.parse

        staging = outdir.rstrip("/") + ".__parts__"
        (
            out.write.mode("overwrite").partitionBy("__part_key__")
            .option("header", "true").csv(staging)
        )
        os.makedirs(outdir, exist_ok=True)
        try:
            for d in sorted(os.listdir(staging)):
                if not d.startswith("__part_key__="):
                    continue
                # Spark hive-escapes special chars in partition dir names
                val = urllib.parse.unquote(d.split("=", 1)[1])
                with open(os.path.join(outdir, f"{val}.csv"), "wb") as w:
                    first = True
                    for part in sorted(
                        _glob.glob(os.path.join(staging, d, "part-*"))
                    ):
                        with open(part, "rb") as r:
                            if first:
                                first = False
                            else:
                                r.readline()  # drop the repeated header
                            shutil.copyfileobj(r, w)
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        return
    writer = out.write.mode(mode).partitionBy("__part_key__")
    if fmt == "parquet":
        writer.parquet(outdir)
    else:
        writer.option("header", "true").csv(outdir)
