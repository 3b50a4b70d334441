"""Sequence packing: turn variable-length documents into fixed-length
training sequences — the core layout step of a pre-tokenized-corpus
pipeline (BASELINE.json north_star: "pre-tokenized training sequences").

Two packers, two contracts:

* ``pack_chunked`` — GPT-style concat-and-chunk. Documents are laid out
  in a deterministic total order, the token stream is cut every
  ``seq_len`` tokens, and each document learns its global token offset
  and the sequence ids it lands in. Every sequence except the last is
  exactly full. Deterministic and SQL-expressible (the driver oracle is
  a DuckDB window cumsum), but a naive Spark translation would be
  ``Window.orderBy()`` with no partition key — a single-task sort that
  dies at scale. We instead compute a DISTRIBUTED PREFIX SUM:

    1. one map-side-combined aggregate for per-bucket token totals
       (buckets are deterministic ranges of the order column, so no
       caching is needed for the two passes to agree),
    2. driver-side exclusive prefix over the tiny bucket-total list,
    3. a ``Window.partitionBy(bucket)`` cumsum — each bucket sorts
       independently in its own task — plus a broadcast join of the
       bucket offsets.

  Shuffle cost: one partial-agg exchange (bucket count rows) + one
  window exchange keyed on bucket. No global sort, no Python, whole
  plan codegen'd. ``tests/test_plans.py`` pins the no-single-partition
  property.

* greedy — no-split first-fit packing: a document never crosses a
  sequence boundary; a new sequence starts when the current one can't
  fit the next document. Sequential state makes it non-SQL-expressible,
  so it runs PARTITION-LOCALLY: each task packs its own shard over
  Arrow batches (the packer state spans all batches of one partition).
  Cross-shard order is irrelevant for training-data layout, which is
  exactly why this parallelizes embarrassingly. Sequence ids are
  globalized as ``pid * 2^40 + local_seq``.

  ONE first-fit loop (``_FirstFit``), driven by two passes:

    - ``pack_greedy`` emits LAYOUT rows only (one per document part:
      seq_id, seq_fill, part_start, part_len, ...) from (id, n_tok)
      without touching a token — the ``materialize=False`` table and
      quilt's ``pack`` stage;
    - ``greedy_sequence_packer`` is ONE generator holding the loop and
      the assembly step over (id, n_tok, group, tokens) Arrow batches:
      for each set of bins the loop closes it cuts and concatenates the
      sequences' token arrays with NumPy from the Arrow list buffers and
      yields the SEQUENCE batch (one row per sequence, with a ``parts``
      column of its layout rows). No token is shuffled or joined: the
      documents of a sequence already sit in its partition. Where the
      batches go:
        * ``pack_greedy_sequences`` returns them as a DataFrame
          (``mapInArrow``);
        * ``NorthStarPipeline.pack_sinks(materialize=True)`` has each
          task write them as parquet files itself
          (``SnapshotCatalog.write_tasks``), committed as the
          ``sequences`` snapshot — the tokens never return to the JVM.
      The layout is stored once, in ``parts``: ``sequence_layout``
      explodes a sequence table's ``parts`` back into the
      ``pack_greedy`` rows, reading no token.

  Invariants (every doc packed once, every sequence ≤ seq_len unless a
  single oversized doc, fill ratio bound, emitter equivalence) are
  pinned in ``tests/test_packing.py``.

Reference provenance: qsv-rs has no packer — this is part of the
training-data extension surface (SURVEY.md §2b) the north star asks
for on top of the reference's operator set.
"""

from __future__ import annotations

import math
from typing import Callable, Iterator, NamedTuple, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

# pid * 2^40 leaves ~10^12 sequences per shard and ~8M shards before a
# signed-64 collision — comfortable at the 10^12-sequence target.
_GREEDY_PID_SHIFT = 40
_MAX_LOCAL = 1 << _GREEDY_PID_SHIFT
_MAX_PID = 1 << (63 - _GREEDY_PID_SHIFT)


def _bucket_plan(
    df: DataFrame, order_col: str, n_buckets: Optional[int]
) -> tuple[DataFrame, int]:
    """Attach a deterministic range-bucket id over a numeric order
    column. One cheap min/max aggregate sets the bounds; at a real
    deployment the caller passes ``bucket_col`` derived from partition
    metadata (ingest date/hour) and skips this pass entirely."""
    spark = df.sparkSession
    if n_buckets is None:
        n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    lo, hi = df.select(
        F.min(order_col).cast("long"), F.max(order_col).cast("long")
    ).first()
    if lo is None:  # empty input
        return df.withColumn("_bkt", F.lit(0).cast("long")), 1
    width = max(1, math.ceil((hi - lo + 1) / n_buckets))
    # `div` (integral division) keeps bucket boundaries exact over the
    # full long range — float '/' round-trips through double and becomes
    # rounding-dependent past 2^53, the very regime the offset pipeline
    # below is written to survive.
    out = df.withColumn(
        "_bkt",
        F.expr(f"(cast(`{order_col}` as bigint) - {int(lo)}L) div {int(width)}L"),
    )
    return out, n_buckets


def pack_chunked(
    df: DataFrame,
    n_tok_col: str,
    order_col: str,
    seq_len: int,
    n_buckets: Optional[int] = None,
    bucket_col: Optional[str] = None,
) -> DataFrame:
    """Concat-and-chunk layout: returns ``df`` plus

    * ``global_offset`` — this document's first token's position in the
      concatenated corpus stream (documents ordered by ``order_col``,
      which must be unique),
    * ``first_seq`` / ``last_seq`` — the fixed-length sequence ids the
      document's tokens land in (``floor(offset / seq_len)``),
    * ``spans_boundary`` — 1 if the document is split across a sequence
      boundary.

    Implemented as a distributed prefix sum (module docstring); the
    only data-sized shuffle is the per-bucket window sort.
    """
    if seq_len <= 0:
        raise ValueError("seq_len must be positive")
    if bucket_col is not None:
        bucketed = df.withColumn("_bkt", F.col(bucket_col).cast("long"))
    else:
        bucketed, _ = _bucket_plan(df, order_col, n_buckets)

    # Pass 1: per-bucket token totals (map-side partial agg -> rows ==
    # bucket count; collect is metadata-sized, never data-sized).
    totals = {
        r["_bkt"]: r["t"]
        for r in bucketed.groupBy("_bkt")
        .agg(F.sum(F.col(n_tok_col).cast("long")).alias("t"))
        .collect()
    }
    # Driver-side exclusive prefix over the sorted bucket ids.
    offsets, acc = {}, 0
    for b in sorted(totals):
        offsets[b] = acc
        acc += totals[b] or 0
    # from Arrow: a LocalTableScan, not an ExistingRDD scan whose every
    # broadcast starts a Python worker
    import pyarrow as pa

    off_df = F.broadcast(df.sparkSession.createDataFrame(pa.table({
        "_bkt": pa.array([int(b) for b in offsets] or [0], pa.int64()),
        "_bkt_offset": pa.array([int(o) for o in offsets.values()] or [0], pa.int64()),
    })))

    # Pass 2: within-bucket exclusive cumsum. partitionBy(_bkt) keeps
    # every sort task bucket-sized — no single-partition window.
    w = (
        Window.partitionBy("_bkt")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ntok = F.col(n_tok_col).cast("long")
    out = (
        bucketed.join(off_df, "_bkt")
        .withColumn(
            "global_offset",
            F.coalesce(F.sum(ntok).over(w), F.lit(0)) + F.col("_bkt_offset"),
        )
        # `div` is Spark's integral division — exact on the full long
        # range, unlike `/` which round-trips through double (lossy past
        # 2^53 token offsets, i.e. exactly the 10^12-sequence regime).
        .withColumn("first_seq", F.expr(f"global_offset div {seq_len}L"))
        .withColumn(
            "last_seq",
            F.expr(
                f"(global_offset + greatest(cast({n_tok_col} as bigint), 1L) - 1L)"
                f" div {seq_len}L"
            ),
        )
        .withColumn(
            "spans_boundary",
            (F.col("last_seq") > F.col("first_seq")).cast("int"),
        )
        .drop("_bkt", "_bkt_offset")
    )
    return out


class _Bin:
    """One open sequence: its group key, global id, tokens placed so far
    and its parts ``(ref, seq_id, fill, part_start, part_len, big)``."""

    __slots__ = ("key", "seq_id", "fill", "parts")

    def __init__(self, key, seq_id: int):
        self.key, self.seq_id, self.fill, self.parts = key, seq_id, 0, []


class _FirstFit:
    """The first-fit loop of one shard — the only copy; both greedy
    emitters drive it. One open bin per group key, a shard-wide sequence
    counter (seq ids unique across groups) and the ``pid << 40`` id
    space. ``place`` lays one document out and returns its parts; every
    non-empty bin the loop leaves behind is queued on ``closed`` until
    the next ``drain``."""

    def __init__(self, seq_len: int, policy: str):
        from pyspark import TaskContext

        # mapIn* yields all batches of ONE partition to one call, so the
        # packer state legally spans the whole shard; the partition id is
        # unique per shard
        pid = TaskContext.get().partitionId()
        if pid >= _MAX_PID:
            raise ValueError(
                f"pack_greedy: partition id {pid} exceeds the "
                f"{_MAX_PID} id-space bound"
            )
        self.base = pid << _GREEDY_PID_SHIFT
        self.seq_len, self.policy = seq_len, policy
        self.next_seq = 0
        self.bins: dict = {}
        self.closed: list = []

    def _fresh(self, key) -> _Bin:
        # enforced, not just documented: '|' would silently corrupt ids
        # past these bounds (≥2^40 sequences in one shard or ≥2^23
        # partitions hit the sign bit)
        if self.next_seq >= _MAX_LOCAL:
            raise ValueError(
                f"pack_greedy: shard emitted {self.next_seq} sequences "
                f"(max {_MAX_LOCAL}); repartition the input finer"
            )
        old = self.bins.get(key)
        if old is not None and old.parts:
            self.closed.append(old)
        b = self.bins[key] = _Bin(key, self.base | self.next_seq)
        self.next_seq += 1
        return b

    def place(self, key, t: int, ref) -> list:
        """Lay out one document of ``t`` tokens in group ``key``; returns
        its parts (one per chunk under "split", else one)."""
        L, out = self.seq_len, []

        def emit(b: _Bin, start: int, length: int, big: bool) -> None:
            part = (ref, b.seq_id, b.fill, start, length, big)
            b.parts.append(part)
            out.append(part)
            b.fill += length

        b = self.bins.get(key) or self._fresh(key)
        big = t > L
        if big and self.policy == "split":
            # fill the open bin's remainder, then full sequences; the
            # tail chunk leaves the bin open for later docs
            start = 0
            while start < t:
                if b.fill >= L:
                    b = self._fresh(key)
                take = min(t - start, L - b.fill)
                emit(b, start, take, True)
                start += take
            return out
        eff = min(t, L) if (big and self.policy == "truncate") else t
        if big and self.policy == "own":
            # a bin holding only zero-token docs has fill 0 but is not
            # fresh: an "own" oversized doc must still not share it
            if b.parts:
                b = self._fresh(key)
            emit(b, 0, eff, True)
            self._fresh(key)  # an oversized doc closes its sequence at once
            return out
        if b.fill + eff > L:
            b = self._fresh(key)
        emit(b, 0, eff, big)
        return out

    def drain(self, final: bool = False) -> list:
        """The bins closed since the last drain; ``final`` (end of the
        shard) closes every open bin too."""
        if final:
            self.closed.extend(b for b in self.bins.values() if b.parts)
            self.bins.clear()
        done, self.closed = self.closed, []
        return done


def _check_greedy_args(seq_len: int, oversized: str) -> None:
    if seq_len <= 0:
        raise ValueError("seq_len must be positive")
    if oversized not in ("own", "split", "truncate"):
        raise ValueError(f"unknown oversized policy '{oversized}'")


def pack_greedy(
    df: DataFrame,
    n_tok_col: str,
    id_col: str,
    seq_len: int,
    num_partitions: Optional[int] = None,
    group_cols: Optional[list[str]] = None,
    oversized: str = "own",
) -> DataFrame:
    """No-split first-fit packing, partition-local — the LAYOUT emitter.

    Each task packs its shard independently: docs are taken in shard
    order and appended to the current open sequence, opening a new one
    when the doc doesn't fit. Output: ``id_col``, ``n_tok_col``, group
    columns, ``seq_id`` (globalized), ``seq_fill`` (tokens already in
    the sequence before this part), ``oversized`` (1 for docs longer
    than ``seq_len``), ``part_start`` / ``part_len`` (the token span of
    this row within its document — (0, n_tok) for unsplit docs, so the
    materializer can slice token arrays uniformly).

    ``oversized`` policy for docs longer than ``seq_len`` (at
    seq_len=2048 a book-length doc otherwise burns whole sequences):
      * ``"own"``      — (default) the doc gets a flagged sequence of
                         its own; one output row, part_len = n_tok.
      * ``"split"``    — the doc is cut at sequence boundaries: its
                         chunks fill the open bin's remainder, then
                         full sequences, and the tail opens a bin later
                         docs join. One output row PER CHUNK; chunks
                         reassemble token-exactly via part_start order.
                         Zero padding waste.
      * ``"truncate"`` — keep only the first ``seq_len`` tokens
                         (part_len = seq_len); the doc then packs like
                         a full-length doc. Lossy, flagged.

    ``group_cols``: sequences never mix groups — each task keeps one
    open bin PER GROUP VALUE it sees (the routed-sink case: a training
    sequence never spans two sinks). State is O(groups-in-shard).

    Scale shape: zero shuffles beyond the optional repartition; state
    is one open bin per group (Next-Fit: within 2x of optimal bin
    count — fine for training layout where padding waste, not bin
    optimality, is the metric).

    Seq ids are ``partitionId() << 40 | n``, where ``partitionId()`` is
    the task's index in the PLAN, not in this frame: two evaluations of
    one packing frame inside one plan (a self-union, ``exceptAll``,
    a self-join) number the same sequences differently. Compare or join
    packings only after each is committed or collected on its own.
    """
    _check_greedy_args(seq_len, oversized)
    groups = list(group_cols or [])
    src = df.select(id_col, n_tok_col, *groups)
    if num_partitions:
        src = src.repartition(num_partitions, id_col)

    keep_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in src.schema.fields
    )
    schema = (
        f"{keep_fields}, seq_id long, seq_fill long, oversized int,"
        " part_start long, part_len long"
    )

    def pack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ff = None
        for pdf in batches:
            if pdf.empty:
                continue
            ff = ff or _FirstFit(seq_len, oversized)
            toks = pdf[n_tok_col].astype("int64").to_numpy()
            if groups:
                keys = list(zip(*(pdf[g].to_numpy() for g in groups)))
            else:
                keys = [()] * len(toks)
            # one output row per part; ref = source row position (1:N
            # for split)
            parts = [
                p for i, t in enumerate(toks) for p in ff.place(keys[i], int(t), i)
            ]
            ff.drain()  # the layout needs only the parts ``place`` returns
            idx, seq_ids, fills, starts, lens, bigs = (
                zip(*parts) if parts else ((),) * 6
            )
            out = pdf.iloc[list(idx)].reset_index(drop=True)
            out["seq_id"] = np.asarray(seq_ids, dtype="int64")
            out["seq_fill"] = np.asarray(fills, dtype="int64")
            out["oversized"] = np.asarray(bigs, dtype="int32")
            out["part_start"] = np.asarray(starts, dtype="int64")
            out["part_len"] = np.asarray(lens, dtype="int64")
            yield out

    return src.mapInPandas(pack, schema=schema)


# the columns pack_greedy_sequences adds around the group columns
_SEQUENCE_COLS = ("seq_id", "tokens", "n_docs", "n_tokens", "pad", "parts")


class GreedyPacker(NamedTuple):
    """The greedy sequence pass of one packing, ready to run (see
    ``greedy_sequence_packer``)."""

    src: DataFrame  # (id, n_tok, *groups, tokens): the rows to pack
    sequence_schema: T.StructType  # pack_greedy_sequences' rows
    # Iterator[pa.RecordBatch] of ``src`` -> Iterator[pa.RecordBatch]
    batches: Callable


def greedy_sequence_packer(
    df: DataFrame,
    n_tok_col: str,
    id_col: str,
    seq_len: int,
    group_cols: Optional[list[str]] = None,
    oversized: str = "own",
    pad_id: Optional[int] = None,
) -> GreedyPacker:
    """The one first-fit-and-assemble generator behind the sequence
    emitters. ``batches`` runs inside a task over the Arrow batches of
    ``src`` (one partition): it drives ``_FirstFit`` and, for each set
    of bins the loop closes, yields the sequence batch (one row per
    sequence, ``sequence_schema``). ``pack_greedy_sequences`` returns
    the batches as a DataFrame; ``NorthStarPipeline.pack_sinks`` has
    its tasks write them as files (``SnapshotCatalog.write_tasks``).

    Seq ids carry the task's partition id in the whole plan (see
    ``pack_greedy``), so they are stable only within one evaluation.
    ``pack_sinks`` is unaffected: one job writes the sequences, and
    their layout is their own ``parts`` column.

    Each sequence's token array is cut and concatenated with NumPy
    straight from the Arrow list buffers (no per-token Python), the
    token slices of bins still open carry across Arrow batches, and
    every open bin is flushed at the end of the partition. ``pad_id``
    (when given) right-pads every sequence to exactly ``seq_len``; an
    ``"own"`` oversized sequence stays unpadded."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    _check_greedy_args(seq_len, oversized)
    groups = list(group_cols or [])
    src = df.select(id_col, n_tok_col, *groups, "tokens")
    field = {f.name: f for f in src.schema.fields}
    part_fields = [
        T.StructField("seq_fill", T.LongType()),
        T.StructField("oversized", T.IntegerType()),
        T.StructField("part_start", T.LongType()),
        T.StructField("part_len", T.LongType()),
    ]
    part_type = T.StructType([field[id_col], field[n_tok_col], *part_fields])
    seq_schema = T.StructType([
        T.StructField("seq_id", T.LongType()),
        *(field[g] for g in groups),
        field["tokens"],
        T.StructField("n_docs", T.LongType()),
        T.StructField("n_tokens", T.LongType()),
        T.StructField("pad", T.LongType()),
        T.StructField("parts", T.ArrayType(part_type)),
    ])
    seq_arrow = to_arrow_schema(seq_schema)
    tok_type = seq_arrow.field("tokens").type
    pad_dtype = tok_type.value_type.to_pandas_dtype()
    part_arrow = list(seq_arrow.field("parts").type.value_type)

    def offsets(lengths: list) -> pa.Array:
        return pa.array(np.concatenate([[0], np.cumsum(lengths)]).astype(np.int32))

    def assemble(bins: list) -> pa.RecordBatch:
        pieces, rows, seq_lens, n_docs, n_tokens = [], [], [], [], []
        for b in bins:
            n = 0
            for (doc_id, n_tok, toks), _sid, fill, start, length, big in b.parts:
                piece = toks[start:start + length]
                pieces.append(piece)
                n += len(piece)
                rows.append((doc_id, n_tok, fill, int(big), start, length))
            if pad_id is not None and n < seq_len:
                pieces.append(np.full(seq_len - n, pad_id, dtype=pad_dtype))
            seq_lens.append(max(n, seq_len) if pad_id is not None else n)
            n_docs.append(len({p[0][0] for p in b.parts}))
            n_tokens.append(n)
        parts = pa.StructArray.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(zip(*rows), part_arrow)],
            fields=part_arrow,
        )
        n_parts = [len(b.parts) for b in bins]
        n_tokens_arr = np.asarray(n_tokens, dtype=np.int64)
        return pa.RecordBatch.from_arrays([
            pa.array([b.seq_id for b in bins], type=pa.int64()),
            *(
                pa.array([b.key[j] for b in bins], type=seq_arrow.field(g).type)
                for j, g in enumerate(groups)
            ),
            pa.ListArray.from_arrays(
                offsets(seq_lens),
                pa.array(np.concatenate(pieces), type=tok_type.value_type),
                type=tok_type,
            ),
            pa.array(np.asarray(n_docs, dtype=np.int64)),
            pa.array(n_tokens_arr),
            pa.array(np.maximum(seq_len - n_tokens_arr, 0)),
            pa.ListArray.from_arrays(offsets(n_parts), parts),
        ], schema=seq_arrow)

    def pack(batches):
        ff = None
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ff = ff or _FirstFit(seq_len, oversized)
            col = batch.column
            ids = col(id_col).to_pylist()
            n_toks = col(n_tok_col).to_pylist()
            keys = (
                list(zip(*(col(g).to_pylist() for g in groups)))
                if groups else [()] * batch.num_rows
            )
            lists = col("tokens")
            offs = lists.offsets.to_numpy()
            vals = lists.values.to_numpy()
            for i in range(batch.num_rows):
                # a view into this batch's buffer: open bins keep it alive
                doc = (ids[i], n_toks[i], vals[offs[i]:offs[i + 1]])
                ff.place(keys[i], int(n_toks[i]), doc)
            done = ff.drain()
            if done:
                yield assemble(done)
        if ff is not None:
            done = ff.drain(final=True)
            if done:
                yield assemble(done)

    return GreedyPacker(src, seq_schema, pack)


def pack_greedy_sequences(
    df: DataFrame,
    n_tok_col: str,
    id_col: str,
    seq_len: int,
    group_cols: Optional[list[str]] = None,
    oversized: str = "own",
    pad_id: Optional[int] = None,
) -> DataFrame:
    """``pack_greedy`` + ``materialize_greedy_sequences`` in ONE
    partition-local pass — the SEQUENCE emitter. Same first-fit loop,
    same seq ids, same ``oversized`` / ``group_cols`` semantics; one row
    per sequence:

      (seq_id, *group_cols, tokens, n_docs, n_tokens, pad, parts)

    ``parts`` is ``array<struct<id_col, n_tok_col, seq_fill, oversized,
    part_start, part_len>>`` in fill order — the document boundaries a
    loader needs for document-masked attention, and exactly the
    ``pack_greedy`` rows of this sequence (``sequence_layout`` explodes
    them back into that layout).

    A ``mapInArrow`` over ``(id, n_tok, *groups, tokens)`` (the token
    array column is always ``tokens``) running
    ``greedy_sequence_packer``. No shuffle, no join: the documents of
    one sequence already sit in one partition.

    As with ``pack_greedy``, seq ids depend on the task's partition id
    in the whole plan: a self-union or ``exceptAll`` over one
    ``pack_greedy_sequences`` frame evaluates it twice with different
    ids, so ``seqs.exceptAll(seqs)`` keeps every row instead of none.
    """
    packer = greedy_sequence_packer(
        df, n_tok_col, id_col, seq_len, group_cols, oversized, pad_id
    )
    return packer.src.mapInArrow(packer.batches, packer.sequence_schema)


def sequence_layout(seqs: DataFrame) -> DataFrame:
    """The ``pack_greedy`` layout of a ``pack_greedy_sequences`` table:
    ``explode(parts)``, one row per part, columns in ``pack_greedy``
    order. Narrow and codegen'd — it reads only ``seq_id``, the group
    columns (every column the emitter does not add itself) and
    ``parts``, never a token."""
    groups = [c for c in seqs.columns if c not in _SEQUENCE_COLS]
    doc_col, n_tok_col = seqs.schema["parts"].dataType.elementType.names[:2]
    p = seqs.select(*groups, "seq_id", F.explode("parts").alias("__p"))
    return p.select(
        F.col(f"__p.{doc_col}").alias(doc_col),
        F.col(f"__p.{n_tok_col}").alias(n_tok_col),
        *groups,
        "seq_id",
        *(
            F.col(f"__p.{c}").alias(c)
            for c in ("seq_fill", "oversized", "part_start", "part_len")
        ),
    )


def pack_stats(packed: DataFrame, seq_len: int, n_tok_col: str = "n_tok") -> DataFrame:
    """Per-corpus packing quality: sequence count, mean fill ratio,
    padding waste. One map-side-combined aggregate. Uses ``part_len``
    (the tokens this row actually contributes) when the layout carries
    it — under the split/truncate policies a row's ``n_tok`` is the
    whole document, not its chunk."""
    contrib = (
        F.col("part_len") if "part_len" in packed.columns else F.col(n_tok_col)
    )
    per_seq = packed.groupBy("seq_id").agg(
        F.sum(contrib.cast("long")).alias("seq_tokens"),
        F.count("*").alias("n_docs"),
    )
    return per_seq.agg(
        F.count("*").alias("n_sequences"),
        F.sum("seq_tokens").alias("total_tokens"),
        F.avg(F.col("seq_tokens") / F.lit(seq_len)).alias("mean_fill"),
        F.sum(
            F.greatest(F.lit(seq_len) - F.col("seq_tokens"), F.lit(0))
        ).alias("padding_tokens"),
        F.max("n_docs").alias("max_docs_per_seq"),
    )


# ---------------------------------------------------------------------------
# sequence materialization: layout -> the actual (seq_id, tokens) table
# ---------------------------------------------------------------------------


def _ordered_flatten(parts_struct: F.Column) -> F.Column:
    """Flatten an array<struct<fill:long, toks:array>> in fill order.
    The comparator sorts by the fill offset alone (unique within a
    sequence by construction), so array-valued struct fields never need
    to be comparable."""
    ordered = F.array_sort(
        parts_struct,
        lambda a, b: F.when(a["fill"] < b["fill"], F.lit(-1))
        .when(a["fill"] > b["fill"], F.lit(1))
        .otherwise(F.lit(0)),
    )
    return F.flatten(F.transform(ordered, lambda x: x["toks"]))


def materialize_greedy_sequences(
    layout: DataFrame,
    docs: DataFrame,
    seq_len: int,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    keep_cols: Optional[list[str]] = None,
    pad_id: Optional[int] = None,
) -> DataFrame:
    """Turn a ``pack_greedy`` layout into the physical sequence table —
    the north-star deliverable ("tables of pre-tokenized training
    sequences"), one row per sequence:

      (seq_id, *keep_cols, tokens array, n_docs, n_tokens, pad)

    Each layout row contributes ``slice(tokens, part_start+1,
    part_len)`` of its document (the whole doc for unsplit rows), parts
    are concatenated in ``seq_fill`` order, and ``pad_id`` (when given)
    right-pads every sequence to exactly ``seq_len`` tokens. Sequences
    longer than seq_len can only arise from the ``oversized="own"``
    policy and are emitted unpadded (flagged upstream).

    ``keep_cols`` (e.g. ``["sink"]``) are constant within a sequence by
    group purity and carried via first().

    Scale shape: one shuffle join on ``id_col`` to fetch token arrays,
    one groupBy(seq_id) to assemble — both keyed, skew-free (a sequence
    holds ≤ seq_len tokens), no Python. Everything else is codegen
    (slice / array_sort / flatten / concat). For a layout computed in
    the same job ``pack_greedy_sequences`` gives the same rows with
    neither shuffle; this path materializes a layout committed earlier.
    """
    keep = list(keep_cols or [])
    lay_cols = [id_col, "seq_id", "seq_fill", "part_start", "part_len", *keep]
    joined = layout.select(*lay_cols).join(
        docs.select(id_col, tokens_col), id_col
    )
    part = F.slice(
        F.col(tokens_col), F.col("part_start").cast("int") + F.lit(1),
        F.col("part_len").cast("int"),
    )
    parts = joined.select(
        "seq_id",
        *keep,
        F.col(id_col),
        F.struct(F.col("seq_fill").alias("fill"), part.alias("toks")).alias("__p"),
    )
    agg = parts.groupBy("seq_id").agg(
        *[F.first(c).alias(c) for c in keep],
        _ordered_flatten(F.collect_list("__p")).alias("__toks"),
        F.count_distinct(F.col(id_col)).alias("n_docs"),
    )
    n_tokens = F.size("__toks").cast("long")
    toks = F.col("__toks")
    if pad_id is not None:
        elem_type = joined.schema[tokens_col].dataType.elementType.simpleString()
        pad_arr = F.array_repeat(
            F.lit(pad_id).cast(elem_type),
            F.greatest(F.lit(seq_len) - F.size("__toks"), F.lit(0)),
        )
        toks = F.concat(toks, pad_arr)
    return agg.select(
        "seq_id",
        *keep,
        toks.alias(tokens_col),
        "n_docs",
        n_tokens.alias("n_tokens"),
        F.greatest(F.lit(seq_len).cast("long") - n_tokens, F.lit(0).cast("long")).alias("pad"),
    )


def materialize_chunked_sequences(
    layout: DataFrame,
    seq_len: int,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """Turn a ``pack_chunked`` layout (which must still carry the token
    arrays) into the physical sequence table: one row per fixed-length
    sequence, documents SPLIT at sequence boundaries exactly as the
    chunked contract dictates. Every sequence except the corpus's last
    holds exactly ``seq_len`` tokens.

      (seq_id, tokens array, n_docs, n_tokens)

    Per doc: explode its sequence span [first_seq..last_seq]; for
    sequence s the doc contributes tokens
    [max(0, s*L - off) .. min(n_tok, (s+1)*L - off)) — a codegen'd
    slice. Then one groupBy(seq_id) assembles parts in global_offset
    order. Same scale shape as the greedy materializer: the explode is
    bounded (a doc spans ceil(n_tok/L)+1 sequences), both shuffles are
    keyed and skew-free."""
    L = int(seq_len)
    spans = layout.withColumn(
        "__seq", F.explode(F.sequence(F.col("first_seq"), F.col("last_seq")))
    )
    start_in_doc = F.greatest(
        F.col("__seq") * F.lit(L) - F.col("global_offset"), F.lit(0).cast("long")
    )
    end_in_doc = F.least(
        F.size(F.col(tokens_col)).cast("long"),
        (F.col("__seq") + 1) * F.lit(L) - F.col("global_offset"),
    )
    part = F.slice(
        F.col(tokens_col),
        start_in_doc.cast("int") + F.lit(1),
        F.greatest(end_in_doc - start_in_doc, F.lit(0).cast("long")).cast("int"),
    )
    parts = spans.select(
        F.col("__seq").alias("seq_id"),
        F.col(id_col),
        F.struct(
            F.col("global_offset").alias("fill"), part.alias("toks")
        ).alias("__p"),
    )
    agg = parts.groupBy("seq_id").agg(
        _ordered_flatten(F.collect_list("__p")).alias(tokens_col),
        F.count_distinct(F.col(id_col)).alias("n_docs"),
    )
    return agg.select(
        "seq_id",
        F.col(tokens_col),
        "n_docs",
        F.size(tokens_col).cast("long").alias("n_tokens"),
    )
