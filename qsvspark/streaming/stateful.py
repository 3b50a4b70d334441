"""Custom stateful streaming operators via applyInPandasWithState.

The north-star mandate names ``applyInPandasWithState`` as the escape
hatch for operators Structured Streaming lacks natively; the first one a
training-data pipeline needs is CROSS-BATCH exact dedup: keep the first
arrival of each content key, drop every later duplicate — across
micro-batches and across restarts (state lives in the stream checkpoint,
RocksDB-backed per shuffle partition on a real cluster).

Scale design:
  - state is keyed on a 32-char content hash → the shuffle partitions
    the key space exactly like batch ``dedup_exact``'s groupBy;
  - per-key state is a single boolean-sized record ("seen"), so state
    size is O(distinct keys), the minimum any exact cross-batch dedup
    can hold;
  - a processing-time timeout (``ttl_minutes``) optionally expires idle
    keys so unbounded streams keep bounded state (near-dup windows at
    100 TB would combine this with the MinHash bucketing from
    qsvspark.functions.dedup instead of exact hashes).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from qsvspark.functions.dedup import _minhash_bands


def dedup_stream_exact(
    df: DataFrame,
    key_cols: list[str] | None = None,
    hash_expr=None,
    ttl_minutes: int | None = None,
) -> DataFrame:
    """Streaming exact dedup: emit only the FIRST row seen per content
    hash, across micro-batches. ``hash_expr`` defaults to md5 over the
    concatenated ``key_cols`` (default: doc_id).

    The emitted row set equals batch ``dedup_exact`` keep-first
    semantics under arrival order (asserted in tests/test_streaming.py).
    """
    key_cols = key_cols or ["doc_id"]
    h = hash_expr if hash_expr is not None else F.md5(
        F.concat_ws("\x1f", *[F.col(c).cast("string") for c in key_cols])
    )
    hashed = df.withColumn("__h", h)
    out_schema = df.schema
    cols = df.columns

    def keep_first(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()  # idle key expired — forget it (bounded state)
            return
        seen = state.exists
        arrived = False
        for pdf in pdfs:
            if not len(pdf):
                continue
            arrived = True
            if not seen:
                seen = True
                state.update((True,))
                yield pdf.iloc[[0]][cols]
        if arrived and ttl_minutes is not None:
            # refresh the idle clock on every arrival
            state.setTimeoutDuration(ttl_minutes * 60 * 1000)

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_minutes is not None
        else GroupStateTimeout.NoTimeout
    )
    return hashed.groupBy("__h").applyInPandasWithState(
        keep_first,
        outputStructType=out_schema,
        stateStructType="seen boolean",
        outputMode="append",
        timeoutConf=timeout,
    )


def dedup_stream_minhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 5,
    ttl_minutes: int | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Streaming NEAR-dup candidate pairs: the batch MinHash-LSH banding
    (qsvspark.functions.dedup.minhash_lsh_pairs, production affine
    family) with cross-micro-batch state — the 100-TB streaming plan the
    module docstring promises.

    Per micro-batch, each row goes through batch's own staged signature
    pipeline (dedup._minhash_bands: normalized text → one xxhash64 per
    shingle → affine lanes → band buckets), then state keyed on (band, bucket) holds the member
    ids seen so far: a new arrival emits one (id_a, id_b) candidate per
    existing member (id_a < id_b) and joins the bucket. Over any arrival
    order, the union of emitted pairs equals the batch candidate set on
    the same corpus (pytest-asserted); pairs sharing several buckets are
    emitted once per bucket — dedupe downstream exactly like batch's
    ``.distinct()``.

    Scale properties:
      - state is O(members) ids per bucket, sharded by the same
        (band, bucket) key the batch shuffle uses;
      - ``max_bucket_size`` caps degenerate buckets: a full bucket stops
        ADMITTING members (their pairs are exact/extreme dups — route
        through dedup_stream_exact first), bounding both state size and
        per-arrival emission at the cap (batch drops such buckets
        entirely at the end; a stream cannot retract, so it truncates);
      - ``ttl_minutes`` expires idle buckets, bounding unbounded streams.
    """
    banded = _minhash_bands(df, text_col, id_col, num_hashes, bands, k)

    id_type = dict(df.dtypes)[id_col]

    def emit_pairs(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        members: list = list(state.get[0]) if state.exists else []
        out_a: list = []
        out_b: list = []
        arrived = False
        for pdf in pdfs:
            for new_id in pdf[id_col]:
                arrived = True
                if max_bucket_size is not None and len(members) >= max_bucket_size:
                    continue  # bucket full — stop admitting (see docstring)
                for old in members:
                    a, b = (old, new_id) if old < new_id else (new_id, old)
                    out_a.append(a)
                    out_b.append(b)
                members.append(new_id)
        if arrived:
            state.update((members,))
            if ttl_minutes is not None:
                state.setTimeoutDuration(ttl_minutes * 60 * 1000)
        if out_a:
            yield pd.DataFrame({"id_a": out_a, "id_b": out_b})

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_minutes is not None
        else GroupStateTimeout.NoTimeout
    )
    return banded.groupBy("band", "bucket").applyInPandasWithState(
        emit_pairs,
        outputStructType=f"id_a {id_type}, id_b {id_type}",
        stateStructType=f"ids array<{id_type}>",
        outputMode="append",
        timeoutConf=timeout,
    )
