"""Seeded input generators. Every table the benchmark feeds the program is
made here with NumPy and written as parquet with pyarrow, so the program
sees only generated files and the benchmark knows their exact contents
(the output checks recompute expected answers from the same arrays).

Shapes follow the sf0.1 synthetic star schema (TPC-H-like tables plus an
``events`` stream and a ``documents`` text table) and the pre-tokenized
sequence table of ``qsvspark.pipeline.tokens.synth_tokens``.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1 row counts
LINEITEM_ROWS = 600_000
ORDERS_ROWS = 150_000
CUSTOMER_ROWS = 15_000
EVENTS_ROWS = 100_000
DOCUMENTS_ROWS = 5_000

# synth_tokens shape: doc_id "<source>/part-<shard>/doc-<rid>", Zipf(1.2)
# over 20 sources, n_tok uniform in [16, 512], ids in a GPT-2-size vocab
NUM_SOURCES = 20
ZIPF_S = 1.2
MIN_TOK, MAX_TOK = 16, 512
VOCAB = 50_257

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()

_US_PER_DAY = 86_400_000_000


def _epoch_us(day: dt.date) -> int:
    return (day - dt.date(1970, 1, 1)).days * _US_PER_DAY


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path)
    return os.path.getsize(path)


def make_star_tables(out_dir: str, seed: int) -> dict[str, int]:
    """lineitem, orders, customer, nation and events at sf0.1 size, one
    parquet file each. Returns {table: rows}."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    rows = {}

    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    _write(nation, os.path.join(out_dir, "nation.parquet"))
    rows["nation"] = 25

    n = CUSTOMER_ROWS
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n), 2)),
        "c_mktsegment": pa.array(segments[rng.integers(0, 5, n)]),
    })
    _write(customer, os.path.join(out_dir, "customer.parquet"))
    rows["customer"] = n

    n = ORDERS_ROWS
    d0 = _epoch_us(dt.date(1995, 1, 1))
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, CUSTOMER_ROWS, n, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n), 2)),
        "o_orderdate": _ts(d0 + rng.integers(0, 2404, n) * _US_PER_DAY),
        "o_orderpriority": pa.array(prio[rng.integers(0, 5, n)]),
    })
    _write(orders, os.path.join(out_dir, "orders.parquet"))
    rows["orders"] = n

    n = LINEITEM_ROWS
    qty = rng.integers(1, 51, n).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, ORDERS_ROWS, n, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, 20_000, n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, 1_000, n, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": _ts(d0 + rng.integers(1, 2499, n) * _US_PER_DAY),
    })
    _write(lineitem, os.path.join(out_dir, "lineitem.parquet"))
    rows["lineitem"] = n

    n = EVENTS_ROWS
    e0 = _epoch_us(dt.date(2024, 1, 1))
    ts = np.sort(rng.integers(0, 30 * _US_PER_DAY, n))
    kinds = np.array(["click", "error", "purchase", "signup", "view"])
    events = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts(e0 + ts),
        "user_id": pa.array(rng.integers(0, 1_500, n, dtype=np.int64)),
        "event_type": pa.array(kinds[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
    _write(events, os.path.join(out_dir, "events.parquet"))
    rows["events"] = n
    return rows


def make_documents(path: str, seed: int, n: int = DOCUMENTS_ROWS) -> int:
    """sf0.1-shaped ``documents``: 10-100 words drawn uniformly from a
    30-word vocabulary, 5% of documents are near-copies of an earlier one
    (a trailing ``dup`` word) and 8 are exact copies."""
    rng = np.random.default_rng([seed, 2])
    words = np.array(WORDS)
    texts = [
        " ".join(words[rng.integers(0, len(words), k)])
        for k in rng.integers(10, 101, n)
    ]
    targets = rng.choice(np.arange(n // 2, n), size=n // 20 + 8, replace=False)
    for j, t in enumerate(targets):
        src = int(rng.integers(0, t))
        texts[t] = texts[src] + (" dup" if j >= 8 else "")
    langs = np.array(["en", "en", "de", "es", "fr", "zh"])
    table = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": texts,
        "lang": pa.array(langs[rng.integers(0, len(langs), n)]),
        "source": [f"src{i % NUM_SOURCES}" for i in range(n)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    _write(table, path)
    return n


def _zipf_sources(rng: np.random.Generator, n: int) -> np.ndarray:
    w = 1.0 / np.arange(1, NUM_SOURCES + 1) ** ZIPF_S
    return rng.choice(NUM_SOURCES, size=n, p=w / w.sum())


class TokenTable:
    """One generated tokens table (doc_id, tokens, n_tok, source) kept in
    memory as flat NumPy arrays, so checks can recompute any expected
    count or token array without reading the program's output."""

    def __init__(self, rids, sources, n_tok, offsets, values, kept):
        self.rids = rids
        self.kept = kept  # False on rows that copy an earlier row's tokens
        self.sources = sources
        self.n_tok = n_tok
        self.offsets = offsets
        self.values = values

    @property
    def rows(self) -> int:
        return len(self.rids)

    def doc_ids(self) -> list[str]:
        shard = self.rids % 64
        return [
            f"src{s:02d}/part-{h:04d}/doc-{r:012d}"
            for s, h, r in zip(self.sources, shard, self.rids)
        ]

    def tokens_of(self, i: int) -> np.ndarray:
        return self.values[self.offsets[i]:self.offsets[i + 1]]

    def write(self, out_dir: str, files: int = 4) -> int:
        """Write as ``files`` parquet files (one per core, like a
        partitioned synth_tokens write). Returns bytes written."""
        os.makedirs(out_dir, exist_ok=True)
        table = pa.table({
            "doc_id": self.doc_ids(),
            "tokens": pa.ListArray.from_arrays(
                pa.array(self.offsets.astype(np.int32)),
                pa.array(self.values, type=pa.int32()),
            ),
            "n_tok": pa.array(self.n_tok.astype(np.int32)),
            "source": [f"src{s:02d}" for s in self.sources],
        })
        step = -(-self.rows // files)
        total = 0
        for f in range(files):
            part = table.slice(f * step, step)
            if part.num_rows:
                total += _write(part, os.path.join(out_dir, f"part-{f:03d}.parquet"))
        return total


def make_tokens(
    seed: int,
    n: int,
    id_offset: int = 0,
    copy_from: TokenTable | None = None,
    copies: int = 0,
) -> TokenTable:
    """``n`` token rows with doc ids ``id_offset .. id_offset+n-1``. The
    first ``copies`` rows (shuffled into place) repeat the token arrays of
    randomly chosen rows of ``copy_from`` under their fresh doc ids: exact
    duplicates a dedup stage must drop. Random arrays of >= 16 ids from a
    50k vocabulary never collide by chance, so ``copies`` is the exact
    duplicate count."""
    rng = np.random.default_rng([seed, 3, id_offset])
    rids = np.arange(id_offset, id_offset + n, dtype=np.int64)
    sources = _zipf_sources(rng, n)
    n_tok = rng.integers(MIN_TOK, MAX_TOK + 1, n).astype(np.int64)
    arrays = [None] * n
    kept = np.ones(n, bool)
    if copies:
        slots = rng.choice(n, size=copies, replace=False)
        picks = rng.choice(copy_from.rows, size=copies, replace=False)
        kept[slots] = False
        for slot, pick in zip(slots, picks):
            arrays[slot] = copy_from.tokens_of(int(pick))
            n_tok[slot] = len(arrays[slot])
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(n_tok, out=offsets[1:])
    values = rng.integers(0, VOCAB, int(offsets[-1]), dtype=np.int32)
    for i, arr in enumerate(arrays):
        if arr is not None:
            values[offsets[i]:offsets[i + 1]] = arr
    return TokenTable(rids, sources, n_tok, offsets, values, kept)
