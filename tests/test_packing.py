"""Sequence packing (qsvspark.functions.packing) + round-4 text ops:
decontamination, PII scrub, repetition signals.

Packing invariants are checked against a single-threaded Python model —
the distributed prefix sum must agree exactly with the naive global
cumsum, and the greedy packer must satisfy the bin constraints for any
partitioning.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from qsvspark.functions import (
    add_repetition_signals,
    contamination,
    materialize_chunked_sequences,
    materialize_greedy_sequences,
    pack_chunked,
    pack_greedy,
    pack_greedy_sequences,
    pack_stats,
    scrub_pii,
    sequence_layout,
    word_ngrams,
)

SEQ_LEN = 64


def _docs(spark, n=200):
    """Deterministic (id, n_tok) corpus with ragged sizes incl. an
    oversized doc and a zero-token doc."""
    rows = []
    for i in range(n):
        tok = (i * 37) % 120 + 1
        if i == 50:
            tok = SEQ_LEN * 3 + 7  # oversized
        if i == 51:
            tok = 0
        rows.append((i, tok))
    return spark.createDataFrame(rows, "doc_id long, n_tok long"), dict(rows)


# --------------------------------------------------------------------
# pack_chunked
# --------------------------------------------------------------------


def _model_chunked(tok_by_id, seq_len):
    out = {}
    off = 0
    for i in sorted(tok_by_id):
        t = tok_by_id[i]
        first = off // seq_len
        last = (off + max(t, 1) - 1) // seq_len
        out[i] = (off, first, last, int(last > first))
        off += t
    return out


@pytest.mark.parametrize("n_buckets", [1, 4, 16])
def test_pack_chunked_matches_global_cumsum(spark, n_buckets):
    df, toks = _docs(spark)
    got = {
        r["doc_id"]: (
            r["global_offset"], r["first_seq"], r["last_seq"], r["spans_boundary"]
        )
        for r in pack_chunked(df, "n_tok", "doc_id", SEQ_LEN, n_buckets=n_buckets)
        .collect()
    }
    assert got == _model_chunked(toks, SEQ_LEN)


def test_pack_chunked_explicit_bucket_col(spark):
    # caller-supplied deterministic bucket (the metadata-driven scale
    # path that skips the min/max pass) gives the same layout
    df, toks = _docs(spark)
    df = df.withColumn("day", (F.col("doc_id") / 50).cast("long"))
    got = {
        r["doc_id"]: r["global_offset"]
        for r in pack_chunked(df, "n_tok", "doc_id", SEQ_LEN, bucket_col="day")
        .collect()
    }
    model = _model_chunked(toks, SEQ_LEN)
    assert got == {i: m[0] for i, m in model.items()}


def test_pack_chunked_empty(spark):
    df = spark.createDataFrame([], "doc_id long, n_tok long")
    assert pack_chunked(df, "n_tok", "doc_id", SEQ_LEN).count() == 0


def test_pack_chunked_no_single_partition_window(spark):
    # the scale property: the window is keyed on the range bucket, so the
    # physical plan must NOT contain an empty-key window sort
    df, _ = _docs(spark)
    plan = pack_chunked(df, "n_tok", "doc_id", SEQ_LEN, n_buckets=8)._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan
    # an un-partitioned window renders as "Window [...], [order...]" with
    # SinglePartition exchange feeding it
    assert "SinglePartition" not in plan


# --------------------------------------------------------------------
# pack_greedy
# --------------------------------------------------------------------


@pytest.mark.parametrize("parts", [1, 3, 8])
def test_pack_greedy_invariants(spark, parts):
    df, toks = _docs(spark)
    packed = pack_greedy(df, "n_tok", "doc_id", SEQ_LEN, num_partitions=parts).collect()
    # every doc packed exactly once
    assert sorted(r["doc_id"] for r in packed) == sorted(toks)
    by_seq: dict[int, int] = {}
    for r in packed:
        assert r["n_tok"] == toks[r["doc_id"]]
        by_seq[r["seq_id"]] = by_seq.get(r["seq_id"], 0) + r["n_tok"]
        # seq_fill is the occupancy before this doc
        assert 0 <= r["seq_fill"] <= SEQ_LEN
        assert r["oversized"] == (1 if toks[r["doc_id"]] > SEQ_LEN else 0)
    for sid, total in by_seq.items():
        docs_in = [r for r in packed if r["seq_id"] == sid]
        if any(r["oversized"] for r in docs_in):
            # an oversized doc owns its sequence
            assert len(docs_in) == 1
        else:
            assert total <= SEQ_LEN


def test_pack_greedy_fill_is_prefix_sum_within_seq(spark):
    df, _ = _docs(spark)
    packed = pack_greedy(df, "n_tok", "doc_id", SEQ_LEN, num_partitions=2).collect()
    seqs: dict[int, list] = {}
    for r in packed:
        seqs.setdefault(r["seq_id"], []).append(r)
    for rows in seqs.values():
        rows.sort(key=lambda r: r["seq_fill"])
        acc = 0
        for r in rows:
            assert r["seq_fill"] == acc
            acc += r["n_tok"]


def test_pack_stats(spark):
    df, toks = _docs(spark)
    packed = pack_greedy(df, "n_tok", "doc_id", SEQ_LEN, num_partitions=4)
    s = pack_stats(packed, SEQ_LEN, "n_tok").first()
    total, biggest = sum(toks.values()), max(toks.values())
    assert s["total_tokens"] == total
    # a sequence holds at most max(seq_len, biggest_doc) tokens
    assert s["n_sequences"] >= total // max(SEQ_LEN, biggest)
    assert 0 < s["mean_fill"] <= biggest / SEQ_LEN


def test_pack_rejects_bad_seq_len(spark):
    df, _ = _docs(spark, n=5)
    with pytest.raises(ValueError):
        pack_chunked(df, "n_tok", "doc_id", 0)
    with pytest.raises(ValueError):
        pack_greedy(df, "n_tok", "doc_id", -1)


# --------------------------------------------------------------------
# oversized policies (split / truncate) + sequence materialization
# --------------------------------------------------------------------


def _token_docs(spark, n=120):
    """Docs carrying REAL token arrays (token j of doc i = i*1000+j, so
    every slice is verifiable), incl. oversized and zero-token docs."""
    rows = []
    for i in range(n):
        tok = (i * 37) % 120 + 1
        if i == 50:
            tok = SEQ_LEN * 3 + 7  # oversized
        if i == 51:
            tok = 0
        rows.append((i, tok, [i * 1000 + j for j in range(tok)]))
    df = spark.createDataFrame(
        rows, "doc_id long, n_tok long, tokens array<int>"
    )
    return df, {i: t for i, t, _ in rows}, {i: a for i, _, a in rows}


@pytest.mark.parametrize("parts", [1, 4])
def test_pack_greedy_split_reassembles_token_exact(spark, parts):
    df, toks, _ = _token_docs(spark)
    packed = pack_greedy(
        df, "n_tok", "doc_id", SEQ_LEN, num_partitions=parts, oversized="split"
    ).collect()
    # per doc: chunks cover [0, n_tok) contiguously, token-exact
    by_doc: dict[int, list] = {}
    for r in packed:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert sorted(by_doc) == sorted(toks)
    for i, chunks in by_doc.items():
        chunks.sort(key=lambda r: r["part_start"])
        pos = 0
        for c in chunks:
            assert c["part_start"] == pos
            pos += c["part_len"]
        assert pos == toks[i]
        if toks[i] > SEQ_LEN:
            assert all(c["oversized"] == 1 for c in chunks)
        else:
            assert len(chunks) == 1 and chunks[0]["part_len"] == toks[i]
    # per sequence: contributed tokens never exceed seq_len — split means
    # NO flagged over-length sequences exist at all
    by_seq: dict[int, int] = {}
    for r in packed:
        assert r["seq_fill"] + r["part_len"] <= SEQ_LEN
        by_seq[r["seq_id"]] = by_seq.get(r["seq_id"], 0) + r["part_len"]
    assert all(v <= SEQ_LEN for v in by_seq.values())
    # zero waste FROM the oversized docs themselves: every chunk except
    # the doc's last fills its sequence to exactly seq_len (normal docs
    # still pack greedy no-split, so corpus-wide waste is unchanged)
    for i, chunks in by_doc.items():
        for c in chunks[:-1]:
            assert c["seq_fill"] + c["part_len"] == SEQ_LEN


def test_pack_greedy_truncate(spark):
    df, toks, _ = _token_docs(spark)
    packed = pack_greedy(
        df, "n_tok", "doc_id", SEQ_LEN, num_partitions=2, oversized="truncate"
    ).collect()
    assert sorted(r["doc_id"] for r in packed) == sorted(toks)  # one row/doc
    by_seq: dict[int, int] = {}
    for r in packed:
        big = toks[r["doc_id"]] > SEQ_LEN
        assert r["oversized"] == (1 if big else 0)
        assert r["part_start"] == 0
        assert r["part_len"] == (SEQ_LEN if big else toks[r["doc_id"]])
        by_seq[r["seq_id"]] = by_seq.get(r["seq_id"], 0) + r["part_len"]
    # truncated docs pack like full-length docs: bin bound always holds
    assert all(v <= SEQ_LEN for v in by_seq.values())


def test_pack_greedy_own_never_shares_even_with_zero_token_doc(spark):
    # regression: a zero-token doc leaves its bin at fill 0; the bin is
    # NOT fresh, and an oversized doc must still open its own sequence
    df = spark.createDataFrame(
        [(0, 0), (1, SEQ_LEN * 2)], "doc_id long, n_tok long"
    )
    packed = pack_greedy(df, "n_tok", "doc_id", SEQ_LEN, num_partitions=1).collect()
    seq_of = {r["doc_id"]: r["seq_id"] for r in packed}
    assert seq_of[0] != seq_of[1]


def _expected_sequences(layout_rows, doc_tokens):
    """Python model: per seq_id, concat doc slices in seq_fill order."""
    seqs: dict[int, list] = {}
    for r in layout_rows:
        seqs.setdefault(r["seq_id"], []).append(r)
    out = {}
    for sid, rows in seqs.items():
        rows.sort(key=lambda r: r["seq_fill"])
        toks: list[int] = []
        for r in rows:
            toks.extend(
                doc_tokens[r["doc_id"]][r["part_start"]: r["part_start"] + r["part_len"]]
            )
        out[sid] = (toks, len({r["doc_id"] for r in rows}))
    return out


@pytest.mark.parametrize("policy", ["own", "split"])
def test_materialize_greedy_sequences_token_equality(spark, policy):
    PAD = -1
    df, toks, arrays = _token_docs(spark)
    layout = pack_greedy(
        df, "n_tok", "doc_id", SEQ_LEN, num_partitions=4, oversized=policy
    )
    layout_rows = layout.collect()
    expected = _expected_sequences(layout_rows, arrays)
    got = {
        r["seq_id"]: r
        for r in materialize_greedy_sequences(
            layout, df.select("doc_id", "tokens"), SEQ_LEN,
            pad_id=PAD,
        ).collect()
    }
    assert sorted(got) == sorted(expected)
    for sid, (etoks, endocs) in expected.items():
        r = got[sid]
        assert r["n_docs"] == endocs
        assert r["n_tokens"] == len(etoks)
        assert r["pad"] == max(0, SEQ_LEN - len(etoks))
        if len(etoks) <= SEQ_LEN:
            assert len(r["tokens"]) == SEQ_LEN  # exactly padded
            assert r["tokens"] == etoks + [PAD] * (SEQ_LEN - len(etoks))
        else:  # oversized="own" flagged solo sequence: emitted unpadded
            assert policy == "own"
            assert r["tokens"] == etoks
    # token conservation: every input token lands in exactly one sequence
    n_real = sum(r["n_tokens"] for r in got.values())
    assert n_real == sum(toks.values())


def test_materialize_greedy_keep_cols_and_no_pad(spark):
    df, _, arrays = _token_docs(spark, n=40)
    df = df.withColumn("sink", (F.col("doc_id") % 2).cast("string"))
    layout = pack_greedy(
        df, "n_tok", "doc_id", SEQ_LEN, num_partitions=2, group_cols=["sink"]
    )
    seqs = materialize_greedy_sequences(
        layout, df.select("doc_id", "tokens"), SEQ_LEN,
        keep_cols=["sink"], pad_id=None,
    ).collect()
    doc_sink = {i: str(i % 2) for i in range(40)}
    for r in seqs:
        # group purity: every token in the sequence belongs to the sink
        firsts = {t // 1000 for t in r["tokens"]}
        assert {doc_sink[d] for d in firsts} == {r["sink"]}
        assert len(r["tokens"]) == r["n_tokens"]  # pad_id=None: no padding


def _random_token_docs(spark, seed, n=150, parts=3):
    """Seeded ragged corpus in fixed partitions (row order within a
    partition is what the first-fit loop sees): zero-token docs,
    oversized docs up to 3x SEQ_LEN, two sinks, token j of doc i =
    i*1000+j."""
    import random

    rng = random.Random(seed)
    rows = []
    for i in range(n):
        r = rng.random()
        if r < 0.05:
            tok = 0
        elif r < 0.15:
            tok = rng.randint(SEQ_LEN + 1, 3 * SEQ_LEN)
        else:
            tok = rng.randint(1, SEQ_LEN)
        sink = f"s{rng.randint(0, 1)}"
        rows.append((i, tok, sink, [i * 1000 + j for j in range(tok)]))
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, parts),
        "doc_id long, n_tok long, sink string, tokens array<int>",
    )


@pytest.mark.parametrize("group_cols", [None, ["sink"]])
@pytest.mark.parametrize("pad_id", [-1, None])
@pytest.mark.parametrize("policy", ["own", "split", "truncate"])
def test_pack_greedy_sequences_matches_layout_plus_materialize(
    spark, policy, pad_id, group_cols
):
    """The one-pass sequence emitter equals the two-step path
    (pack_greedy layout, then the join + groupBy materializer) on the
    same input frame: same seq ids, token arrays, counts and padding,
    and its ``parts`` explode back into exactly the pack_greedy layout."""
    df = _random_token_docs(spark, seed=f"{policy}|{pad_id}|{group_cols}")
    keep = list(group_cols or [])
    layout = pack_greedy(
        df, "n_tok", "doc_id", SEQ_LEN, group_cols=group_cols, oversized=policy
    )
    want_rows = materialize_greedy_sequences(
        layout, df, SEQ_LEN, keep_cols=keep, pad_id=pad_id
    ).collect()
    seqs = pack_greedy_sequences(
        df, "n_tok", "doc_id", SEQ_LEN, group_cols=group_cols,
        oversized=policy, pad_id=pad_id,
    )
    got_rows = seqs.collect()
    cols = ["seq_id", *keep, "tokens", "n_docs", "n_tokens", "pad"]
    want = {r["seq_id"]: tuple(r[c] for c in cols) for r in want_rows}
    got = {r["seq_id"]: tuple(r[c] for c in cols) for r in got_rows}
    assert len(got) == len(got_rows)  # one row per sequence
    assert got == want
    # parts are in fill order and are exactly the layout rows
    for r in got_rows:
        fills = [p["seq_fill"] for p in r["parts"]]
        assert fills == sorted(fills)
    assert sorted(map(tuple, sequence_layout(seqs).collect())) == sorted(
        map(tuple, layout.collect())
    )
    assert sequence_layout(seqs).columns == layout.columns


def test_materialize_chunked_sequences_exact(spark):
    df, toks, arrays = _token_docs(spark, n=60)
    layout = pack_chunked(df, "n_tok", "doc_id", SEQ_LEN, n_buckets=4)
    got = {
        r["seq_id"]: r
        for r in materialize_chunked_sequences(layout, SEQ_LEN).collect()
    }
    # model: concat all docs in doc_id order, cut at seq_len boundaries
    stream: list[int] = []
    for i in sorted(arrays):
        stream.extend(arrays[i])
    n_seq = (len(stream) + SEQ_LEN - 1) // SEQ_LEN
    assert sorted(got) == list(range(n_seq))
    for s in range(n_seq):
        chunk = stream[s * SEQ_LEN: (s + 1) * SEQ_LEN]
        assert got[s]["tokens"] == chunk
        assert got[s]["n_tokens"] == len(chunk)
        # every sequence except the corpus tail is exactly full
        if s < n_seq - 1:
            assert got[s]["n_tokens"] == SEQ_LEN


def test_contamination_broadcast_guard(spark):
    """VERDICT r4 #3: Spark honors an explicit broadcast hint regardless
    of size, so the hint must be size-guarded. Over the threshold the
    gram join runs un-hinted (observable as a shuffle join once
    autoBroadcastJoinThreshold is disabled) with identical output."""
    df = _text_df(spark)
    bench, cand = df.filter("doc_id = 0"), df.filter("doc_id != 0")
    want = {r["doc_id"]: r["n_matched"]
            for r in contamination(cand, bench, n=3).collect()}
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        guarded = contamination(cand, bench, n=3, max_broadcast_bytes=1)
        got = {r["doc_id"]: r["n_matched"] for r in guarded.collect()}
        plan = guarded._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        assert "BroadcastHashJoin" not in final
        # under the threshold the hint stays, beating the disabled
        # auto-broadcast: the default path still broadcasts
        hinted = contamination(cand, bench, n=3)
        hinted.collect()
        hplan = hinted._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in hplan.split("== Initial Plan ==")[0]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert got == want


# --------------------------------------------------------------------
# decontamination / PII / repetition
# --------------------------------------------------------------------


def _text_df(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "quick brown fox is here"),          # shares "quick brown fox"
        (2, "completely unrelated words entirely"),
        (3, "the quick brown fox jumps again and again"),
        (4, "short"),                            # < n words -> no grams
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_word_ngrams(spark):
    df = _text_df(spark).select(word_ngrams(F.col("text"), 3).alias("g"))
    g0 = df.collect()[0]["g"]
    assert g0[0] == "the quick brown" and g0[-1] == "the lazy dog"
    assert df.collect()[4]["g"] == []


def test_contamination_flags_overlap_only(spark):
    df = _text_df(spark)
    bench = df.filter("doc_id = 0")
    cand = df.filter("doc_id != 0")
    got = {r["doc_id"]: r["n_matched"] for r in contamination(cand, bench, n=3).collect()}
    # doc1 shares exactly "quick brown fox"; doc3 shares 3 distinct grams
    assert got[1] == 1
    assert got[3] == 3
    assert 2 not in got and 4 not in got


def test_scrub_pii_all_patterns(spark):
    df = spark.createDataFrame(
        [(1, "mail a.b+c@ex-ample.co.uk ip 192.168.0.1 ssn 123-45-6789 "
             "tel 555-123-4567 plain 12345")],
        "id long, s string",
    )
    out = df.select(scrub_pii(F.col("s")).alias("s")).first()["s"]
    assert out == "mail <EMAIL> ip <IP> ssn <SSN> tel <PHONE> plain 12345"


def test_scrub_pii_phone_breadth(spark):
    # VERDICT r4 #7: parenthesized area codes and international +CC
    # forms; the wider patterns run FIRST so the bare NNN-NNN-NNNN rule
    # can't eat the tail and strand the "+1 "/"(555) " prefix
    cases = [
        ("call (555) 123-4567 now", "call <PHONE> now"),
        ("intl +1 555 123 4567 ok", "intl <PHONE> ok"),
        ("uk +44 20 7946 0958 ok", "uk <PHONE> ok"),
        ("(555)123-4567", "<PHONE>"),
        ("bare 555.123.4567", "bare <PHONE>"),
    ]
    df = spark.createDataFrame(
        [(i, s) for i, (s, _) in enumerate(cases)], "id long, s string"
    )
    got = {r["id"]: r["s"]
           for r in df.select("id", scrub_pii(F.col("s")).alias("s")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)


def test_repetition_signals_vs_python(spark):
    from collections import Counter

    df = _text_df(spark)
    got = {r["doc_id"]: r for r in add_repetition_signals(df).collect()}
    for doc_id, text in [(r["doc_id"], r["text"]) for r in df.collect()]:
        ws = text.lower().split()
        bg = [" ".join(ws[i : i + 2]) for i in range(len(ws) - 1)]
        r = got[doc_id]
        assert r["total_words"] == len(ws)
        assert r["distinct_words"] == len(set(ws))
        assert r["top_word_count"] == max(Counter(ws).values())
        assert r["top_bigram_count"] == (max(Counter(bg).values()) if bg else 0)
