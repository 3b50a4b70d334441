"""Text analysis over document tables: token counting, quality scoring,
language ID, fingerprinting. Everything is a native Column expression —
per-document Python here would be the classic 100-TB mistake; these all
run inside whole-stage codegen and scale with executors."""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# BPE-ish segmentation: letter runs, digit runs, single non-space symbols.
# (portable subset — same semantics in Java regex and DuckDB's RE2)
BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def _ws_tokens(col: Column) -> Column:
    trimmed = F.trim(col)
    return F.when(F.length(trimmed) == 0, F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+")
    )


def add_token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace token count + BPE-ish regex token count."""
    c = F.col(text_col)
    return df.withColumns(
        {
            "n_ws_tokens": F.size(_ws_tokens(c)),
            "n_bpe_tokens": F.size(F.regexp_extract_all(c, F.lit(BPE_RE), F.lit(0))),
        }
    )


# tiny per-language stopword lists for the n-gram/stopword heuristic
_LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "as"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"],
    "fr": ["le", "la", "les", "et", "est", "pas", "pour", "que", "une", "dans"],
    "es": ["el", "la", "los", "que", "de", "no", "es", "por", "con", "para"],
}


def add_lang_id(df: DataFrame, text_col: str = "text", out_col: str = "lang_pred") -> DataFrame:
    """Heuristic language ID: count stopword hits per language over the
    lowercased word set; argmax wins (ties break in en>de>fr>es order).
    array_intersect on a ~10-word literal array is a codegen'd set probe."""
    words = F.array_distinct(_ws_tokens(F.lower(F.col(text_col))))
    scores = {
        lang: F.size(F.array_intersect(words, F.array(*[F.lit(w) for w in sw])))
        for lang, sw in _LANG_STOPWORDS.items()
    }
    best = F.greatest(*scores.values())
    expr = F.lit("unknown")
    for lang in reversed(list(_LANG_STOPWORDS)):  # earlier langs win ties
        expr = F.when((scores[lang] > 0) & (scores[lang] == best), F.lit(lang)).otherwise(expr)
    return df.withColumn(out_col, expr)


def add_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality heuristics: length, punctuation ratio, stopword ratio,
    mean word length, and a composite score in [0,1]."""
    c = F.col(text_col)
    n_chars = F.length(c)
    words = _ws_tokens(c)
    n_words = F.size(words)
    n_punct = F.size(F.regexp_extract_all(c, F.lit(r"[^\w\s]"), F.lit(0)))
    sw = F.array(*[F.lit(w) for w in _LANG_STOPWORDS["en"]])
    n_stop = F.size(F.array_intersect(F.array_distinct(_ws_tokens(F.lower(c))), sw))
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    mean_wlen = F.when(n_words > 0, (n_chars - (n_words - 1)) / n_words).otherwise(F.lit(0.0))
    # composite: long enough, not punctuation soup, some stopwords
    score = (
        F.least(n_words / F.lit(100.0), F.lit(1.0)) * 0.4
        + (1 - F.least(punct_ratio * 5, F.lit(1.0))) * 0.3
        + F.least(n_stop / F.lit(5.0), F.lit(1.0)) * 0.3
    )
    return df.withColumns(
        {
            "q_n_words": n_words,
            "q_punct_ratio": F.round(punct_ratio, 6),
            "q_stopword_hits": n_stop,
            "q_mean_word_len": F.round(mean_wlen, 6),
            "q_score": F.round(score, 6),
        }
    )


def add_fingerprint(df: DataFrame, text_col: str = "text", out_col: str = "fingerprint") -> DataFrame:
    """Deterministic document fingerprint: md5 of whitespace-normalized
    lowercased text (md5 renders identically in Spark and DuckDB, so the
    oracle can verify it byte-for-byte)."""
    norm = F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))
    return df.withColumn(out_col, F.md5(norm))


# ---------------------------------------------------------------------------
# round 4: decontamination, PII scrubbing, repetition signals
# ---------------------------------------------------------------------------


def _gram_fold(arr: Column, n: int, start: Column, step, empty_type: str) -> Column:
    """One value per length-n window of ``arr``, ELEMENT-WISE: starting
    from ``start`` (``arr`` or a per-element map of it), fold ``step``
    in by zip_with against each of the n-1 shifted copies of ``arr``
    (n-1 whole-array slices + n-1 element-wise steps, O(n·len) total).
    The obvious ``transform(sequence(...), i -> f(slice(arr, i, n)))``
    copies an n-element sub-array per position — O(n·len) allocations
    per row, measured 20x slower on the sf0.1 corpus. zip_with pads the
    shorter side with null, so the ragged tail yields partial windows —
    sliced off here; fewer than n elements give an empty
    ``empty_type`` array."""
    acc = start
    for j in range(1, n):
        acc = F.zip_with(
            acc, F.slice(arr, j + 1, F.greatest(F.size(arr) - j, F.lit(0))), step
        )
    return F.when(F.size(arr) < n, F.array().cast(empty_type)).otherwise(
        F.slice(acc, 1, F.size(arr) - (n - 1))
    )


def word_ngrams(col: Column, n: int, lower: bool = True) -> Column:
    """Word n-grams as an array<string> column — the unit of benchmark
    decontamination. Pure codegen, element-wise (see _gram_fold)."""
    words = _ws_tokens(F.lower(col) if lower else col)
    return _gram_fold(
        words, n, words, lambda a, b: F.concat_ws(" ", a, b), "array<string>"
    )


# Ceiling for broadcasting a benchmark gram set, as an ESTIMATED
# IN-MEMORY relation size (rows × (payload width + per-row hash-relation
# overhead)). Spark honors an explicit F.broadcast hint regardless of
# size — an unguarded hint on an oversized benchmark hits the 8 GB
# broadcast hard cap or driver OOM instead of degrading — so callers
# size-probe first and drop the hint past this bound (the shuffled
# semi-join is slower but always completes). Mirrors
# io/snapshot.py:_DELETE_BROADCAST_MAX_BYTES, which gates the analogous
# delete-key broadcast.
BENCH_BROADCAST_MAX_BYTES = 128 * 1024 * 1024
# rough per-row overhead of Spark's LongToUnsafeRowMap/BytesToBytesMap
# broadcast relations (key hash + offsets + UnsafeRow header)
_BROADCAST_ROW_OVERHEAD = 48


def broadcast_if_small(
    grams: DataFrame,
    width: Column | int,
    max_bytes: int = BENCH_BROADCAST_MAX_BYTES,
):
    """Apply F.broadcast(grams) only when the estimated in-memory
    relation fits ``max_bytes``; otherwise return the frame unhinted so
    Catalyst/AQE plan a shuffled join. ``width`` is the per-row payload
    bytes — a constant for fixed-width keys, or a Column (e.g.
    2*length(g) for UTF-16 strings) averaged over the set. The sizing
    probe is one count/avg aggregate over the benchmark side only (the
    side that is small whenever broadcasting is viable), run eagerly at
    plan-build time."""
    w = F.lit(float(width)) if isinstance(width, (int, float)) else width
    n, avg_w = grams.agg(
        F.count(F.lit(1)), F.avg(w.cast("double"))
    ).first()
    est = int(n * ((avg_w or 0.0) + _BROADCAST_ROW_OVERHEAD))
    if est <= max_bytes:
        return F.broadcast(grams)
    return grams


def contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_broadcast_bytes: int = BENCH_BROADCAST_MAX_BYTES,
) -> DataFrame:
    """Benchmark decontamination by exact word-n-gram overlap (the
    GPT-3/Llama recipe, usually n=13; tests use n=3 to suit the short
    fixture docs): a candidate document is contaminated if any of its
    n-grams appears in the benchmark set.

    Returns one row per contaminated doc: ``(id_col, n_matched)`` where
    n_matched counts DISTINCT matching n-grams.

    Scale shape: the benchmark n-gram set is the small side by
    construction (eval suites are fixed-size while the corpus grows),
    so the membership probe is a BROADCAST semi-structured join —
    corpus n-grams never shuffle for the join; the only exchange is the
    per-doc count aggregate, map-side combined. The broadcast hint is
    SIZE-GUARDED (``broadcast_if_small``): a benchmark whose estimated
    in-memory gram relation exceeds ``max_broadcast_bytes`` joins
    shuffled instead of OOMing the driver on an unconditional hint.
    """
    bench_grams = (
        benchmark.select(
            F.explode(F.array_distinct(word_ngrams(F.col(text_col), n))).alias("g")
        )
        .distinct()
    )
    doc_grams = docs.select(
        F.col(id_col),
        F.explode(F.array_distinct(word_ngrams(F.col(text_col), n))).alias("g"),
    )
    # UTF-16 in-memory strings: ~2 bytes/char
    bench_side = broadcast_if_small(
        bench_grams, 2 * F.length("g"), max_broadcast_bytes
    )
    return (
        doc_grams.join(bench_side, "g")
        .groupBy(id_col)
        .agg(F.count("*").cast("long").alias("n_matched"))
    )


# PII patterns written in the portable Java-regex/RE2 intersection so the
# same literal string drives both Spark's regexp_replace and the DuckDB
# oracle. Order matters: SSN before phone-like digit runs, email before
# bare domains, and the wider phone forms (parenthesized area code,
# international +CC) before the bare NNN-NNN-NNNN form — otherwise the
# bare pattern eats the tail of "+1 555 123 4567" and strands the "+1".
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}", "<IP>"),
    (r"[0-9]{3}-[0-9]{2}-[0-9]{4}", "<SSN>"),
    (r"\([0-9]{3}\)[-. ]?[0-9]{3}[-. ][0-9]{4}", "<PHONE>"),
    (r"\+[0-9]{1,3}[-. ][0-9]{2,4}[-. ][0-9]{3,4}[-. ][0-9]{3,4}", "<PHONE>"),
    (r"\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}", "<PHONE>"),
]


def scrub_pii(col: Column) -> Column:
    """Redact emails, IPv4s, SSNs, and phone numbers with typed tags.
    A chain of native regexp_replace calls — stays inside whole-stage
    codegen; at 100 TB this is the difference between a scan-speed
    scrub and a Python bottleneck."""
    out = col
    for pat, tag in PII_PATTERNS:
        out = F.regexp_replace(out, pat, tag)
    return out


def add_line_dup_signals(
    df: DataFrame, text_col: str = "text", sep: str = "\n"
) -> DataFrame:
    """Gopher-style duplicate-LINE quality signals, per document
    (Rae et al. 2021 §A1.1 filters on "fraction of duplicate lines" and
    "fraction of characters in duplicate lines"). Complements
    add_repetition_signals (word/bigram modes) with the line axis.

    Lines are ``sep``-separated (``sep`` is literal, not a regex),
    trimmed, empties dropped. Emitted:

    * ``total_lines`` / ``distinct_lines`` — longs,
    * ``dup_line_chars`` — characters in repeated occurrences beyond
      each line's first (sum of lengths over all lines minus over the
      distinct set),
    * ``dup_line_frac`` / ``dup_line_char_frac`` — round-6 doubles.

    Row-local codegen: split/filter/array_distinct plus two aggregate
    folds — no explode, no shuffle; at 100 TB this runs at scan speed
    alongside the other quality columns."""
    # F.split takes a Java regex; a backslash before a non-alphabetic
    # character is literal there too, so re.escape makes ``sep`` literal
    raw = F.split(F.col(text_col), re.escape(sep))
    # the lambda must be explicitly unary: F.transform feeds (element,
    # index) to a two-parameter callable, and F.trim's optional second
    # parameter is the trim-character set — the index would silently
    # become characters to strip
    lines = F.filter(
        F.transform(raw, lambda l: F.trim(l)), lambda l: F.length(l) > 0
    )
    chars = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0).cast("long"), lambda acc, l: acc + F.length(l)
    )
    total = F.size(lines).cast("long")
    distinct = F.size(F.array_distinct(lines)).cast("long")
    all_chars = chars(lines)
    dup_chars = all_chars - chars(F.array_distinct(lines))
    return df.withColumns(
        {
            "total_lines": total,
            "distinct_lines": distinct,
            "dup_line_chars": dup_chars,
            "dup_line_frac": F.round(
                F.when(total > 0, (total - distinct) / total).otherwise(F.lit(0.0)), 6
            ),
            "dup_line_char_frac": F.round(
                F.when(all_chars > 0, dup_chars / all_chars).otherwise(F.lit(0.0)), 6
            ),
        }
    )


def vocab_topk(
    df: DataFrame, k: int = 20, text_col: str = "text", lower: bool = True
) -> DataFrame:
    """Corpus-level vocabulary head: the k most frequent whitespace
    tokens as ``(token, cnt)``, ties broken by token ascending so the
    cut is deterministic across engines and runs.

    Scale shape: explode feeds a hash aggregate that partially combines
    map-side (the per-partition token histogram is vocabulary-sized,
    not corpus-sized — Zipf keeps it tiny relative to the scan), so the
    only full rows crossing the wire are per-partition (token, count)
    partials; the final top-k is TakeOrderedAndProject, never a global
    sort."""
    words = _ws_tokens(F.lower(F.col(text_col)) if lower else F.col(text_col))
    return (
        df.select(F.explode(words).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("token"))
        .limit(k)
    )


def add_repetition_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition quality signals, per document, all
    integers (hash-stable across engines):

    * ``total_words`` / ``distinct_words`` — dup-word fraction inputs,
    * ``top_word_count`` — occurrences of the most frequent word,
    * ``top_bigram_count`` — occurrences of the most frequent bigram.

    The mode count is computed WITHOUT a shuffle: map each element to
    its xxhash64, sort the LONG array, then the mode's frequency is the
    longest run of equal adjacent values — a single F.aggregate fold
    with (prev, run, best) state. Hashing first matters twice: longs
    sort/compare ~5x cheaper than strings, and bigrams never get
    materialized as strings at all (the window is hashed in place via
    slice, like pipeline.token_ngram_hashes). A within-document hash
    collision would merge two runs (~2^-64 per pair, ~1e-15 for a
    10k-word doc) — the same accepted bound as dedup's hash lanes.
    The per-doc explode+groupBy alternative costs a full-corpus
    shuffle keyed on (doc, word); this stays row-local codegen."""
    words = _ws_tokens(F.lower(F.col(text_col)))

    def max_run(hashed: Column) -> Column:
        srt = F.array_sort(hashed)
        zero = F.struct(
            F.lit(None).cast("long").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        )

        def step(acc: Column, x: Column) -> Column:
            run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long"))
            return F.struct(
                x.alias("prev"),
                run.alias("run"),
                F.greatest(acc["best"], run).alias("best"),
            )

        return F.aggregate(srt, zero, step, lambda acc: acc["best"])

    word_hashes = F.transform(words, lambda w: F.xxhash64(w))
    # element-wise pair hash (see _gram_fold)
    bigram_hashes = _gram_fold(
        words, 2, words, lambda a, b: F.xxhash64(a, b), "array<long>"
    )
    return df.withColumns(
        {
            "total_words": F.size(words).cast("long"),
            "distinct_words": F.size(F.array_distinct(words)).cast("long"),
            "top_word_count": max_run(word_hashes),
            "top_bigram_count": max_run(bigram_hashes),
        }
    )
