"""Deduplication over document tables — exact and near-dup families.

Scale notes (the whole point of these):
  - exact:    one hash-groupBy shuffle on a 32-char key; partial agg
              collapses duplicates map-side.
  - minhash:  signatures are computed per row with codegen'd expressions
              (shingle → ONE xxhash64 → num_hashes affine-permutation
              lanes → min); LSH banding
              turns all-pairs O(n²) into a groupBy on (band, band_hash)
              buckets — the only shuffle is by bucket key, and candidate
              verification happens inside small buckets.
  - simhash:  64-bit signature via per-word hash bit-voting; near-dups =
              equal simhash prefix buckets (or full equality) — again a
              bucket groupBy, never a cross join.
  - embedding near-dup: exact cosine over LSH-candidate pairs; the
              brute-force variant exists for small dims / verification.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _norm_text(text_col: str) -> Column:
    return F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))


def hash60(c: Column, salt: str = "") -> Column:
    """Cross-engine-checkable 60-bit hash: first 15 hex chars of md5,
    parsed as an integer. DuckDB computes the identical value with
    ``CAST(concat('0x', substr(md5(s || salt), 1, 15)) AS BIGINT)`` —
    which is what lets the driver oracle verify the full MinHash/SimHash
    pipelines value-for-value. Slower than xxhash64 (md5 is cryptographic);
    production paths default to xxhash64 and use this only when an
    external system must reproduce the hashes."""
    s = F.concat(c, F.lit(salt)) if salt else c
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup on normalized text: keep the minimum id per content
    hash. Returns the surviving rows (all original columns)."""
    hashed = df.withColumn("__h", F.md5(_norm_text(text_col)))
    keep = hashed.groupBy("__h").agg(F.min(id_col).alias(id_col))
    return (
        hashed.join(keep, ["__h", id_col], "left_semi").drop("__h")
    )


# --- MinHash + LSH ----------------------------------------------------

def _shingle_seq(norm: Column, k: int) -> Column:
    """Character k-shingles of a PRE-STAGED normalized-text column
    (codegen: substr over a sequence — no Python). ``norm`` MUST be an
    attribute reference behind a projection boundary: the transform
    lambda references it once PER ELEMENT, so an inline normalization
    expression would re-run lower/regexp_replace/trim ~|text| times per
    row (measured: 16 s → 0.3 s single-core on 5k docs at sf0.1)."""
    n = F.length(norm)
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    return F.transform(idx, lambda i: F.substring(norm, i, k))


def _shingles(text_col: str, k: int) -> Column:
    """Distinct character k-shingles (inline normalization — only for
    one-shot use; pipelines stage the normalized text first, see
    _shingle_seq)."""
    return F.array_distinct(_shingle_seq(_norm_text(text_col), k))


def _ensure_parallelism(df: DataFrame) -> DataFrame:
    """Spread a under-partitioned input across the cluster before
    CPU-heavy per-row stages. Signature computation is compute-bound, not
    byte-bound: a small-bytes scan (one parquet file under
    maxPartitionBytes) arrives as 1 partition and would pin the whole
    signature stage to one core. The repartition shuffles only the bytes
    the scan read; when the input already has >= defaultParallelism
    partitions (any at-scale table) it is a no-op."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# Affine MinHash family over a Mersenne prime: each shingle is hashed
# ONCE (xxhash64 reduced mod p), and lane j is min over shingles of
# (a_j·h + b_j) mod p — the standard universal-hash permutation family
# (the same construction Spark MLlib's MinHashLSH uses). Versus hashing
# every shingle num_hashes times, shingle hashing drops by num_hashes×;
# the affine derivation is two long ops per (shingle, lane). p = 2^31-1
# keeps a·h + b < 2^62: no 64-bit overflow, ANSI-safe.
_MH_PRIME = (1 << 31) - 1


def _affine_params(num_hashes: int, seed: int = 7) -> list[tuple[int, int]]:
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, _MH_PRIME), rng.randrange(0, _MH_PRIME))
        for _ in range(num_hashes)
    ]


def shingle_hashes(text_col: str, k: int) -> Column:
    """xxhash64 of each k-shingle, reduced to [0, p) — computed ONCE per
    shingle; every minhash lane derives from this array. No distinct
    pass: min over a multiset equals min over its set, so duplicate
    shingles cannot change any minhash lane and array_distinct's O(n²)
    string comparisons are pure waste here. (Inline normalization —
    pipelines stage the normalized text first, see minhash_lsh_pairs.)"""
    return F.transform(
        _shingle_seq(_norm_text(text_col), k),
        lambda s: F.pmod(F.xxhash64(s), F.lit(_MH_PRIME)),
    )


def minhash_signature_affine(
    hashed: Column, num_hashes: int = 16, seed: int = 7
) -> Column:
    """Signature from a pre-materialized shingle-hash array: lane j is
    min over (a_j·h + b_j) mod p. ``hashed`` must be an attribute
    reference behind a projection boundary — each array_min re-evaluates
    its input expression, so an inline expression would re-hash every
    shingle num_hashes times (the exact pathology this family removes)."""

    def lane(a: int, b: int):
        return lambda h: F.pmod(a * h + b, F.lit(_MH_PRIME))

    return F.array(
        *[
            F.array_min(F.transform(hashed, lane(a, b)))
            for a, b in _affine_params(num_hashes, seed)
        ]
    )


def minhash_signature(
    text_col: str,
    num_hashes: int = 16,
    k: int = 5,
    hash_fn: str = "xxhash64",
    shingles: Column | None = None,
) -> Column:
    """Array of num_hashes minhash values.

    hash_fn='md5_60': min over shingles of hash60(shingle || '|' || j) —
    cross-engine reproducible (see hash60), used by the value oracle.
    hash_fn='xxhash64' (production default): the affine family above —
    prefer calling shingle_hashes + minhash_signature_affine directly so
    the hash array sits behind a projection boundary.

    Pass ``shingles`` as a pre-materialized COLUMN whenever this feeds
    more than a couple of hashes: each array_min re-evaluates its input
    expression, so an inline shingle expression is normalized/substring'd/
    deduped num_hashes times per row, while an attribute reference from a
    projection boundary is computed once (Catalyst's CollapseProject
    keeps the boundary for non-cheap aliases referenced multiple times —
    measured 4.4× on the LSH pipeline)."""
    sh = shingles if shingles is not None else _shingles(text_col, k)
    if hash_fn == "md5_60":
        # NB: the hash-family index must be captured via a closure
        # factory — a two-parameter lambda would be interpreted by
        # F.transform as (element, array_index) and silently rebind j.
        def hash_j(j: int):
            return lambda s: hash60(s, f"|{j}")

        return F.array(
            *[F.array_min(F.transform(sh, hash_j(j))) for j in range(num_hashes)]
        )
    hashed = F.transform(sh, lambda s: F.pmod(F.xxhash64(s), F.lit(_MH_PRIME)))
    return minhash_signature_affine(hashed, num_hashes)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 5,
    hash_fn: str = "xxhash64",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash-LSH.

    Signature is split into `bands` bands of num_hashes/bands rows; docs
    sharing any band hash become a candidate pair. Returns distinct
    (id_a, id_b) with id_a < id_b. The heavy lifting is one groupBy on the band
    bucket — self-cross-join only *within* buckets (tiny by construction).

    max_bucket_size caps the degenerate case: a bucket of B identical
    docs still yields O(B²) pairs, so buckets above the cap are DROPPED
    from candidate generation (their members are by construction exact
    or extreme dups — route those through dedup_exact first, which is
    O(B)). The cap turns worst-case quadratic blowup at 100-TB scale
    into a bounded skip; dropped buckets are observable via the
    ``lsh_dropped_buckets`` metric column pattern in tests.
    """
    rows_per_band = num_hashes // bands
    # Evaluate-once staging, the property every heavy expression here
    # needs (Catalyst does not CSE repeated or lambda-referenced
    # subexpressions):
    #   1. the NORMALIZED TEXT goes behind a projection boundary — the
    #      shingle transform references it once per element, so inline it
    #      would re-run lower/regexp_replace/trim |shingles| times per
    #      row (measured 16 s → 0.3 s single-core at sf0.1);
    #   2. the per-shingle work (distinct array / hash array) goes behind
    #      a second boundary — the num_hashes array_min lanes each
    #      re-evaluate their input (measured 45 s → 10 s at sf0.01).
    # A compute-bound stage also must not inherit a byte-sized partition
    # count — see _ensure_parallelism.
    staged = _ensure_parallelism(df).select(
        F.col(id_col), _norm_text(text_col).alias("__t")
    )
    if hash_fn == "md5_60":
        # oracle family: per-lane salted md5 over the DISTINCT shingle
        # array (the DuckDB replica uses list_distinct)
        sig = staged.select(
            F.col(id_col),
            F.array_distinct(_shingle_seq(F.col("__t"), k)).alias("__sh"),
        ).select(
            F.col(id_col),
            minhash_signature(
                text_col, num_hashes, k, hash_fn, shingles=F.col("__sh")
            ).alias("__sig"),
        )
    else:
        # production family: one xxhash64 per shingle (no distinct pass —
        # min over a multiset == min over its set), lanes are affine
        # derivations of the staged hash array
        sig = staged.select(
            F.col(id_col),
            F.transform(
                _shingle_seq(F.col("__t"), k),
                lambda s: F.pmod(F.xxhash64(s), F.lit(_MH_PRIME)),
            ).alias("__hs"),
        ).select(
            F.col(id_col),
            minhash_signature_affine(F.col("__hs"), num_hashes).alias("__sig"),
        )

    def band_bucket(b: int) -> Column:
        vals = [F.col("__sig")[b * rows_per_band + r] for r in range(rows_per_band)]
        if hash_fn == "md5_60":
            # concat-string bucket: reproducible in any engine
            return F.concat_ws("-", *[v.cast("string") for v in vals])
        return F.xxhash64(*vals).cast("string")

    banded = sig.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), band_bucket(b).alias("bucket"))
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")
    # ONE shuffle: group each (band, bucket) and expand the i<j member
    # combinations as an expression — a self-join on the bucket key would
    # shuffle the banded rows twice and re-run the whole signature
    # pipeline for each side. Bucket membership is O(members) state per
    # group; the cap drops degenerate buckets after a size check (their
    # members are exact/extreme dups — route through dedup_exact, O(B)).
    buckets = banded.groupBy("band", "bucket").agg(
        F.sort_array(F.collect_list(F.col(id_col))).alias("__ids")
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("__ids") <= max_bucket_size)
    combos = F.flatten(
        F.transform(
            F.col("__ids"),
            lambda a, i: F.transform(
                F.slice(F.col("__ids"), i + 2, F.size(F.col("__ids"))),
                lambda b: F.struct(a.alias("id_a"), b.alias("id_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(combos).alias("p"))
        .select(F.col("p.id_a"), F.col("p.id_b"))
        .distinct()
    )


# --- SimHash ----------------------------------------------------------

def simhash(df: DataFrame, text_col: str = "text", out_col: str = "simhash",
            bits: int = 64, hash_fn: str = "xxhash64") -> DataFrame:
    """SimHash: each word votes ±1 per bit of its hash; the signature bit
    is 1 where the vote sum is positive. All expression-level (aggregate
    over the word array), no UDF. hash_fn='md5_60' limits useful bits to
    60 but is reproducible in any engine (see hash60)."""
    words = F.split(_norm_text(text_col), " ")
    if hash_fn == "md5_60":
        h = F.transform(words, lambda w: hash60(w))
    else:
        h = F.transform(words, lambda w: F.xxhash64(w))
    # materialize the word-hash array ONCE behind a projection boundary —
    # every per-bit vote aggregate references it, and an inline expression
    # would re-normalize/split/hash the text `bits` times per row (same
    # fix as minhash_signature)
    staged = df.withColumn("__sh_h", h)
    harr = F.col("__sh_h")
    one = F.lit(1).cast("long")

    def vote_fn(mask):  # closure factory — see minhash_signature note
        return lambda acc, x: acc + F.when(x.bitwiseAND(mask) != 0, 1).otherwise(-1)

    bit_cols = []
    for b in range(bits):
        mask = F.shiftleft(one, b)  # b=63 wraps to the sign bit, still a valid mask
        votes = F.aggregate(harr, F.lit(0), vote_fn(mask))
        bit_cols.append(F.when(votes > 0, F.shiftleft(one, b)).otherwise(F.lit(0).cast("long")))
    sig = bit_cols[0]
    for c in bit_cols[1:]:
        sig = sig.bitwiseOR(c)
    return staged.withColumn(out_col, sig).drop("__sh_h")


def simhash_hamming(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


# --- n-gram Jaccard ----------------------------------------------------

def ngram_jaccard(
    df_pairs: DataFrame,
    df_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Exact word-n-gram Jaccard similarity for candidate pairs
    (id_a, id_b) — the verification stage after LSH. Joining the (small)
    candidate set back to docs twice is two hash joins keyed on id.

    The word array is staged behind a projection boundary before the
    gram transform: the lambda references it once per gram, so an inline
    split-of-normalized-text would re-run normalization+split |grams|
    times per row (same non-CSE pathology as minhash_lsh_pairs)."""
    staged = df_docs.select(
        F.col(id_col), F.split(_norm_text(text_col), " ").alias("__w")
    )
    words = F.col("__w")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
        )
    )
    docs = staged.select(F.col(id_col), grams.alias("__g"))
    a = docs.withColumnRenamed(id_col, "id_a").withColumnRenamed("__g", "__ga")
    b = docs.withColumnRenamed(id_col, "id_b").withColumnRenamed("__g", "__gb")
    joined = df_pairs.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("__ga", "__gb")).cast("double")
    union = F.size(F.array_union("__ga", "__gb")).cast("double")
    return joined.select(
        "id_a", "id_b",
        F.round(F.when(union > 0, inter / union).otherwise(0.0), 6).alias("jaccard"),
    )


# --- embedding cosine near-dup -----------------------------------------

def shared_span_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    max_df: int = 100,
    lower: bool = True,
) -> DataFrame:
    """EXACT duplicated-span detection: pairs of documents sharing at
    least one identical k-word span, with the count of distinct shared
    spans — the deterministic complement to MinHash (which approximates
    whole-document Jaccard and can miss a verbatim paragraph pasted into
    an otherwise-unrelated page). This is the n-gram-bucket flavor of
    Lee et al. 2022's exact-substring dedup ("Deduplicating Training
    Data Makes Language Models Better"), re-expressed as one Spark
    aggregation instead of a suffix array.

    Returns ``(id_a, id_b, n_spans)`` with id_a < id_b; ``n_spans``
    counts DISTINCT shared k-grams.

    Scale shape — one shuffle, bounded fan-out:

    * each doc's distinct k-grams are hashed to longs (xxhash64) before
      the exchange, so shuffle rows are (long, id) instead of k-word
      strings — ~10× fewer bytes at k=8;
    * grams group once; each group's sorted member list expands to i<j
      pairs as an expression (same group-then-expand as
      minhash_lsh_pairs — a self-join would shuffle the grams twice);
    * ``max_df`` drops grams appearing in more docs than the cap BEFORE
      pair expansion: boilerplate (headers, licenses) otherwise yields
      O(df²) pairs per gram — the classic skew bomb at web scale. The
      cap is the same bounded-skip contract as minhash's
      max_bucket_size; capped grams are by construction template text,
      not meaningful overlap.

    A cross-document xxhash64 collision could merge two unrelated grams
    (~2^-64 per gram pair) — the same accepted bound as every other
    hash lane here; the DuckDB oracle counts the gram strings
    themselves, so the driver check would surface a collision as a
    value mismatch."""
    from qsvspark.functions.text import word_ngrams

    staged = _ensure_parallelism(df).select(
        F.col(id_col),
        F.explode(
            F.array_distinct(word_ngrams(F.col(text_col), k, lower=lower))
        ).alias("__g"),
    ).select(F.col(id_col), F.xxhash64("__g").alias("__h"))
    groups = staged.groupBy("__h").agg(
        F.sort_array(F.collect_list(F.col(id_col))).alias("__ids")
    )
    groups = groups.filter(
        (F.size("__ids") >= 2) & (F.size("__ids") <= max_df)
    )
    combos = F.flatten(
        F.transform(
            F.col("__ids"),
            lambda a, i: F.transform(
                F.slice(F.col("__ids"), i + 2, F.size(F.col("__ids"))),
                lambda b: F.struct(a.alias("id_a"), b.alias("id_b")),
            ),
        )
    )
    return (
        groups.select(F.explode(combos).alias("p"))
        .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_spans"))
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Duplicate GROUPS from duplicate PAIRS: connected components over
    the pair graph, labeling every member with the smallest id in its
    component — the canonical final step of a dedup pipeline
    (minhash/simhash/span pairs → groups → keep one representative,
    drop the rest).

    Returns ``(id, group_id)`` for every id appearing in ``pairs``;
    ``group_id`` = min id of the component.

    Algorithm: iterative min-label propagation. Each round every node
    takes the minimum of its own label and its neighbors' labels; the
    loop stops when a round changes nothing. Rounds needed = graph
    diameter. Near-dup components are not bounded in diameter: chained
    near-copies (A~B, B~C, ... where A and the last copy are no longer
    similar) make a path whose diameter grows with the chain, so
    ``max_iter`` is the real bound. Each round is one hash join (edges ⋈
    labels) plus one groupBy-min — both keyed shuffles on the id, no
    broadcast of anything corpus-sized — and the per-round convergence
    check is a count-only job over the changed rows.

    Each round's labels are ``localCheckpoint``ed: the round's plan
    starts from the previous round's stored label rows instead of
    nesting every earlier round's plan, so plan size (and planning time)
    stays flat however many rounds the graph needs, and nothing enters
    the session's cache. The edge set is checkpointed once, before the
    first labels, so ``pairs`` (for ``near_dup_groups`` the whole
    MinHash/LSH pair computation) is evaluated once, not every round.
    For long-chain graphs at extreme scale, swap in the
    large-star/small-star recipe (Kiveris et al., "Connected Components
    in MapReduce and Beyond") — same output contract, O(log² n) rounds.

    Raises after ``max_iter`` rounds without convergence rather than
    returning partially-propagated labels. The returned frame reads the
    final checkpointed label set (node-count sized, tiny relative to the
    corpus) from executor storage; write it to a table if it must
    survive an executor loss."""
    edges = pairs.select(
        F.col(id_a).alias("__src"), F.col(id_b).alias("__dst")
    ).union(
        pairs.select(F.col(id_b).alias("__src"), F.col(id_a).alias("__dst"))
    ).distinct().localCheckpoint()
    # initial label: min(self, smallest direct neighbor)
    labels = edges.groupBy("__src").agg(
        F.least(F.col("__src"), F.min("__dst")).alias("__lbl")
    ).localCheckpoint()
    for _ in range(max_iter):
        # each node pulls its neighbors' labels and keeps the min
        # (labels and edges both carry __src — rename its key first or
        # the join is ambiguous)
        lbl_by_node = labels.select(
            F.col("__src").alias("__nbr"), F.col("__lbl")
        )
        neighbor_lbls = (
            edges.join(lbl_by_node, edges["__dst"] == lbl_by_node["__nbr"])
            .select(F.col("__src").alias("__id"), F.col("__lbl"))
        )
        new_labels = (
            labels.select(F.col("__src").alias("__id"), "__lbl")
            .union(neighbor_lbls)
            .groupBy("__id")
            .agg(F.min("__lbl").alias("__lbl"))
            .select(F.col("__id").alias("__src"), "__lbl")
        ).localCheckpoint()
        changed = (
            new_labels.join(
                labels.withColumnRenamed("__lbl", "__old"), "__src"
            )
            .filter(F.col("__lbl") != F.col("__old"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"(graph diameter exceeds the bound — use a larger max_iter "
            f"or the large-star/small-star variant)"
        )
    return labels.select(
        F.col("__src").alias("id"), F.col("__lbl").alias("group_id")
    )


def keep_representatives(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Drop every near-duplicate except its component's smallest id:
    connected_components over the pairs, then anti-join docs against
    the non-representative members. Docs in no pair pass through
    untouched (they are their own representative)."""
    groups = connected_components(pairs, id_a, id_b)
    losers = groups.filter(F.col("id") != F.col("group_id")).select(
        F.col("id").alias(id_col)
    )
    return docs.join(losers, id_col, "left_anti")


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + (x * x).cast("double")))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def embedding_near_dups(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
) -> DataFrame:
    """All pairs with cosine ≥ threshold. Brute-force O(n²) variant —
    the VERIFICATION baseline only; the scale path is
    embedding_near_dups_lsh (signature-bucketed candidates, never
    all-pairs)."""
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    return (
        pairs.withColumn("cos", F.round(cosine(F.col("__va"), F.col("__vb")), 6))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def embedding_near_dups_lsh(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    dim: int = 64,
    bits: int = 16,
    bands: int = 8,
    seed: int = 42,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Embedding near-dup via banded random-hyperplane LSH — the 100-TB
    path: candidates only from pairs sharing a band bucket (one groupBy
    shuffle on (band, bucket), self-join inside buckets), then EXACT
    cosine verification of the (small) candidate set. No all-pairs cross
    join anywhere. Recall for cosine ≥ t with r bits/band and B bands is
    1-(1-p^r)^B where p = 1 - arccos(t)/π; with the defaults and t=0.95,
    recall > 0.9999. Same bucket-size cap semantics as minhash_lsh_pairs.
    Returns (id_a, id_b, cos) with cos rounded to 6."""
    from qsvspark.functions.similarity import _hyperplanes, signature_expr

    r = bits // bands
    planes = _hyperplanes(dim, bits, seed)
    sig = df.select(F.col(id_col), signature_expr(vec_col, planes).alias("__sig"))
    mask = F.lit((1 << r) - 1)
    banded = sig.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col("__sig"), b * r)
                        .bitwiseAND(mask)
                        .alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")
    # one groupBy shuffle + in-bucket combination expansion (same
    # restructure as minhash_lsh_pairs: no bucket self-join, no second
    # evaluation of the signature pipeline)
    buckets = banded.groupBy("band", "bucket").agg(
        F.sort_array(F.collect_list(F.col(id_col))).alias("__ids")
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("__ids") <= max_bucket_size)
    combos = F.flatten(
        F.transform(
            F.col("__ids"),
            lambda x, i: F.transform(
                F.slice(F.col("__ids"), i + 2, F.size(F.col("__ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    cand = (
        buckets.select(F.explode(combos).alias("p"))
        .select(F.col("p.id_a"), F.col("p.id_b"))
        .distinct()
    )
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("cos", F.round(cosine(F.col("__va"), F.col("__vb")), 6))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )
