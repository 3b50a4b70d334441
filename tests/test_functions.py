"""Training-data extension tests: text analysis, dedup, similarity,
multimodal plumbing."""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import functions as F

from qsvspark.functions import (
    AnnIndex,
    add_fingerprint,
    add_lang_id,
    add_quality,
    add_token_counts,
    brute_force_topk,
    dedup_exact,
    embedding_near_dups,
    embedding_near_dups_lsh,
    lsh_ann_topk,
    minhash_lsh_pairs,
    ngram_jaccard,
    simhash,
)
from qsvspark.functions.dedup import simhash_hamming
from qsvspark.functions.multimodal import extract_features, sample_frames, synth_media

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog and runs away fast"),
    (1, "the quick brown fox jumps over the lazy dog and runs away fast"),  # exact dup of 0
    (2, "the quick brown fox jumps over the lazy dog and walks away fast"),  # near dup of 0
    (3, "der hund und die katze sind nicht mit dem vogel zu sehen"),
    (4, "completely different content about spark query engines and shuffles"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"]).cache()


class TestText:
    def test_token_counts(self, docs):
        r = {x["doc_id"]: x for x in add_token_counts(docs).collect()}
        assert r[0]["n_ws_tokens"] == 13
        assert r[0]["n_bpe_tokens"] == 13  # plain words, no punct

    def test_empty_text(self, spark):
        df = spark.createDataFrame([(0, ""), (1, "   ")], ["doc_id", "text"])
        rows = add_token_counts(df).collect()
        assert all(r["n_ws_tokens"] == 0 for r in rows)

    def test_lang_id(self, docs):
        r = {x["doc_id"]: x["lang_pred"] for x in add_lang_id(docs).collect()}
        assert r[0] == "en"
        assert r[3] == "de"

    def test_quality(self, docs):
        r = {x["doc_id"]: x for x in add_quality(docs).collect()}
        assert 0 < r[0]["q_score"] <= 1
        assert r[0]["q_stopword_hits"] >= 2  # the, and, over...

    def test_fingerprint_normalizes_whitespace(self, spark):
        df = spark.createDataFrame(
            [(0, "Hello  World"), (1, "hello world"), (2, "other")], ["doc_id", "text"]
        )
        r = [x["fingerprint"] for x in add_fingerprint(df).collect()]
        assert r[0] == r[1] != r[2]


class TestDedup:
    def test_exact(self, docs):
        kept = dedup_exact(docs).select("doc_id").collect()
        ids = sorted(r["doc_id"] for r in kept)
        assert ids == [0, 2, 3, 4]  # 1 removed (dup of 0, min id kept)

    def test_minhash_lsh_finds_near_dup(self, docs):
        pairs = {(r["id_a"], r["id_b"]) for r in
                 minhash_lsh_pairs(docs, num_hashes=16, bands=8, k=4).collect()}
        assert (0, 1) in pairs  # exact dup always collides
        assert (0, 2) in pairs  # near dup shares most shingles
        assert (0, 4) not in pairs and (3, 4) not in pairs

    def test_affine_family_same_lsh_semantics(self, spark, docs):
        """The affine-permutation production family must produce exactly
        the banded-LSH pair set its signatures imply: replicate
        signature → bands → buckets → i<j pairs driver-side from the
        SAME staged signature expression and compare."""
        from qsvspark.functions.dedup import (
            minhash_signature_affine, shingle_hashes,
        )

        num_hashes, bands, k = 16, 8, 4
        rows_per_band = num_hashes // bands
        sigs = {
            r["doc_id"]: list(r["sig"])
            for r in docs.select(
                "doc_id", shingle_hashes("text", k).alias("__hs")
            ).select(
                "doc_id",
                minhash_signature_affine(F.col("__hs"), num_hashes).alias("sig"),
            ).collect()
        }
        expected = set()
        for b in range(bands):
            buckets: dict = {}
            for doc, sig in sigs.items():
                key = tuple(sig[b * rows_per_band : (b + 1) * rows_per_band])
                buckets.setdefault(key, []).append(doc)
            for members in buckets.values():
                members.sort()
                for i, a in enumerate(members):
                    for bb in members[i + 1 :]:
                        expected.add((a, bb))
        got = {(r["id_a"], r["id_b"]) for r in
               minhash_lsh_pairs(docs, num_hashes=num_hashes, bands=bands,
                                 k=k).collect()}
        assert got == expected
        # identical docs share every lane; the family is a real MinHash
        assert sigs[0] == sigs[1]
        assert sigs[0] != sigs[4]

    def test_minhash_bucket_cap_bounds_degenerate_buckets(self, spark):
        """10k identical docs form one bucket per band that would go
        O(B²) = 50M pairs; the cap drops those buckets so the job stays
        bounded, while normal-sized buckets still pair up."""
        degenerate = spark.range(2, 10_002).select(
            F.col("id").alias("doc_id"),
            F.lit("identical boilerplate text repeated everywhere forever").alias("text"),
        )
        near = spark.createDataFrame(
            [(0, "a genuinely unique document about spark shuffles and joins"),
             (1, "a genuinely unique document about spark shuffles and sorts")],
            ["doc_id", "text"],
        )
        pairs = minhash_lsh_pairs(
            near.unionByName(degenerate), num_hashes=16, bands=8, k=4,
            max_bucket_size=100,
        ).collect()
        got = {(r["id_a"], r["id_b"]) for r in pairs}
        assert (0, 1) in got            # small buckets unaffected
        assert len(got) < 10_000        # degenerate 50M-pair bucket dropped

    def test_embedding_lsh_bucket_cap_bounds_degenerate_buckets(self, spark):
        """50 identical vectors share every band bucket: uncapped they
        yield all C(50, 2) pairs; a cap of 10 drops those buckets while
        the near pair (opposite direction, so never in their buckets)
        still pairs up."""
        from itertools import combinations

        u = [1.0, 0.5, -0.3, 0.8, -0.6, 0.2, 0.9, -0.4]
        rows = [(0, u), (1, [x + 0.01 for x in u])]
        rows += [(i, [-x for x in u]) for i in range(2, 52)]
        df = spark.createDataFrame(rows, ["vec_id", "embedding"])

        def pairs(**kw):
            return {(r["id_a"], r["id_b"]) for r in
                    embedding_near_dups_lsh(df, dim=8, **kw).collect()}

        assert pairs() == {(0, 1)} | set(combinations(range(2, 52), 2))
        assert pairs(max_bucket_size=10) == {(0, 1)}

    def test_simhash_near_for_near_dups(self, spark, docs):
        sh = simhash(docs).select("doc_id", "simhash")
        a = sh.alias("a").crossJoin(sh.alias("b")).filter("a.doc_id < b.doc_id")
        d = a.select(
            F.col("a.doc_id").alias("ia"), F.col("b.doc_id").alias("ib"),
            simhash_hamming(F.col("a.simhash"), F.col("b.simhash")).alias("ham"),
        ).collect()
        ham = {(r["ia"], r["ib"]): r["ham"] for r in d}
        assert ham[(0, 1)] == 0          # identical text → identical simhash
        assert ham[(0, 2)] < ham[(0, 4)]  # near dup closer than unrelated

    def test_ngram_jaccard(self, spark, docs):
        pairs = spark.createDataFrame([(0, 1), (0, 2), (0, 4)], ["id_a", "id_b"])
        j = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
             ngram_jaccard(pairs, docs, n=3).collect()}
        assert j[(0, 1)] == 1.0
        assert 0.3 < j[(0, 2)] < 1.0
        assert j[(0, 4)] == 0.0

    def test_embedding_near_dups(self, spark):
        vecs = [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.999, 0.01, 0.0]),   # ~same direction as 0
            (2, [0.0, 1.0, 0.0]),
        ]
        df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
        got = {(r["id_a"], r["id_b"]) for r in embedding_near_dups(df, threshold=0.99).collect()}
        assert got == {(0, 1)}


class TestSimilarity:
    @pytest.fixture(scope="class")
    def emb(self, spark):
        return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()

    def test_brute_force_topk(self, emb):
        qv = emb.filter("vec_id = 0").collect()[0]["embedding"]
        top = brute_force_topk(emb, list(qv), k=5).collect()
        assert top[0]["vec_id"] == 0 and abs(top[0]["cos"] - 1.0) < 1e-6
        cos = [r["cos"] for r in top]
        assert cos == sorted(cos, reverse=True)

    def test_lsh_recall(self, emb):
        qv = list(emb.filter("vec_id = 0").collect()[0]["embedding"])
        exact = {r["vec_id"] for r in brute_force_topk(emb, qv, k=10).collect()}
        approx = {r["vec_id"] for r in
                  lsh_ann_topk(emb, qv, k=10, bits=12, probe_hamming=4).collect()}
        recall = len(exact & approx) / 10
        assert recall >= 0.5  # LSH with generous probing on 500 vecs

    def test_embedding_near_dups_lsh_vs_brute(self, emb):
        """The bucketed path returns a SUBSET of brute force (exact
        verify → precision 1.0) with high recall at these parameters."""
        brute = {(r["id_a"], r["id_b"])
                 for r in embedding_near_dups(emb, threshold=0.45).collect()}
        lsh = {(r["id_a"], r["id_b"])
               for r in embedding_near_dups_lsh(
                   emb, threshold=0.45, dim=64, bits=16, bands=8).collect()}
        assert lsh <= brute  # exact cosine verify: no false positives
        assert brute  # the fixture data does contain near-dup pairs
        assert len(lsh & brute) / len(brute) >= 0.9

    def test_ann_index_matches_scan_and_prunes(self, emb, tmp_path):
        """Indexed probe == full-scan lsh_ann_topk at the same params,
        while reading a strict subset of the signature buckets."""
        idx = AnnIndex(str(tmp_path), bits=12, prefix_bits=8, seed=42)
        manifest = idx.build(emb, dim=64)
        assert manifest["committed"] and manifest["partition_counts"]
        qv = list(emb.filter("vec_id = 3").collect()[0]["embedding"])
        scan = [(r["vec_id"], r["cos"]) for r in
                lsh_ann_topk(emb, qv, k=10, bits=12, probe_hamming=2).collect()]
        probed = [(r["vec_id"], r["cos"]) for r in
                  idx.query(emb.sparkSession, qv, k=10, probe_hamming=2).collect()]
        assert probed == scan
        # hamming ≤ 2 over an 8-bit prefix probes 1+8+28 = 37 of 256
        from qsvspark.functions.similarity import _hyperplanes, query_signature

        qsig = query_signature(qv, _hyperplanes(64, 12, 42))
        prefixes = idx.probed_prefixes(qsig, 2)
        assert len(prefixes) == 37 < 256
        files = idx.catalog.read_partitions(emb.sparkSession, idx.table, prefixes).inputFiles()
        dirs = {os.path.dirname(f) for f in files}
        all_buckets = len(manifest["partition_counts"])
        assert 0 < len(dirs) < all_buckets


class TestIndexManifestProbing:
    """Index probes must resolve bucket directories through the snapshot
    MANIFEST (partition_counts), never by enumerating the filesystem —
    the emulation-layer property that maps 1:1 to an Iceberg manifest
    read on any storage backend."""

    def test_query_never_lists_filesystem(self, spark, tmp_path, monkeypatch):
        import os as _os

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        ann = AnnIndex(str(tmp_path / "ann"), bits=12, prefix_bits=6, seed=42)
        ann.build(emb, dim=64)
        from qsvspark.functions import IvfIndex

        ivf = IvfIndex(str(tmp_path / "ivf"))
        ivf.build(emb, n_centroids=8, sample_n=128)
        qv = list(emb.filter("vec_id = 3").collect()[0]["embedding"])
        scan = [(r["vec_id"], r["cos"]) for r in
                lsh_ann_topk(emb, qv, k=5, bits=12, probe_hamming=2).collect()]
        from qsvspark.functions import ivf_topk

        adhoc = [(r["vec_id"], r["cos"]) for r in
                 ivf_topk(emb, qv, ivf.centroids, k=5, nprobe=2).collect()]

        def _no_isdir(path):
            raise AssertionError(f"os.path.isdir called during query: {path}")

        monkeypatch.setattr(_os.path, "isdir", _no_isdir)
        probed = [(r["vec_id"], r["cos"]) for r in
                  ann.query(spark, qv, k=5, probe_hamming=2).collect()]
        assert probed == scan
        ivf_probed = [(r["vec_id"], r["cos"]) for r in
                      ivf.query(spark, qv, k=5, nprobe=2).collect()]
        assert ivf_probed == adhoc

    def test_index_query_is_one_job(self, spark, tmp_path, count_jobs):
        """An index query plans against the stored schema, so no
        schema-inference job runs: a hit submits exactly the one job that
        runs the query, and an empty probe none (its empty frame is a
        local relation, which Spark answers on the driver)."""
        from qsvspark.functions import IvfIndex

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        ann = AnnIndex(str(tmp_path / "ann"), bits=12, prefix_bits=6, seed=42)
        ann.build(emb, dim=64)
        ivf = IvfIndex(str(tmp_path / "ivf"))
        ivf.build(emb, n_centroids=8, sample_n=128)
        qv = list(emb.filter("vec_id = 3").collect()[0]["embedding"])
        rows, jobs = count_jobs(lambda: ann.query(spark, qv, k=5, probe_hamming=2).collect())
        assert rows and jobs == 1
        rows, jobs = count_jobs(lambda: ivf.query(spark, qv, k=5, nprobe=2).collect())
        assert rows and jobs == 1
        # every vector shares one signature; the negated query's has every
        # bit flipped, so a 0-hamming probe resolves no partition at all
        one = AnnIndex(str(tmp_path / "one"), bits=8, prefix_bits=4, seed=1)
        one.build(spark.createDataFrame(
            [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(8)], "vec_id long, embedding array<float>"
        ), dim=4)
        miss = [-1.0, 0.0, 0.0, 0.0]
        rows, jobs = count_jobs(lambda: one.query(spark, miss, k=3, probe_hamming=0).collect())
        assert rows == [] and jobs == 0

    def test_empty_probe_keeps_build_schema(self, spark, tmp_path):
        """String doc ids: an empty-probe result must carry the SAME
        schema as a non-empty one (captured at build time via the
        manifest), so unions/comparisons downstream don't break."""
        rows = [(f"doc-{i}", [1.0, 0.0, 0.0, 0.0]) for i in range(8)]
        df = spark.createDataFrame(rows, "vec_id string, embedding array<float>")
        idx = AnnIndex(str(tmp_path), bits=8, prefix_bits=4, seed=1)
        idx.build(df, dim=4)
        hit = idx.query(spark, [1.0, 0.0, 0.0, 0.0], k=3, probe_hamming=0)
        assert len(hit.collect()) == 3
        # all vectors share one signature; the negated query's signature
        # has every bit flipped, so a 0-hamming probe hits no bucket
        miss = idx.query(spark, [-1.0, 0.0, 0.0, 0.0], k=3, probe_hamming=0)
        assert miss.collect() == []
        assert miss.schema == hit.schema
        assert hit.unionByName(miss).count() == 3


class TestMultimodal:
    def test_synth_media_deterministic(self, spark):
        a = synth_media(spark, 50).collect()
        b = synth_media(spark, 50).collect()
        assert [r["payload"] for r in a] == [r["payload"] for r in b]

    def test_extract_features_schema_and_values(self, spark):
        feats = extract_features(synth_media(spark, 30))
        rows = feats.collect()
        assert feats.columns == ["media_id", "kind", "n_bytes", "byte_mean",
                                 "byte_hist", "aspect_ratio"]
        assert all(r["n_bytes"] == 64 for r in rows)
        assert all(len(r["byte_hist"]) == 16 for r in rows)
        assert all(sum(r["byte_hist"]) == 64 for r in rows)

    def test_sample_frames(self, spark):
        media = synth_media(spark, 60)
        frames = sample_frames(media, every_n=10)
        rows = frames.collect()
        assert all(r["frame_no"] % 10 == 0 for r in rows)
        n_videos = media.filter("kind = 'video'").count()
        assert frames.select("media_id").distinct().count() == n_videos

    def test_decode_stub_raises_without_pil(self):
        from qsvspark.functions.multimodal import decode_image

        try:
            import PIL  # noqa: F401
            pytest.skip("PIL present")
        except ImportError:
            with pytest.raises(NotImplementedError):
                decode_image(b"\x00\x01")


class TestIvf:
    @pytest.fixture(scope="class")
    def emb(self, spark):
        return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()

    @pytest.fixture(scope="class")
    def centroids(self, emb):
        from qsvspark.functions import train_ivf_centroids

        return train_ivf_centroids(emb, n_centroids=8, sample_n=128)

    def test_training_is_deterministic(self, emb, centroids):
        from qsvspark.functions import train_ivf_centroids

        again = train_ivf_centroids(emb, n_centroids=8, sample_n=128)
        assert again == centroids
        assert len(centroids) == 8 and len(centroids[0]) == 64

    def test_assignment_partitions_all_rows(self, emb, centroids):
        from qsvspark.functions.similarity import ivf_assign_expr
        from pyspark.sql import functions as F

        counts = (emb.select(ivf_assign_expr("embedding", centroids).alias("c"))
                  .groupBy("c").count().collect())
        assert sum(r["count"] for r in counts) == emb.count()
        assert all(0 <= r["c"] < 8 for r in counts)

    def test_ivf_recall_and_exact_subset(self, emb, centroids):
        from qsvspark.functions import brute_force_topk, ivf_topk

        qv = list(emb.filter("vec_id = 0").collect()[0]["embedding"])
        exact = {r["vec_id"] for r in brute_force_topk(emb, qv, k=10).collect()}
        approx = ivf_topk(emb, qv, centroids, k=10, nprobe=4).collect()
        cos = [r["cos"] for r in approx]
        assert cos == sorted(cos, reverse=True)
        recall = len(exact & {r["vec_id"] for r in approx}) / 10
        assert recall >= 0.5
        # nprobe = all cells → identical to brute force
        full = [(r["vec_id"], r["cos"]) for r in
                ivf_topk(emb, qv, centroids, k=10, nprobe=8).collect()]
        brute = [(r["vec_id"], r["cos"]) for r in
                 brute_force_topk(emb, qv, k=10).collect()]
        assert full == brute

    def test_ivf_index_matches_adhoc_and_prunes(self, emb, centroids, tmp_path):
        """Partition-pruned probe == ad-hoc ivf_topk at the same params,
        reading only the nprobe probed centroid directories."""
        import os

        from qsvspark.functions import IvfIndex, ivf_topk
        from qsvspark.functions.similarity import probed_centroids

        idx = IvfIndex(str(tmp_path))
        manifest = idx.build(emb, n_centroids=8, sample_n=128)
        assert manifest["committed"]
        assert sum(manifest["partition_counts"].values()) == emb.count()
        qv = list(emb.filter("vec_id = 3").collect()[0]["embedding"])
        adhoc = [(r["vec_id"], r["cos"]) for r in
                 ivf_topk(emb, qv, idx.centroids, k=10, nprobe=3).collect()]
        probed = [(r["vec_id"], r["cos"]) for r in
                  idx.query(emb.sparkSession, qv, k=10, nprobe=3).collect()]
        assert probed == adhoc
        probe = probed_centroids(qv, idx.centroids, 3)
        assert len(probe) == 3 < len(manifest["partition_counts"])


class TestRetiredRegistryVariants:
    """The r3/r4 registry retirements (sed_all, convert_xml,
    timeline_avg, pivot_median, pivot_std) stay exercised here so the
    'retired to pytest-only coverage' claim holds — each must still run
    and produce sane shapes against the test-scale tables."""

    def test_retired_variants_still_run(self, spark):
        import __spark_entry__ as e

        sf = "/root/testdata/sf0.001"
        out = e.q_sed_all(spark, sf)
        assert out.count() >= 1  # the '1' nation names match after vowel-sed
        xml = e.q_convert_xml(spark, sf).first()["props"]
        assert xml.startswith("<k>") and xml.endswith("</k>")
        tl = e.q_timeline_avg(spark, sf)
        assert tl.count() > 0 and "avg_r" in tl.columns
        med = {tuple(r)[:2]: r["qty_med"] for r in e.q_pivot_median(spark, sf).collect()}
        std = {tuple(r)[:2]: r["qty_std"] for r in e.q_pivot_std(spark, sf).collect()}
        assert set(med) == set(std) and len(med) >= 3
        assert all(v is None or v >= 0 for v in std.values())

    def test_r5_retired_variants_still_run(self, spark):
        """contains_ci / grep_invert / pivot_mean / timeline_sum rotated
        out of the 50-slot registry for line_dups / vocab_topk /
        span_pairs / semdedup; their base operators stay oracle-checked
        and the variants stay pinned here by value invariants: grep and
        its invert partition the table, contains_ci counts what a plain
        ILIKE counts, and pivot_mean cells are plain group means."""
        import __spark_entry__ as e

        from qsvspark import Q

        sf = "/root/testdata/sf0.001"
        customer = e._t(spark, sf, "customer")  # noqa: SLF001
        ilike = customer.where(F.col("c_mktsegment").ilike("%auto%")).count()
        assert e.q_contains_ci(spark, sf).count() == ilike > 0
        nation = e._t(spark, sf, "nation")  # noqa: SLF001
        hits = Q(nation).grep("1").df.count()
        assert 0 < hits < nation.count()
        assert hits + e.q_grep_invert(spark, sf).count() == nation.count()
        keys = ["l_returnflag", "l_linestatus"]
        plain = {
            (r[0], r[1]): r[2]
            for r in e._t(spark, sf, "lineitem")  # noqa: SLF001
            .groupBy(*keys).avg("l_quantity")
            .select(*keys, F.round("avg(l_quantity)", 4))
            .collect()
        }
        pm = {tuple(r)[:2]: r["qty_mean"] for r in e.q_pivot_mean(spark, sf).collect()}
        assert len(pm) >= 3 and pm == plain
        ts = e.q_timeline_sum(spark, sf)
        assert ts.count() > 0 and "sum_cents" in ts.columns
        # join_left rotated out for dedup_groups; join stays oracle-checked
        jl = e.q_join_left(spark, sf)
        assert jl.count() > 0 and "n_name" in jl.columns


class TestConnectedComponents:
    def test_chain_and_islands(self, spark):
        from qsvspark.functions import connected_components

        pairs = spark.createDataFrame(
            [(0, 1), (1, 2), (2, 3), (3, 4), (10, 11)], ["id_a", "id_b"]
        )
        out = sorted(
            (r["id"], r["group_id"])
            for r in connected_components(pairs).collect()
        )
        assert out == [(0, 0), (1, 0), (2, 0), (3, 0), (4, 0),
                       (10, 10), (11, 10)]

    def test_long_path_converges_with_flat_plan_and_no_cache(self, spark):
        """A path of L+1 nodes needs about L rounds. Each round's labels
        are checkpointed, so the result's plan does not grow with the
        round count, and nothing is left in the session's cache."""
        from qsvspark.functions import connected_components

        def path(n_edges):
            pairs = spark.createDataFrame(
                [(i, i + 1) for i in range(n_edges)], ["id_a", "id_b"]
            )
            return connected_components(pairs, max_iter=n_edges + 16)

        def plan_chars(df):
            return len(df._jdf.queryExecution().analyzed().toString())  # noqa: SLF001

        spark.catalog.clearCache()
        short, long = path(8), path(64)
        rows = long.collect()
        assert sorted(r["id"] for r in rows) == list(range(65))
        assert {r["group_id"] for r in rows} == {0}
        assert plan_chars(long) <= 1.5 * plan_chars(short)
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()  # noqa: SLF001

    def test_pairs_evaluated_once(self, spark):
        """The edge set is checkpointed before the rounds start: a pairs
        frame built through a counting UDF is evaluated for the edges and
        their mirror (2 per pair row), not again in every round."""
        from pyspark.sql.types import LongType

        from qsvspark.functions import connected_components

        evals = spark.sparkContext.accumulator(0)

        def counted(i):
            evals.add(1)
            return i

        n_edges = 16
        ids = F.udf(counted, LongType())(F.col("id"))
        pairs = spark.range(n_edges).select(ids.alias("id_a"), (ids + 1).alias("id_b"))
        rows = connected_components(pairs, max_iter=n_edges + 8).collect()
        assert {r["group_id"] for r in rows} == {0}
        assert len(rows) == n_edges + 1
        assert 0 < evals.value <= 2 * n_edges

    def test_non_convergence_raises(self, spark):
        from qsvspark.functions import connected_components

        # a 5-chain needs >1 propagation round; max_iter=1 must raise
        # rather than return partially-propagated labels
        pairs = spark.createDataFrame(
            [(0, 1), (1, 2), (2, 3), (3, 4)], ["id_a", "id_b"]
        )
        with pytest.raises(RuntimeError, match="converge"):
            connected_components(pairs, max_iter=1)

    def test_keep_representatives(self, spark):
        from qsvspark.functions import keep_representatives

        docs = spark.createDataFrame(
            [(i, f"doc {i}") for i in range(6)], ["doc_id", "text"]
        )
        pairs = spark.createDataFrame([(0, 1), (1, 4)], ["id_a", "id_b"])
        kept = sorted(
            r["doc_id"] for r in keep_representatives(docs, pairs).collect()
        )
        # component {0,1,4} keeps 0; unpaired 2,3,5 pass through
        assert kept == [0, 2, 3, 5]


class TestLineDups:
    def test_signals(self, spark):
        from qsvspark.functions import add_line_dup_signals

        rows = [
            (0, "a b\na b\nc d"),          # one dup line (3 chars repeated)
            (1, "x\n x \nx"),              # trims collapse all three to 'x'
            (2, "unique one\nunique two"),
            (3, "  \n\n  "),               # whitespace-only → zero lines
        ]
        out = {
            r["doc_id"]: r
            for r in add_line_dup_signals(
                spark.createDataFrame(rows, ["doc_id", "text"])
            ).collect()
        }
        assert (out[0]["total_lines"], out[0]["distinct_lines"]) == (3, 2)
        assert out[0]["dup_line_chars"] == 3  # second 'a b'
        assert out[0]["dup_line_frac"] == round(1 / 3, 6)
        assert (out[1]["total_lines"], out[1]["distinct_lines"]) == (3, 1)
        assert out[1]["dup_line_chars"] == 2
        assert out[2]["dup_line_chars"] == 0 and out[2]["dup_line_frac"] == 0.0
        assert out[3]["total_lines"] == 0 and out[3]["dup_line_char_frac"] == 0.0

    @pytest.mark.parametrize("sep", ["|", "."])
    def test_sep_is_literal(self, spark, sep):
        """A regex metacharacter as ``sep`` splits on itself only: "|"
        as a regex is an empty alternation (a split between every
        character), "." matches every character."""
        from qsvspark.functions import add_line_dup_signals

        text = sep.join(["ab", "cd", "ab", "e"])
        r = add_line_dup_signals(
            spark.createDataFrame([(0, text)], ["doc_id", "text"]), sep=sep
        ).first()
        assert (r["total_lines"], r["distinct_lines"]) == (4, 3)
        assert r["dup_line_chars"] == 2


class TestVocabTopk:
    def test_topk_deterministic_ties(self, spark):
        from qsvspark.functions import vocab_topk

        df = spark.createDataFrame(
            [(0, "b a a c"), (1, "B c d")], ["doc_id", "text"]
        )
        got = [(r["token"], r["cnt"]) for r in vocab_topk(df, k=3).collect()]
        # a=2, b=2 (case-folded), c=2, d=1 — ties break token-ascending
        assert got == [("a", 2), ("b", 2), ("c", 2)]


class TestSpanPairs:
    def test_shared_spans_and_max_df_cap(self, spark):
        from qsvspark.functions import shared_span_pairs

        boiler = "this license text is common to every single document here"
        rows = [
            (0, boiler + " alpha beta gamma delta epsilon zeta"),
            (1, boiler + " alpha beta gamma delta epsilon eta"),
            (2, boiler + " totally different tail content here now"),
            (3, "unrelated text with no overlap at all whatsoever truly"),
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        # k=5: docs 0/1 share the boilerplate spans AND 'alpha beta gamma
        # delta epsilon'; doc 2 shares only boilerplate spans
        out = {
            (r["id_a"], r["id_b"]): r["n_spans"]
            for r in shared_span_pairs(df, k=5, max_df=10).collect()
        }
        assert (0, 1) in out and (0, 2) in out and (1, 2) in out
        assert all((3 not in p) for p in out)
        assert out[(0, 1)] > out[(0, 2)]  # extra non-boiler span
        # max_df=2 drops every gram present in all three boiler docs;
        # only the 0/1-exclusive spans survive
        capped = {
            (r["id_a"], r["id_b"]): r["n_spans"]
            for r in shared_span_pairs(df, k=5, max_df=2).collect()
        }
        assert set(capped) == {(0, 1)}
        assert capped[(0, 1)] == out[(0, 1)] - out[(0, 2)]


class TestSemanticDedup:
    def test_keep_lowest_id_within_cluster(self, spark):
        from qsvspark.functions import semantic_dedup

        # two orthogonal clusters; vec 1 duplicates vec 0, vec 3
        # duplicates vec 2 (slightly perturbed), vec 4 is alone
        rows = [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.999, 0.01, 0.0]),
            (2, [0.0, 1.0, 0.0]),
            (3, [0.0, 0.995, 0.02]),
            (4, [0.0, 0.0, 1.0]),
        ]
        df = spark.createDataFrame(rows, ["vec_id", "embedding"])
        cents = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0]]
        out = {r["vec_id"]: r for r in semantic_dedup(df, cents, threshold=0.95).collect()}
        assert {v: out[v]["kept"] for v in range(5)} == {
            0: True, 1: False, 2: True, 3: False, 4: True,
        }
        assert out[1]["cluster"] == out[0]["cluster"] == 0
        assert out[3]["cluster"] == out[2]["cluster"] == 1

    def test_blas_matches_expr(self, spark):
        """The BLAS per-cluster matmul path (the registered/100-TB
        variant) must produce verdict-identical output to the
        engine-portable expression path on real embeddings."""
        from qsvspark.functions import semantic_dedup
        from qsvspark.functions.similarity import train_ivf_centroids

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        cents = train_ivf_centroids(emb, n_centroids=8, sample_n=128)
        expr = {
            (r["vec_id"], r["cluster"], r["kept"])
            for r in semantic_dedup(emb, cents, 0.45, method="expr").collect()
        }
        blas = {
            (r["vec_id"], r["cluster"], r["kept"])
            for r in semantic_dedup(emb, cents, 0.45, method="blas").collect()
        }
        assert expr == blas and len(expr) == emb.count()
        assert any(not k for (_, _, k) in expr)  # some dups exist

    def test_round6_tie_same_verdict_on_both_paths(self, spark):
        """cos = 0.9000005 exactly (b's norm evaluates to 1.0): round-6
        half-up gives 0.900001 and meets the threshold; half-to-even
        would give 0.9 and keep the duplicate. Both paths drop it."""
        from qsvspark.functions import semantic_dedup

        rows = [(0, [1.0, 0.0]), (1, [0.9000005, 0.4358888619817557])]
        df = spark.createDataFrame(rows, ["vec_id", "embedding"])
        for method in ("expr", "blas"):
            out = semantic_dedup(df, [[1.0, 0.0]], threshold=0.900001, method=method)
            assert {r["vec_id"]: r["kept"] for r in out.collect()} == {
                0: True, 1: False,
            }, method

    def test_cross_cluster_dups_not_compared(self, spark):
        from qsvspark.functions import semantic_dedup

        # identical vectors that land in DIFFERENT clusters are never
        # compared — the SemDeDup contract (recall is bounded by the
        # clustering, in exchange for never materializing global pairs)
        rows = [(0, [1.0, 1.0]), (1, [1.0, 1.0])]
        df = spark.createDataFrame(rows, ["vec_id", "embedding"])
        # degenerate centroids forcing a tie: argmax picks the first for
        # both rows → same cluster → dup detected
        same = semantic_dedup(df, [[1.0, 0.0], [0.0, 1.0]], threshold=0.99)
        kept = {r["vec_id"]: r["kept"] for r in same.collect()}
        assert kept == {0: True, 1: False}
