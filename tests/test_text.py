"""Training-data operator tests: dedup (exact/minhash/simhash/jaccard),
quality/lang-id/fingerprint, similarity search, multimodal plumbing."""

from __future__ import annotations

import warnings

import numpy as np
import pytest
from pyspark.sql import functions as F

from insights_spark.session import local_df
from insights_spark.text import dedup, multimodal, quality, simsearch


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en"),
        (2, "the quick brown fox jumps over the lazy dog", "en"),      # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat", "en"),      # near dup of 1
        (4, "completely different text about spark engines and shuffles", "en"),
        (5, "der hund ist nicht von der katze und das ist gut", "de"),
        (6, "THE  Quick   Brown fox jumps over the lazy dog", "en"),   # ws/case dup of 1
        (7, "", "en"),
        (8, "le chat est une petite merveille pour la maison des gens", "fr"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_exact_dedup(spark, docs):
    out = {r["doc_id"]: r["dup_count"] for r in dedup.exact_dedup(docs).collect()}
    assert out[1] == 3  # 1, 2, 6 normalize to the same text
    assert 2 not in out and 6 not in out
    assert out[3] == 1 and out[4] == 1


def test_ngram_jaccard_pairs(spark, docs):
    out = {(r["a"], r["b"]): r["jaccard"]
           for r in dedup.ngram_jaccard_pairs(docs).collect()}
    assert (1, 2) in out and out[(1, 2)] == 1.0
    assert (1, 6) in out and out[(1, 6)] == 1.0
    assert (1, 3) in out and 0.4 < out[(1, 3)] < 0.8
    assert not any(4 in p for p in out)


def test_minhash_lsh_finds_near_dups(spark, docs):
    got = {(r["a"], r["b"]): r["jaccard"]
           for r in dedup.minhash_near_dups(docs).collect()}
    assert (1, 2) in got and got[(1, 2)] == 1.0
    assert (1, 6) in got
    # exact-dup pairs must survive any banding; near-dup 1-3 likely but not
    # guaranteed by LSH — verify against exact jaccard if present
    for (a, b), j in got.items():
        assert j >= 0.5


def test_minhash_signature_properties(spark, docs):
    sig = docs.select(
        "doc_id", dedup.minhash_signature(F.col("text")).alias("sig")
    ).collect()
    by_id = {r["doc_id"]: r["sig"] for r in sig}
    assert by_id[1] == by_id[2] == by_id[6]          # identical after normalize
    assert by_id[1] != by_id[4]
    assert len(by_id[1]) == 16
    assert by_id[7] == [dedup.MOD] * 16              # empty doc sentinel


def test_minhash_np_matches_column_fold(spark, docs):
    """The numpy fast path must be bit-identical to the portable column fold."""
    col_sig = {r["doc_id"]: r["s"] for r in docs.select(
        "doc_id", dedup.minhash_signature(F.col("text")).alias("s")).collect()}
    np_sig = {r["doc_id"]: r["s"] for r in docs.select(
        "doc_id", dedup.minhash_signature_np()(F.col("text")).alias("s")).collect()}
    assert col_sig == np_sig
    # and the numpy poly hash matches the python definition
    import numpy as np

    def pyhash(s):
        h = 7
        for c in s:
            h = (h * 31 + ord(c)) % dedup.MOD
        return h

    words = ["hello", "a", "spark engine", "x" * 50]
    assert dedup.poly_hash_np(words).tolist() == [pyhash(w) for w in words]
    assert dedup.poly_hash_np([]).tolist() == []


def test_simhash_near_dups(spark, docs):
    sh = {r["doc_id"]: r["simhash"]
          for r in dedup.with_simhash(docs).select("doc_id", "simhash").collect()}
    assert sh[1] == sh[2]  # identical token multiset
    # hamming(1,3) small, hamming(1,4) large
    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert ham(sh[1], sh[3]) < ham(sh[1], sh[4])
    pairs = {(r["a"], r["b"]) for r in dedup.simhash_near_dups(docs, max_hamming=3).collect()}
    assert (1, 2) in pairs


def test_quality_scores(spark, docs):
    q = {r["doc_id"]: r for r in quality.quality_scores(docs).collect()}
    assert q[1]["n_tokens"] == 9
    assert q[1]["stopword_ratio"] == pytest.approx(2 / 9)  # 'the' twice
    assert q[7]["n_tokens"] == 0 and q[7]["punct_ratio"] == 0.0
    assert q[1]["uniq_token_ratio"] == pytest.approx(8 / 9)


def test_lang_id(spark, docs):
    out = {r["doc_id"]: r["lang_pred"] for r in quality.lang_id(docs).collect()}
    assert out[1] == "en" and out[5] == "de" and out[8] == "fr"
    assert out[7] is None  # empty text → no prediction


def test_decontam_flags_planted_overlap(spark):
    """Benchmark decontamination: a doc containing the eval item's full
    n-gram window verbatim is flagged (case/whitespace-normalized); a doc
    sharing only n-1 of the n tokens is NOT; a doc with the same tokens in
    a different order is NOT; counts are per distinct benchmark gram."""
    from insights_spark.text.decontam import contaminated_docs

    item = [f"w{i}" for i in range(13)]      # one 13-gram window
    bench = spark.createDataFrame([(" ".join(item),)], "text string")
    docs = spark.createDataFrame(
        [
            (1, " ".join(["intro", *item, "outro"])),    # verbatim → hit
            (2, "  ".join(w.upper() for w in item[:6])
             + "\t" + " ".join(item[6:])),               # normalized → hit
            (3, " ".join([*item[:12], "epsilon", item[12]])),  # broken
            (4, " ".join(reversed(item))),               # wrong order
            (5, None),                                   # null-safe
            (6, " ".join(item[:12])),                    # too short
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["n_bench_grams"]
           for r in contaminated_docs(docs, bench).collect()}
    assert got == {1: 1, 2: 1}


def test_doc_fingerprint_matches_python(spark, docs):
    got = {r["doc_id"]: r["fp"] for r in
           docs.select("doc_id", quality.doc_fingerprint(F.col("text")).alias("fp")).collect()}

    def pyfp(t):
        import re

        norm = re.sub(r"\s+", " ", t.lower())
        h = 7
        for c in norm:
            h = (h * 31 + ord(c)) % 1_000_000_007
        return h

    for i, t, _ in [(1, "the quick brown fox jumps over the lazy dog", None)]:
        assert got[i] == pyfp(t)
    assert got[1] == got[2]  # same text → same fingerprint
    assert got[6] == got[1]  # normalization collapses case+whitespace
    assert got[7] == 7       # empty → seed


def test_cosine_topk_exact(spark):
    vecs = [
        (1, [1.0, 0.0, 0.0]), (2, [0.9, 0.1, 0.0]), (3, [0.0, 1.0, 0.0]),
        (4, [0.0, 0.0, 1.0]), (5, [0.7, 0.7, 0.0]),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    out = {(r["id"], r["rank"]): r["neighbor_id"]
           for r in simsearch.cosine_topk(df).collect()}
    assert out[(1, 1)] == 2 and out[(1, 2)] == 5
    assert out[(3, 1)] == 5


def test_cosine_topk_sample_matches_fold_path(spark):
    """The matmul-scan exact pass (cosine_topk_sample — the recall-gate
    shape) must return the identical (id, rank) → neighbor assignment as
    the fold-based cosine_topk on a tie-free fixture; ranks contiguous,
    self excluded."""
    rng = np.random.default_rng(9)
    rows = [(i, [float(x) for x in rng.normal(0, 1, 8)]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    sample = df.filter(F.col("vec_id") % 7 == 0)
    want = {(r["id"], r["rank"]): r["neighbor_id"]
            for r in simsearch.cosine_topk(df).collect() if r["id"] % 7 == 0}
    got = {(r["id"], r["rank"]): r["neighbor_id"]
           for r in simsearch.cosine_topk_sample(df, sample).collect()}
    assert got == want
    assert all(i != n for (i, _rk), n in got.items())


def test_cosine_topk_bucketed_recall(spark):
    rng = np.random.default_rng(2)
    # 3 well-separated clusters → bucket recall is perfect
    base = np.eye(3)
    rows = []
    i = 0
    for c in range(3):
        for _ in range(20):
            v = base[c] + rng.normal(0, 0.05, 3)
            rows.append((i, [float(x) for x in v]))
            i += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = {(r["id"], r["rank"]): r["neighbor_id"]
             for r in simsearch.cosine_topk(df).collect()}
    with warnings.catch_warnings():
        # a partly annotated applyInPandas kernel makes PySpark warn that it
        # cannot infer the eval type from the type hints
        warnings.simplefilter("error", UserWarning)
        approx = {(r["id"], r["rank"]): r["neighbor_id"]
                  for r in simsearch.cosine_topk_bucketed(df).collect()}
    agree = sum(1 for k_ in exact if approx.get(k_) == exact[k_])
    assert agree / len(exact) > 0.9
    # an empty vector table has no centroids to sample: empty result
    empty = local_df(spark, [], "vec_id long, embedding array<double>")
    out = simsearch.cosine_topk_bucketed(empty)
    assert out.columns == ["id", "neighbor_id", "score", "rank"]
    assert out.collect() == []


def test_ngram_df_cap_bounds_hot_gram_pairs(spark):
    """40 docs sharing six stop-grams: uncapped, the gram equi-join
    materializes C(40,2)=780 pairs through those grams (each pair at
    jaccard 6/8, over the 0.5 threshold); with the df cap the hot grams
    are dropped, so those docs produce NO pairs at all, while a true
    near-dup pair through low-df grams is retained with identical jaccard."""
    rows = [(i, f"s1 s2 s3 s4 s5 s6 s7 s8 u{i}") for i in range(40)]
    rows += [(100, "aa bb cc dd ee"), (101, "aa bb cc dd ee ff")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = dedup.ngram_jaccard_pairs(df)
    capped = dedup.ngram_jaccard_pairs(df, max_gram_df=10)
    hot = (F.col("a") < 40) & (F.col("b") < 40)
    assert uncapped.filter(hot).count() == 780
    assert capped.filter(hot).count() == 0
    nd = capped.filter(F.col("a") == 100).collect()
    assert len(nd) == 1 and nd[0]["b"] == 101 and abs(nd[0]["jaccard"] - 0.75) < 1e-12


def test_empty_doc_banding_filters(spark):
    """Empty/whitespace docs must not bucket-join with each other: minhash
    sentinel signatures and simhash-0 rows are excluded from banding, and
    (for minhash) the final output is provably unchanged since such pairs
    can never pass verification."""
    rows = [(1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog tonight")]
    rows += [(10 + i, "   " if i % 2 else "") for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    mh = dedup.minhash_near_dups(df).collect()
    assert {(r["a"], r["b"]) for r in mh} == {(1, 2)}
    sh = dedup.simhash_near_dups(df, max_hamming=10).collect()
    assert all(r["a"] not in range(10, 16) and r["b"] not in range(10, 16)
               for r in sh)


def _sig_band_pairs(spark, sigs, num_hashes, bands):
    df = spark.createDataFrame(list(sigs.items()), "_id long, _sig array<long>")
    keys = dedup._sig_band_keys("_sig", num_hashes, bands)
    return dedup._band_self_join(dedup._band_explode(df, keys)).collect()


def test_band_join_emits_pair_once_across_shared_bands(spark):
    """Two docs sharing 2 of 4 bands are one candidate row, not two."""
    rows = _sig_band_pairs(
        spark, {1: [1, 2, 3, 4, 5, 6, 7, 8], 2: [1, 2, 3, 4, 0, 0, 0, 0]}, 8, 4)
    assert [(r["a"], r["b"]) for r in rows] == [(1, 2)]


def test_band_join_keys_are_per_band(spark):
    """Equal key values in DIFFERENT bands are different buckets."""
    assert _sig_band_pairs(spark, {1: [5, 6, 7, 8], 2: [7, 8, 5, 6]}, 4, 2) == []


def test_band_join_orders_pairs_without_self_pairs(spark):
    """Identical signatures inserted out of id order: every pair once, a < b,
    no (x, x) rows."""
    same = [9, 9, 9, 9]
    rows = _sig_band_pairs(spark, {3: same, 1: same, 2: same, 4: [0, 1, 2, 3]}, 4, 2)
    assert sorted((r["a"], r["b"]) for r in rows) == [(1, 2), (1, 3), (2, 3)]


def test_bit_band_keys_read_negative_sketch_unsigned(spark):
    """Bit-band keys of a negative int64 equal the unsigned 64-bit reading
    (h mod 2^64) >> (b·w) & mask."""
    hs = [-1, -(1 << 63), -1234567890123456789, 1234567890123456789]
    df = spark.createDataFrame(list(enumerate(hs)), "_id long, _h long")
    got = {(r["_id"], r["band"]): r["key"] for r in dedup._band_explode(
        df, dedup._bit_band_keys("_h", 64, 4)).collect()}
    want = {(i, b): ((h % (1 << 64)) >> (b * 16)) & 0xFFFF
            for i, h in enumerate(hs) for b in range(4)}
    assert got == want


def test_minhash_near_dups_are_verified_lsh_candidates(spark, docs):
    """The fused pipeline bands exactly like the band join over the
    standalone signatures, then keeps the candidates whose exact Jaccard
    (ngram_jaccard_pairs) reaches 0.5."""
    nd = {(r["a"], r["b"]) for r in dedup.minhash_near_dups(docs).collect()}
    sigs = {r["doc_id"]: r["sig"] for r in docs.select(
        "doc_id", dedup.minhash_signature_np()(F.col("text")).alias("sig")).collect()
        if r["sig"][0] != dedup.MOD}
    cand = {(r["a"], r["b"]) for r in _sig_band_pairs(spark, sigs, 16, 4)}
    exact = {(r["a"], r["b"]) for r in dedup.ngram_jaccard_pairs(docs).collect()}
    assert nd == cand & exact and (1, 2) in nd


def test_band_geometry_must_tile_the_sketch(spark):
    """bands must be >= 1 and divide the sketch; leftover hashes or bits are
    an error, not silently dropped."""
    vecs = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id long, embedding array<float>")
    bad = [
        lambda: dedup._sig_band_keys("_sig", 16, 3),
        lambda: dedup._bit_band_keys("_h", 64, 0),
        lambda: simsearch.embedding_lsh_candidates(vecs, n_bits=32, bands=5),
        lambda: dedup.banded_hamming_pairs(
            spark.createDataFrame([(1, 5)], "_id long, h long"), "h", 3, 128),
    ]
    for build in bad:
        with pytest.raises(ValueError, match="bands="):
            build()
    # one band spanning all 64 bits is valid geometry: the key is the hash
    sh = spark.createDataFrame([(1, -1), (2, -1), (3, 5)], "_id long, h long")
    assert [tuple(r) for r in dedup.banded_hamming_pairs(sh, "h", 0, 1).collect()] \
        == [(1, 2, 0)]


def test_centroid_sampling_matches_global_sort(spark):
    """Hash-threshold centroid selection must equal the naive full-table
    sort-limit selection (same ordering key) — the scale fix may not change
    which vectors become centroids, nor their stored values."""
    import numpy as np
    from pyspark.sql import functions as F

    rng = np.random.default_rng(3)
    rows = [(int(i), [float(x) for x in rng.normal(size=8)]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    n, c = 200, 14
    got = simsearch.sample_centroids(df, n, c)
    M = n * 2 + 1
    naive = df.orderBy(
        F.pmod(F.col("vec_id") * 2654435761 + 42, F.lit(M)), F.col("vec_id")
    ).limit(c).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in naive]
    # degenerate: more centroids than vectors still terminates
    tiny = spark.createDataFrame(rows[:3], "vec_id long, embedding array<float>")
    assert len(simsearch.sample_centroids(tiny, 3, 10)) == 3


def synth_media(spark, n: int = 64, seed: int = 42):
    """Deterministic media fixture (binary payloads from a seeded RNG)."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        kind = ["image", "audio", "video"][i % 3]
        payload = bytes(rng.integers(0, 256, size=64 + (i % 5) * 32, dtype=np.uint8))
        rows.append(
            (
                i, kind, payload,
                {"image": "image/png", "audio": "audio/ogg", "video": "video/mp4"}[kind],
                16 if kind == "image" else None,
                16 if kind == "image" else None,
                3000 + 500 * (i % 7) if kind != "image" else None,
            )
        )
    return spark.createDataFrame(rows, multimodal.MEDIA)


def test_multimodal_plumbing(spark):
    media = synth_media(spark, n=30)
    feats = multimodal.image_features(media).collect()
    assert len(feats) == 10  # every 3rd row is an image
    for r in feats:
        assert r["n_bytes"] > 0 and len(r["feature"]) == 8
        assert abs(sum(r["feature"]) - 1.0) < 1e-5  # histogram normalized
        assert sum(r["hist"]) == 768  # fake decode: 16x16x3 payload bytes
        assert all(c >= 0 for c in r["hist"])
    frames = multimodal.frame_sample(media)
    rows = frames.collect()
    assert all(r["ts_ms"] == r["frame_idx"] * 1000 for r in rows)


def test_phash_near_dups(spark):
    """aHash + banded join vs a numpy brute-force replay: plant an exact
    dup, a 1-block tweak (hamming small), and an inverted image (hamming
    far beyond threshold); a uniform payload is excluded (ahash 0)."""
    base = bytes((i * 7) % 256 for i in range(768))
    tweak = bytearray(base)
    for i in range(6):  # brighten one 2x2 block hard: flips few bits
        tweak[i] = 255
    inverted = bytes(255 - b for b in base)
    uniform = bytes([100]) * 768
    rows = [(0, "image", base, "image/png", 16, 16, None),
            (1, "image", bytes(base), "image/png", 16, 16, None),
            (2, "image", bytes(tweak), "image/png", 16, 16, None),
            (3, "image", inverted, "image/png", 16, 16, None),
            (4, "image", uniform, "image/png", 16, 16, None),
            (5, "audio", base, "audio/ogg", None, None, 3000)]
    media = spark.createDataFrame(rows, multimodal.MEDIA)
    hashes = {r["media_id"]: r["ahash"]
              for r in multimodal.image_ahash(media, use_codec=False).collect()}
    assert hashes[0] == hashes[1] != 0
    assert hashes[4] == 0  # uniform image: every block == mean
    assert 5 not in hashes  # audio filtered before decode

    def brute(h1, h2):
        return bin((h1 ^ h2) & ((1 << 64) - 1)).count("1")

    got = {(r["a"], r["b"]): r["hamming"]
           for r in multimodal.phash_near_dups(
               media, use_codec=False).collect()}
    want = {}
    ids = [i for i, h in hashes.items() if h != 0]
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            d = brute(hashes[a], hashes[b])
            if d <= 3:
                want[(a, b)] = d
    assert got == want
    assert (0, 1) in got and got[(0, 1)] == 0  # exact dup found
    assert all(3 not in p for p in got)  # inverted image: far away
    assert all(4 not in p for p in got)  # uniform excluded


def test_embedding_near_dups_exact(spark):
    """embedding_near_dups matches a numpy brute-force cosine at the same
    threshold (sequential-fold dot product — parity with the DuckDB
    list_dot_product oracle is asserted by the driver harness)."""
    rng = np.random.default_rng(11)
    rows = [(i, [float(x) for x in rng.normal(0, 1, 8)]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {(r["a"], r["b"]): r["cosine"]
           for r in simsearch.embedding_near_dups(df).collect()}
    X = np.stack([np.asarray(v, dtype=np.float32).astype(np.float64)
                  for _, v in rows])
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    S = Xn @ Xn.T
    want = {(a, b) for a in range(30) for b in range(a + 1, 30)
            if S[a, b] >= 0.4 - 1e-9}
    # fold-order float differences can flip pairs sitting exactly on the
    # threshold; keep the comparison off-threshold
    assert {p for p in got} == want
    for (a, b), c in got.items():
        assert abs(c - S[a, b]) < 1e-6


def test_embedding_lsh_candidate_recall(spark):
    """Random-hyperplane LSH candidates cover the high-cosine pairs: planted
    near-duplicate pairs (cosine ≥ 0.95) must all appear as candidates,
    and the candidate set must stay far below all-pairs."""
    rng = np.random.default_rng(3)
    rows, truth = [], set()
    i = 0
    for _ in range(25):
        v = rng.normal(0, 1, 16)
        w = v + rng.normal(0, 0.02, 16)  # near-dup: cosine ≈ 0.9998
        rows.append((i, [float(x) for x in v]))
        rows.append((i + 1, [float(x) for x in w]))
        truth.add((i, i + 1))
        i += 2
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cand = {(r["a"], r["b"])
            for r in simsearch.embedding_lsh_candidates(df).collect()}
    assert truth <= cand          # perfect recall on planted near-dups
    assert len(cand) < 50 * 49 / 2 / 3   # and nowhere near all-pairs


def test_clean_corpus_chain(spark, docs):
    """Each stage of the composed cleaner bites: short/empty docs gated,
    exact dups collapse to the min id, near-dups drop the larger id,
    unknown-language docs are filtered by the default lang set."""
    from insights_spark.text.clean import clean_corpus

    kept = {r["doc_id"]: r for r in clean_corpus(docs).collect()}
    assert 7 not in kept                      # empty doc gated
    assert 1 in kept and 2 not in kept        # exact dup → min id kept
    assert 6 not in kept                      # ws/case dup of 1
    assert 3 not in kept                      # near dup of 1 (jaccard ≥ 0.5), larger id
    assert 5 in kept and kept[5]["lang_pred"] == "de"
    assert 8 in kept and kept[8]["lang_pred"] == "fr"
    assert kept[1]["n_tokens"] == 9


def test_inverted_index_matches_bruteforce(spark, docs):
    """Postings == python brute force for uni- and bigrams, bounds applied."""
    from insights_spark.text.index import inverted_index

    rows = [(r["doc_id"], r["text"]) for r in docs.collect()]
    for ngram, min_df, max_df in ((1, 2, 50), (2, 1, 50)):
        want = {}
        for did, text in rows:
            toks = [t for t in text.lower().split() if t]
            terms = (toks if ngram == 1 else
                     [" ".join(toks[i:i + ngram]) for i in range(len(toks) - ngram + 1)])
            for t in set(terms):
                want.setdefault(t, []).append(did)
        want = {t: (len(ids), ",".join(str(i) for i in sorted(ids)))
                for t, ids in want.items() if min_df <= len(ids) <= max_df}
        got = {r["term"]: (r["df"], r["posting_csv"])
               for r in inverted_index(docs, min_df, max_df, ngram=ngram).collect()}
        assert got == want and len(got) > 0


def test_train_test_split_stable_and_stratified(spark, docs):
    """Assignment is a pure function of the id: stable under repartition
    and union-order changes, and exactly 10% test on whole blocks of
    1000 ids."""
    from insights_spark.text.clean import train_test_split

    ids = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"]: r["split"] for r in train_test_split(ids).collect()}
    b = {r["doc_id"]: r["split"] for r in
         train_test_split(ids.repartition(7)).collect()}
    assert a == b
    n_test = sum(1 for v in a.values() if v == "test")
    # bucket = (3·(id mod 1000) + 7) mod 1000 permutes the residues, so
    # each block of 1000 ids holds exactly 100 test docs
    assert n_test == 200
    # appends never migrate earlier docs
    more = spark.range(0, 3000).withColumnRenamed("id", "doc_id")
    c = {r["doc_id"]: r["split"] for r in train_test_split(more).collect()}
    assert all(c[k] == v for k, v in a.items())


def test_approx_distinct_gate(spark):
    from insights_spark.ops.stats import approx_distinct_gate

    df = spark.range(0, 5000).select(
        (F.col("id") % 7).alias("g"), (F.col("id") % 1231).alias("v")
    )
    out = {r["g"]: (r["n_exact"], r["within_bounds"])
           for r in approx_distinct_gate(df, "v", ["g"]).collect()}
    assert len(out) == 7
    for g, (n, ok) in out.items():
        assert ok, (g, n)
        assert n == len({i % 1231 for i in range(5000) if i % 7 == g})


def test_sessionize_boundaries(spark):
    """Gap exactly == timeout stays in-session (strict >); NULL-lag first
    event opens a session; separate users never merge."""
    from datetime import datetime

    from insights_spark.ops.sessions import sessionize

    rows = [
        (1, 10, datetime(2024, 1, 1, 0, 0, 0)),
        (2, 10, datetime(2024, 1, 1, 0, 30, 0)),   # gap == 30 min → same session
        (3, 10, datetime(2024, 1, 1, 1, 0, 1)),    # gap 30:01 → new session
        (4, 11, datetime(2024, 1, 1, 0, 0, 0)),    # other user
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp_ntz"
    )
    got = {(r["user_id"], r["session_idx"]): r["n_events"]
           for r in sessionize(ev, gap_minutes=30.0).collect()}
    assert got == {(10, 1): 2, (10, 2): 1, (11, 1): 1}


def test_per_source_cap_and_stratified_sample(spark):
    """Cap keeps ≤k per source with hash-stable membership; sample draws
    exactly min(k, stratum size) per stratum; both repartition-invariant."""
    from insights_spark.text.clean import per_source_cap, stratified_sample

    d = spark.range(0, 300).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("s"), F.pmod("id", F.lit(4)).cast("string")).alias("source"),
        F.concat(F.lit("L"), F.pmod("id", F.lit(6)).cast("string")).alias("lang"),
    )
    kept = per_source_cap(d, 7)
    per_src = {r["source"]: r["n"] for r in
               kept.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert per_src == {f"s{i}": 7 for i in range(4)}
    again = {tuple(sorted(r["doc_id"] for r in per_source_cap(
        d.repartition(13), 7).collect()))}
    assert {tuple(sorted(r["doc_id"] for r in kept.collect()))} == again

    # stratum smaller than k → whole stratum kept
    samp = stratified_sample(d, 60)
    per_lang = {r["lang"]: r["n"] for r in
                samp.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert per_lang == {f"L{i}": 50 for i in range(6)}
    samp2 = stratified_sample(d, 10)
    assert samp2.count() == 60


def test_approx_quantile_gate(spark):
    from insights_spark.ops.stats import approx_quantile_gate

    df = spark.range(0, 4000).select(
        (F.col("id") % 3).alias("g"), (F.col("id") % 101).cast("double").alias("v")
    )
    rows = approx_quantile_gate(df, "v", ["g"]).collect()
    assert len(rows) == 3
    for r in rows:
        assert r["within_bounds"], r
        assert abs(r["exact_q"] - 50.0) <= 1.0


def test_pack_sequences_invariants(spark):
    """Packing invariants: chunks tile each doc exactly (union of
    [tok_start, tok_start+n) == [0, n_doc)); every sequence id except the
    last carries exactly seq_len tokens; result invariant to input
    partitioning (the distributed prefix sum is deterministic)."""
    from insights_spark.text.pack import pack_sequences

    rows = [(i, " ".join(f"w{j}" for j in range((i * 37) % 90 + 1)))
            for i in range(60)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = pack_sequences(docs, seq_len=64).collect()

    per_doc = {}
    per_seq = {}
    for r in out:
        per_doc.setdefault(r["doc_id"], []).append((r["tok_start"], r["n_toks"]))
        per_seq[r["seq_id"]] = per_seq.get(r["seq_id"], 0) + r["n_toks"]
    for i, text in rows:
        n = len(text.split())
        chunks = sorted(per_doc[i])
        assert chunks[0][0] == 0
        pos = 0
        for s, ln in chunks:
            assert s == pos and ln > 0
            pos += ln
        assert pos == n
    last = max(per_seq)
    for sid, tot in per_seq.items():
        assert tot == (64 if sid != last else tot)
        assert tot <= 64
    assert sorted(per_seq) == list(range(last + 1))  # no gaps

    out2 = pack_sequences(docs.repartition(13), seq_len=64).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_audio_features_hand_computed(spark):
    """Audio fake-decode stats vs hand-worked bytes: '@' (64) → sample 0,
    ' ' (32) → −32, 'x' (120) → +56; zero_cross counts strict sign flips
    (zeros break runs without flipping)."""
    from insights_spark.text.multimodal import audio_features

    payload = b" x @x "  # samples: -32, +56, -32, 0, +56, -32
    media = spark.createDataFrame(
        [(1, "audio", bytearray(payload)), (2, "audio", None),
         (3, "image", bytearray(b"zz"))],
        "media_id long, kind string, payload binary",
    )
    rows = {r["media_id"]: r for r in audio_features(media).collect()}
    assert set(rows) == {1, 2}  # image filtered; NULL payload passes through
    r = rows[1]
    assert r["n_samples"] == 6
    assert r["peak"] == 56
    assert r["energy"] == 32**2 + 56**2 + 32**2 + 0 + 56**2 + 32**2
    # flips: (-32,+56), (+56,-32), (+56,-32) → 3; (-32,0) and (0,+56) are not
    assert r["zero_cross"] == 3
    assert rows[2]["n_samples"] is None


def test_repetition_scores_hand_computed(spark):
    """Gopher repetition gates vs hand-worked counts on 'a b a b a c':
    tokens a×3 b×2 c×1 → dup tokens 5/6; dup token chars 5/6 (all len 1);
    2-grams: 'a b'×2, 'b a'×2, 'a c'×1 → top gram 'a b' (tie broken
    lexicographically vs 'b a'), chars 2·2/6; dup gram chars (2+2)·2/6."""
    from insights_spark.text.quality import repetition_scores

    df = spark.createDataFrame(
        [(1, "a b a b a c"), (2, "x y z"), (3, ""), (4, None)],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in repetition_scores(df).collect()}
    assert set(rows) == {1, 2, 3}  # NULL text dropped, empty text kept
    r = rows[1]
    assert r["n_tokens"] == 6
    assert r["dup_token_frac"] == pytest.approx(5 / 6)
    assert r["dup_token_char_frac"] == pytest.approx(5 / 6)
    assert r["top_gram_char_frac"] == pytest.approx(2 * 2 / 6)
    assert r["dup_gram_char_frac"] == pytest.approx((2 + 2) * 2 / 6)
    r2 = rows[2]  # no repetition at all
    assert r2["n_tokens"] == 3
    assert r2["dup_token_frac"] == 0.0
    assert r2["top_gram_char_frac"] == pytest.approx(2 / 3)  # 'x y' once ×2 chars
    assert r2["dup_gram_char_frac"] == 0.0
    r3 = rows[3]  # empty text → all-zero row, no NaNs
    assert r3["n_tokens"] == 0 and r3["dup_token_frac"] == 0.0
    assert r3["top_gram_char_frac"] == 0.0


def test_boilerplate_flags_hand_computed(spark):
    """Cross-doc duplicate segments flagged by df>=2: in 10-token
    segments, docs 1 and 2 share the nav segment; doc 1's unique tail
    survives. Within-doc repeats (doc 3) do NOT flag — df counts distinct
    docs."""
    from insights_spark.text.clean import boilerplate_flags

    def words(p, n):
        return " ".join(f"{p}{i}" for i in range(n))

    df = spark.createDataFrame(
        [
            (1, f"{words('nav', 10)} {words('real', 10)} here"),  # 3 segs
            (2, f"{words('nav', 10)} {words('other', 5)}"),       # 2 segs
            (3, " ".join(["same"] * 40)),   # 4 equal segs in one doc
            (4, None),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in boilerplate_flags(df).collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1]["n_segs"] == 3
    assert rows[1]["boiler_segs"] == 1
    assert rows[1]["boiler_frac"] == pytest.approx(1 / 3)
    assert rows[1]["kept_tokens"] == 11  # the real0-9 segment + 'here'
    assert rows[2]["boiler_segs"] == 1 and rows[2]["kept_tokens"] == 5
    assert rows[3]["boiler_segs"] == 0 and rows[3]["kept_tokens"] == 40


def test_frame_schedule_metadata_only(spark):
    """frame_sample emits the decode schedule from metadata alone:
    duration 3500 ms at 1000 ms cadence → frames 0,1,2 (ts 0,1000,2000);
    duration 900 ms → one frame at 0; non-video rows dropped."""
    from insights_spark.text.multimodal import frame_sample

    media = spark.createDataFrame(
        [(1, "video", 3500), (2, "video", 900), (3, "audio", 5000)],
        "media_id long, kind string, duration_ms int",
    )
    rows = sorted(
        (r["media_id"], r["frame_idx"], r["ts_ms"])
        for r in frame_sample(media).collect()
    )
    assert rows == [(1, 0, 0), (1, 1, 1000), (1, 2, 2000), (2, 0, 0)]


def test_pii_scrub_hand_computed(spark):
    """Email/phone/IPv4 detection + typed-token redaction; counts on the
    original text; NULL text passes through untouched."""
    from insights_spark.text.pii import pii_scrub

    df = spark.createDataFrame(
        [
            (1, "mail me at bob.smith+x@mail.example.org or (555) 010-1234"),
            (2, "server 10.0.3.77 and 192.168.1.1 rebooted"),
            (3, "no pii here"),
            (4, None),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in pii_scrub(df).collect()}
    assert (rows[1]["n_emails"], rows[1]["n_phones"], rows[1]["n_ips"]) == (1, 1, 0)
    assert rows[1]["redacted"] == "mail me at <EMAIL> or <PHONE>"
    assert (rows[2]["n_emails"], rows[2]["n_phones"], rows[2]["n_ips"]) == (0, 0, 2)
    assert rows[2]["redacted"] == "server <IP> and <IP> rebooted"
    assert rows[3]["redacted"] == "no pii here"
    assert rows[4]["n_emails"] is None and rows[4]["redacted"] is None


def test_budget_select_hand_computed(spark):
    """Quality order = uniq-token ratio desc, doc_id asc: doc 2 (ratio 1.0)
    first, then doc 1 and doc 3 (both 0.5, id tiebreak). Budget 7 admits
    docs 2 (cum 3) and 1 (cum 7); doc 3 (cum 11) is over; doc 4 empty."""
    from insights_spark.text.clean import budget_select

    df = spark.createDataFrame(
        [
            (1, "a a b b"),          # 4 toks, uniq 2/4
            (2, "x y z"),            # 3 toks, uniq 1.0
            (3, "c c d d"),          # 4 toks, uniq 2/4
            (4, ""),
            (5, None),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in budget_select(df, token_budget=7).collect()}
    assert set(rows) == {1, 2}
    assert rows[2]["cum_tokens"] == 3
    assert rows[1]["cum_tokens"] == 7


def test_classifier_score_hand_computed(spark):
    """Linear scorer over the token_weight model: doc 1 = a a b →
    sw = 2·w(a) + w(b), doc 2 = B b → sw = 2·w(b) (tokens lowercase);
    exact score = sw / (97·n), keep ⇔ sw > 0. Empty and NULL docs carry
    no evidence and are unscored."""
    from insights_spark.text.classify import classifier_score, token_weight
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "B b"), (3, ""), (4, None)],
        "doc_id long, text string",
    )
    w = {r["tok"]: r["w"] for r in spark.createDataFrame(
        [("a",), ("b",)], "tok string"
    ).select("tok", token_weight(F.col("tok")).alias("w")).collect()}
    rows = {r["doc_id"]: r for r in classifier_score(docs).collect()}
    assert set(rows) == {1, 2}
    for doc, sw, n in ((1, 2 * w["a"] + w["b"], 3), (2, 2 * w["b"], 2)):
        assert rows[doc]["n_tokens"] == n
        assert rows[doc]["score"] == sw / (97 * n)
        assert rows[doc]["keep"] is (sw > 0)


def test_classifier_derived_weights_deterministic(spark):
    """Vocab-derived weights are a pure function of token content: two
    runs agree row-for-row, and weights stay within [-48, 48]."""
    from insights_spark.text.classify import classifier_score, token_weight
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(i, f"w{i % 7} w{(i * 3) % 7} common") for i in range(20)],
        "doc_id long, text string",
    )
    a = sorted(map(tuple, classifier_score(docs).collect()))
    b = sorted(map(tuple, classifier_score(docs).collect()))
    assert a == b
    ws = (
        docs.select(F.explode(F.split("text", " ")).alias("tok")).distinct()
        .select(token_weight(F.col("tok")).alias("w")).collect()
    )
    assert all(-48 <= r["w"] <= 48 for r in ws)


def test_near_dup_clusters_transitive(spark):
    """A~B and B~C collapse to one cluster labeled min id; D~E a second;
    F (no pair) is its own singleton canonical."""
    from insights_spark.text.dedup import near_dup_clusters

    docs = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 5, 6]], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "a long, b long")
    rows = {r["doc_id"]: r for r in near_dup_clusters(docs, pairs).collect()}
    assert {i: rows[i]["cluster_id"] for i in rows} == {
        1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6}
    assert [i for i in sorted(rows) if rows[i]["is_canonical"]] == [1, 4, 6]


def test_corpus_shuffle_deterministic_permutation(spark):
    """shuffle_rank is a permutation of 0..n-1, identical across runs and
    across input partitioning, and genuinely shuffled (not id order)."""
    from insights_spark.text.pack import corpus_shuffle

    docs = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    a = {r["doc_id"]: r["shuffle_rank"] for r in corpus_shuffle(docs).collect()}
    b = {r["doc_id"]: r["shuffle_rank"]
         for r in corpus_shuffle(docs.repartition(7)).collect()}
    assert a == b
    assert sorted(a.values()) == list(range(200))
    assert [a[i] for i in range(200)] != list(range(200))


def test_minhash_vs_index_hand_checked(spark):
    """Cross-corpus near-dup via stored signatures only: identical text
    across batch/index estimates 1.0; disjoint text never pairs; a
    gram-less doc (sentinel signature) pairs with nothing."""
    from insights_spark.text.dedup import minhash_signature_np, minhash_vs_index

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "completely different words about spark shuffles here"),
            (10, "the quick brown fox jumps over the lazy dog today"),
            (11, "unrelated content entirely on another topic for sure"),
            (12, "xy"),  # < 3 tokens -> no grams -> sentinel
        ],
        "doc_id long, text string",
    )
    sigs = docs.select(
        "doc_id", minhash_signature_np()(F.col("text")).alias("sig"))
    batch = sigs.filter(F.col("doc_id") < 10)
    index = sigs.filter(F.col("doc_id") >= 10)
    rows = minhash_vs_index(batch, index).collect()
    assert [(r["a"], r["b"], r["est_jaccard"]) for r in rows] == [(1, 10, 1.0)]


def test_containment_catches_quote_inclusion_jaccard_misses(spark):
    """A short doc pasted verbatim inside a much longer one: containment
    a→b is 1.0 (caught) while Jaccard is far below any usable threshold
    (structurally missed); the reverse direction b→a stays small; docs
    sharing no grams never pair."""
    from insights_spark.text.dedup import containment_pairs, ngram_jaccard_pairs

    quote = "the sharded index rebuild finished ahead of schedule tonight"
    filler = " ".join(f"w{i} token{i * 7 % 13}x{i}" for i in range(60))
    docs = spark.createDataFrame(
        [
            (1, quote),
            (2, filler + " " + quote + " " + filler.replace("w", "v")),
            (3, "entirely unrelated content about tide tables and gulls"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["a"], r["b"]): r["containment"]
        for r in containment_pairs(docs, threshold=0.6).collect()
    }
    assert got == {(1, 2): 1.0}
    # same pair, Jaccard: |a| grams all shared but |b| dwarfs them
    jac = ngram_jaccard_pairs(docs).collect()
    assert jac == []


def test_containment_mutual_and_df_cap(spark):
    """Near-identical docs emit BOTH directed rows; the df-cap removes
    grams shared by too many docs from numerator and denominator alike
    (capped containment is computed over the surviving gram sets)."""
    from insights_spark.text.dedup import containment_pairs

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [(i, base) for i in range(1, 4)] + [(9, base + " extra tail words here")],
        "doc_id long, text string",
    )
    rows = containment_pairs(docs, threshold=0.9).collect()
    pairs = {(r["a"], r["b"]) for r in rows}
    for x in (1, 2, 3):
        for y in (1, 2, 3):
            if x != y:
                assert (x, y) in pairs
    # cap at df<=3: the 8 base grams occur in 4 docs -> dropped; only doc
    # 9's tail grams survive, shared with nobody -> no pairs at all
    assert containment_pairs(docs, threshold=0.1, max_gram_df=3).collect() == []


def test_bm25_hand_computed(spark):
    """BM25 scores match a python re-derivation of the exact formula
    (rational idf, sorted-fold sum) on a tiny corpus; docs with no query
    term are absent; repeated terms raise tf but saturate via k1."""
    from insights_spark.text.rank import bm25_scores

    texts = {
        1: "spark shuffle spark join",
        2: "spark only once here with padding words",
        3: "nothing relevant at all",
        4: "join join join join",
    }
    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    q = spark.createDataFrame([("spark",), ("join",)], "term string")
    got = {r["doc_id"]: r for r in bm25_scores(docs, q).collect()}

    k1, b = 1.2, 0.75
    dl = {d: len(t.split()) for d, t in texts.items()}
    n = len(texts)
    avgdl = sum(dl.values()) / n
    tf = {(1, "spark"): 2, (1, "join"): 1, (2, "spark"): 1, (4, "join"): 4}
    df = {"spark": 2, "join": 2}
    want = {}
    for d in texts:
        ws = []
        for t in ("spark", "join"):
            if (d, t) in tf:
                idf = (n - df[t] + 0.5) / (df[t] + 0.5)
                x = tf[(d, t)]
                ws.append(idf * (x * (k1 + 1.0)) /
                          (x + k1 * (1.0 - b + b * (dl[d] / avgdl))))
        if ws:
            s = 0.0
            for v in sorted(ws):
                s += v
            want[d] = (len(ws), s)
    assert set(got) == set(want) == {1, 2, 4}
    for d, (nt, s) in want.items():
        assert got[d]["n_terms"] == nt
        assert got[d]["score"] == s, d  # bit-exact, not approx


def test_canonical_url_rules(spark):
    """Each RFC-3986 normalization rule plus the crawl conventions, pinned
    case by case — including the ones that must NOT fire (non-default
    port kept, 'referer' is not 'ref', non-tracking params survive)."""
    from insights_spark.text.urls import canonical_url

    cases = [
        ("HTTPS://www.Example.COM/A/b", "https://www.example.com/A/b"),
        ("https://ex.com:443/x", "https://ex.com/x"),
        ("http://ex.com:80/x", "http://ex.com/x"),
        ("http://ex.com:8080/x", "http://ex.com:8080/x"),
        ("https://ex.com:80/x", "https://ex.com:80/x"),  # not https default
        ("https://ex.com/a/b/#frag", "https://ex.com/a/b"),
        ("https://ex.com", "https://ex.com/"),
        ("https://ex.com/?", "https://ex.com/"),
        ("https://ex.com/p?utm_source=a&utm_campaign=b", "https://ex.com/p"),
        ("https://ex.com/p?gclid=1&id=2&fbclid=3&ref", "https://ex.com/p?id=2"),
        ("https://ex.com/p?referer=x", "https://ex.com/p?referer=x"),
        ("https://ex.com/p?b=2&a=1", "https://ex.com/p?a=1&b=2"),
        ("https://ex.com/p///", "https://ex.com/p"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r["c"] for r in
           df.select(F.col("url"), canonical_url(F.col("url")).alias("c"))
             .orderBy("url").collect()]
    want = [w for _, w in sorted(cases)]
    assert got == want


def test_url_dedup_latest_wins_and_ties(spark):
    """Latest warc_ts wins; exact-ts ties break to the larger id; variant
    and distinct-spelling counts are per canonical key."""
    from datetime import datetime

    from insights_spark.text.urls import url_dedup

    t1, t2 = datetime(2021, 1, 1), datetime(2021, 6, 1)
    rows = [
        (1, "https://ex.com/p?id=1", t2),
        (2, "HTTPS://EX.com:443/p/?id=1#x", t1),   # same canonical, older
        (3, "https://ex.com/p?utm_source=z&id=1", t2),  # ts tie with id 1
        (4, "https://ex.com/q", t1),
    ]
    got = {
        r["canonical_url"]: r
        for r in url_dedup(
            spark.createDataFrame(rows, "doc_id long, url string, warc_ts timestamp")
        ).collect()
    }
    p = got["https://ex.com/p?id=1"]
    assert (p["kept_id"], p["last_ts"], p["n_variants"], p["n_urls"]) == (3, t2, 3, 3)
    q = got["https://ex.com/q"]
    assert (q["kept_id"], q["n_variants"], q["n_urls"]) == (4, 1, 1)


def test_cdc_chunks_structure_and_edit_robustness(spark):
    """CDC invariants: chunks tile the document exactly (contiguous
    starts, lengths sum to len); sub-window and anchor-free docs yield
    one whole-doc chunk; null/empty rows vanish; and the CDC property
    itself — prepending an edit leaves every chunk after the first
    shared anchor IDENTICAL (same (length, chash) tail), which
    fixed-stride chunking cannot do."""
    import random
    import string

    from insights_spark.text.dedup import cdc_chunks

    rng = random.Random(99)
    body = "".join(rng.choice(string.ascii_lowercase + " ") for _ in range(4000))
    rows = [(1, body), (2, "edit! " + body), (3, "tiny"), (4, ""), (5, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {}
    for r in cdc_chunks(df).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["chunk_idx"], r["start"], r["length"], r["chash"]))
    for d in got:
        got[d].sort()
    assert set(got) == {1, 2, 3}          # empty + null dropped
    for doc_id, text in [(1, body), (2, "edit! " + body), (3, "tiny")]:
        chunks = got[doc_id]
        assert chunks[0][1] == 1
        assert sum(c[2] for c in chunks) == len(text)
        for i in range(1, len(chunks)):   # contiguous tiling
            assert chunks[i][1] == chunks[i - 1][1] + chunks[i - 1][2]
    assert len(got[3]) == 1               # sub-window doc: one chunk
    # edit robustness: tails align from the first common anchor on
    t1 = [(c[2], c[3]) for c in got[1]]
    t2 = [(c[2], c[3]) for c in got[2]]
    assert len(t1) > 3                    # anchors actually fired
    k = 0
    while t1[-1 - k] == t2[-1 - k]:
        k += 1
    assert k >= len(t1) - 2               # at most the head chunks differ


def test_cdc_containment_pairs_and_dfcap(spark):
    """The edited-copy pair shares most of its CDC bytes; unrelated docs
    never pair; a 70-doc boilerplate clique exceeds the df-cap so its
    chunks leave candidate generation entirely (no quadratic clique)."""
    import random
    import string

    from insights_spark.text.dedup import cdc_containment

    rng = random.Random(5)
    body = "".join(rng.choice(string.ascii_lowercase + " ") for _ in range(3000))
    other = "".join(rng.choice(string.ascii_lowercase + " ") for _ in range(3000))
    boiler = "".join(rng.choice(string.ascii_lowercase + " ") for _ in range(1500))
    rows = [(1, body), (2, "edited prefix! " + body), (3, other)]
    rows += [(100 + i, boiler) for i in range(70)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["a"], r["b"]): r["shared_bytes"]
           for r in cdc_containment(df).collect()}
    assert (1, 2) in got
    assert got[(1, 2)] >= 0.6 * 3000      # tail chunks all shared
    assert not any(3 in p for p in got)   # unrelated doc pairs nothing
    # identical boilerplate docs pair with NOBODY: their chunks have
    # df=70 > 64 and are dropped from candidate generation
    assert not any(a >= 100 or b >= 100 for a, b in got)


def test_passage_dedup_keep_first_order(spark):
    """Keep-first semantics pinned by hand on 10-token chunks: a chunk
    repeated WITHIN a doc loses its second instance, a passage copied
    into a later doc is removed there, and the (doc_id, idx) order
    decides the survivor."""
    from insights_spark.text.dedup import passage_dedup

    A = " ".join(f"a{i}" for i in range(10))
    P = " ".join(f"p{i}" for i in range(10))
    rows = [
        # doc 1: chunks [A], [A], [x y] — internal repeat
        (1, f"{A} {A} x y"),
        # doc 2: [A], [P] — first chunk already seen in doc 1
        (2, f"{A} {P}"),
        # doc 3: [P] seen in doc 2; [z] fresh
        (3, f"{P} z"),
        (4, None),          # NULL text → no tokens → absent
        (5, ""),            # empty → absent
    ]
    got = {
        r["doc_id"]: (r["n_chunks"], r["n_kept"], r["tokens_kept"],
                      r["tokens_removed"])
        for r in passage_dedup(
            spark.createDataFrame(rows, "doc_id long, text string")
        ).collect()
    }
    assert got == {
        1: (3, 2, 12, 10),  # second [A] removed
        2: (2, 1, 10, 10),  # [A] removed, [P] kept (first)
        3: (2, 1, 1, 10),   # [P] removed, [z] kept
    }


def test_heavy_hitters_exact_and_partitioning_invariant(spark):
    """MG candidates + exact recount equals the brute-force answer on a
    skewed stream that FORCES evictions (k smaller than the vocabulary),
    and the output is identical under a different partitioning even
    though the candidate superset isn't."""
    from collections import Counter
    import random

    from insights_spark.text.freq import heavy_hitters, _mg_update

    rng = random.Random(7)
    words = [f"w{i}" for i in range(100)]
    # zipf-ish: w0 very hot, long uniform tail
    stream = (["w0"] * 600 + ["w1"] * 300 + ["w2"] * 150
              + [rng.choice(words[3:]) for _ in range(950)])
    rng.shuffle(stream)
    docs = [(i, " ".join(stream[i * 20:(i + 1) * 20])) for i in range(100)]
    exact = Counter(t for _, txt in docs for t in txt.split())
    N = sum(exact.values())
    k = 32  # heavy_hitters' counter budget
    want = {(t, c) for t, c in exact.items() if c * k > N}
    assert want and len(want) < len(exact)  # fixture is non-trivial

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {(r["term"], r["n"]) for r in heavy_hitters(df).collect()}
    assert got == want
    got7 = {(r["term"], r["n"])
            for r in heavy_hitters(df.repartition(7)).collect()}
    assert got7 == want

    # the MG kernel itself decrements: 100 distinct words can't fit in 32
    # counters, so a full pass must have evicted at least once
    counters = {}
    _mg_update(counters, stream, k)
    assert len(counters) <= k
    assert "w0" in counters  # the guaranteed survivor


def test_novelty_hand_cases(spark):
    """Duplicated docs score 0 (every gram df=2), a fully unique doc
    scores 1, a half-shared doc lands exactly between."""
    from insights_spark.text.freq import novelty_scores

    rows = [
        (1, "a b c d e"),        # grams: abc bcd cde (cde shared w/ doc 3)
        (2, "a b c d e"),        # exact dup of 1 → all grams df>=2
        (3, "q r s t c d e"),    # qrs rst stc tcd cde → 4 of 5 unique
        (4, "u v w"),            # single unique gram → 1.0
        (5, "x y"),              # < 3 tokens → absent
    ]
    got = {
        r["doc_id"]: (r["n_grams"], r["n_novel"], r["novelty"])
        for r in novelty_scores(
            spark.createDataFrame(rows, "doc_id long, text string")
        ).collect()
    }
    assert got == {
        1: (3, 0, 0.0),
        2: (3, 0, 0.0),
        3: (5, 4, 0.8),
        4: (1, 1, 1.0),
    }


def test_mix_sources_quota_shortfall_and_determinism(spark):
    """Quota math (floor of total·w/Σw), shortfall sources yield all they
    have, unweighted sources yield nothing, and membership is identical
    under repartitioning (content-stable hash rank)."""
    from insights_spark.text.clean import mix_sources

    rows = [(i, f"s{i % 4}") for i in range(80)]  # 20 docs per source
    df = spark.createDataFrame(rows, "doc_id long, source string")
    # weights 3:1 over s0, s1 at total 40 -> quotas 30 (shortfall: 20), 10
    out = mix_sources(df, {"s0": 3.0, "s1": 1.0}, total=40).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r)
    assert set(by_src) == {"s0", "s1"}         # s2/s3 unweighted -> absent
    assert len(by_src["s0"]) == 20             # quota 30, only 20 exist
    assert all(r["quota"] == 30 for r in by_src["s0"])
    assert len(by_src["s1"]) == 10             # true selection
    assert all(r["quota"] == 10 for r in by_src["s1"])
    ids = {(r["doc_id"], r["mix_rank"]) for r in out}
    out7 = mix_sources(
        df.repartition(7), {"s0": 3.0, "s1": 1.0}, total=40
    ).collect()
    assert {(r["doc_id"], r["mix_rank"]) for r in out7} == ids


def test_sliding_windows_coverage_and_overlap(spark):
    """Every token is covered, consecutive windows overlap by
    window − stride, the last window is short (never dropped), and
    empty/NULL docs produce no windows."""
    from insights_spark.text.pack import sliding_windows

    rows = [
        (1, " ".join(f"t{i}" for i in range(11))),  # 11 tokens
        (2, "a b"),                                  # shorter than window
        (3, ""),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sliding_windows(df, window=6, stride=4).collect()
    d1 = sorted([r for r in got if r["doc_id"] == 1], key=lambda r: r["win_idx"])
    # starts 0,4,8 -> lens 6,6,3
    assert [(r["tok_start"], r["win_tokens"]) for r in d1] == [(0, 6), (4, 6), (8, 3)]
    assert d1[0]["win_text"] == "t0 t1 t2 t3 t4 t5"
    assert d1[2]["win_text"] == "t8 t9 t10"
    # overlap = window - stride = 2 tokens between consecutive windows
    assert d1[0]["win_text"].split()[-2:] == d1[1]["win_text"].split()[:2]
    covered = set()
    for r in d1:
        covered.update(range(r["tok_start"], r["tok_start"] + r["win_tokens"]))
    assert covered == set(range(11))
    d2 = [r for r in got if r["doc_id"] == 2]
    assert len(d2) == 1 and d2[0]["win_tokens"] == 2
    assert not [r for r in got if r["doc_id"] in (3, 4)]


def test_fuzzy_pairs_brute_force(spark):
    """FastSS candidates + levenshtein verify == brute-force all-pairs on
    a fixture covering every edit class: equal, substitution, insertion,
    deletion, and distance-2 (must be absent)."""
    import itertools

    from insights_spark.text.fuzzy import fuzzy_pairs

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    strs = [
        (1, "breaking news"), (2, "breaking news"),   # equal
        (3, "breaking newz"),                          # substitution of 1/2
        (4, "breaking newss"),                         # insertion
        (5, "breaking new"),                           # deletion
        (6, "braking newz"),                           # dist 2 from 1
        (7, "totally different"), (8, ""), (9, "x"),
    ]
    want = {
        (a, b, lev(sa, sb))
        for (a, sa), (b, sb) in itertools.combinations(strs, 2)
        if lev(sa, sb) <= 1
    }
    assert any(d == 0 for _, _, d in want) and any(d == 1 for _, _, d in want)
    assert (1, 6) not in {(a, b) for a, b, _ in want}  # dist-2 excluded
    df = spark.createDataFrame(strs, "doc_id long, title string")
    got = {(r["a"], r["b"], r["dist"]) for r in fuzzy_pairs(df).collect()}
    assert got == want


def test_quantize_embeddings_hand_vectors(spark):
    """Quantization pinned by hand: known min/scale, monotone codes, the
    max element clamped into [0, 255], constant vectors -> all zeros with
    scale 0, empty vectors absent."""
    from insights_spark.text.quant import quantize_embeddings

    rows = [
        (1, [0.0, 1.0, 2.0, 4.0]),
        (2, [5.0, 5.0, 5.0]),     # constant
        (3, []),                   # empty -> absent
        (4, [-2.0, 2.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r["vec_id"]: r for r in quantize_embeddings(df).collect()}
    assert set(got) == {1, 2, 4}
    r1 = got[1]
    assert r1["lo"] == 0.0 and r1["scale"] == 4.0 / 255.0 and r1["dim"] == 4
    assert r1["codes"][0] == 0 and r1["codes"][-1] in (254, 255)
    assert r1["codes"] == sorted(r1["codes"])       # monotone in value
    assert r1["codes"][1] == int(1.0 * 255.0 / 4.0)  # 63
    r2 = got[2]
    assert r2["scale"] == 0.0 and r2["codes"] == [0, 0, 0]
    r4 = got[4]
    assert r4["lo"] == -2.0 and r4["codes"][0] == 0
    # dequant error bound: |x - (lo + code*scale)| <= scale for every elem
    for r, xs in ((r1, [0.0, 1.0, 2.0, 4.0]), (r4, [-2.0, 2.0])):
        for c, x in zip(r["codes"], xs):
            assert abs(x - (r["lo"] + c * r["scale"])) <= r["scale"] + 1e-12


def test_round4_ops_survive_garbage_inputs(spark):
    """Malformed-input probe for the round-4 text operators (the probe
    discipline that caught the NULL-html extractor crash): NULL text,
    empty strings, schemeless URLs, NULL embeddings — every op returns a
    well-formed (possibly empty) result, never raises."""
    from insights_spark.text.dedup import containment_pairs, passage_dedup
    from insights_spark.text.freq import heavy_hitters, novelty_scores
    from insights_spark.text.fuzzy import fuzzy_pairs
    from insights_spark.text.clean import mix_sources
    from insights_spark.text.pack import sliding_windows
    from insights_spark.text.quant import quantize_embeddings
    from insights_spark.text.rank import bm25_scores, query_terms_by_df
    from insights_spark.text.urls import url_dedup
    from datetime import datetime

    bad_docs = spark.createDataFrame(
        [(1, None, "s0"), (2, "", "s0"), (3, "   ", None), (4, "x", "s1")],
        "doc_id long, text string, source string",
    )
    assert passage_dedup(bad_docs).count() == 1          # only doc 4 tokens
    assert containment_pairs(bad_docs).count() == 0
    assert novelty_scores(bad_docs).count() == 0          # no doc has 3 tokens
    assert heavy_hitters(bad_docs).count() == 1           # 'x' is total
    assert sliding_windows(bad_docs).count() == 1
    assert bm25_scores(bad_docs, query_terms_by_df(bad_docs)).count() >= 0
    assert mix_sources(bad_docs, {"s0": 1.0}, total=10).count() == 2
    bad_urls = spark.createDataFrame(
        [(1, "not a url at all", datetime(2021, 1, 1)),
         (2, None, datetime(2021, 1, 2)),
         (3, "://missing-scheme", datetime(2021, 1, 3))],
        "doc_id long, url string, warc_ts timestamp",
    )
    out = url_dedup(bad_urls).collect()   # degenerate keys, no crash
    assert len(out) >= 1
    bad_titles = spark.createDataFrame(
        [(1, None), (2, ""), (3, "")], "doc_id long, title string"
    )
    got = {(r["a"], r["b"]) for r in fuzzy_pairs(bad_titles).collect()}
    assert got == {(2, 3)}                # empties are exact-equal; NULL inert
    bad_vecs = spark.createDataFrame(
        [(1, None), (2, []), (3, [1.0])],
        "vec_id long, embedding array<float>",
    )
    assert quantize_embeddings(bad_vecs).count() == 1


def test_geotag_documents_tie_rule_and_absence(spark):
    """Min-country tie rule, mention counting (duplicates counted), and
    silence for unmatched docs."""
    from insights_spark.text.geotag import geotag_documents

    gaz = spark.createDataFrame(
        [("kenya", "Kenya"), ("fiji", "Fiji")], "tok string, country string"
    )
    docs = spark.createDataFrame(
        [
            (1, "visited kenya last year"),
            (2, "fiji then kenya then fiji again"),  # tie -> Fiji (min name)
            (3, "no places here"),
            (4, None),
            (5, "KENYA uppercase still matches"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["country"], r["n_mentions"])
        for r in geotag_documents(docs, gaz).collect()
    }
    assert got == {1: ("Kenya", 1), 2: ("Fiji", 3), 5: ("Kenya", 1)}


def test_top_terms_per_source_isolated_groups(spark):
    """Rank is per-source (one source's hot term doesn't displace
    another's), ties break by term asc, the top 5 truncates."""
    from insights_spark.text.freq import top_terms_per_source

    rows = [
        (1, "apple apple apple pear", "s0"),
        (2, "kiwi lime grape fig", "s0"),
        (3, "zebra zebra yak yak", "s1"),   # tie 2-2 -> yak before zebra
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {(r["source"], r["rank"]): (r["term"], r["n"])
           for r in top_terms_per_source(df).collect()}
    assert got == {
        # five 1-count ties ordered by term; pear (6th) truncated
        ("s0", 1): ("apple", 3), ("s0", 2): ("fig", 1),
        ("s0", 3): ("grape", 1), ("s0", 4): ("kiwi", 1),
        ("s0", 5): ("lime", 1),
        ("s1", 1): ("yak", 2), ("s1", 2): ("zebra", 2),
    }


def test_kn_continuation_hand_computed(spark):
    """KN continuation counts pinned by hand: multiplicity preserved in
    freq, continuation counts are DISTINCT-type counts, bigrams never
    cross documents, single-token and null docs contribute freq only."""
    from insights_spark.text.freq import kn_continuation

    rows = [
        (1, "a b a b c"),     # bigrams: ab, ba, ab, bc
        (2, "c a"),           # bigram ca — 'a' gains predecessor c
        (3, "b"),             # no bigram; freq only
        (4, None),            # skipped
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["token"]: (r["freq"], r["n_left"], r["n_right"])
           for r in kn_continuation(df).collect()}
    # predecessors: a←{b,c}, b←{a}, c←{b}; successors: a→{b}, b→{a,c}, c→{a}
    assert got == {
        "a": (3, 2, 1),
        "b": (3, 1, 2),
        "c": (2, 1, 1),
    }
    # Σ n_left == Σ n_right == distinct bigram types (ab, ba, bc, ca)
    assert sum(v[1] for v in got.values()) == 4
    assert sum(v[2] for v in got.values()) == 4


def test_freq_of_freqs_hand_computed(spark):
    """Good-Turing N_r table pinned by hand: types counted once per
    corpus-wide frequency, null docs skipped."""
    from insights_spark.text.freq import freq_of_freqs

    rows = [(1, "a a a b b c"), (2, "c d"), (3, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["freq"]: r["n_types"] for r in freq_of_freqs(df).collect()}
    # a:3, b:2, c:2, d:1  ->  N_1=1 (d), N_2=2 (b,c), N_3=1 (a)
    assert got == {1: 1, 2: 2, 3: 1}


def test_token_share_curve_hand_computed(spark):
    """Lorenz deciles pinned by hand on a skewed corpus: one 55-token doc
    + nine 5-token docs -> top decile holds 55% of tokens."""
    from insights_spark.text.freq import token_share_curve

    rows = [(1, " ".join(["w"] * 55))] + [
        (i, " ".join(["w"] * 5)) for i in range(2, 11)
    ] + [(19, ""), (20, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["bucket"]: (r["docs_cum"], r["tokens_cum"], r["token_share"])
           for r in token_share_curve(df).collect()}
    # 10 ranked docs, 10 buckets -> one doc per bucket; totals 100 tokens
    assert got == {b: (b, 50 + 5 * b, (50 + 5 * b) / 100) for b in range(1, 11)}


def test_cluster_savings_hand_computed(spark):
    """Savings accounting pinned by hand: a 3-doc cluster keeps only the
    canonical doc's chars; singleton saves 0; distinct sources counted."""
    from insights_spark.text.dedup import cluster_savings

    docs = spark.createDataFrame(
        [(1, "s0", 100), (2, "s1", 80), (3, "s0", 60), (9, "s2", 40)],
        "doc_id long, source string, n_chars long",
    )
    clusters = spark.createDataFrame(
        [(1, 1, True), (2, 1, False), (3, 1, False), (9, 9, True)],
        "doc_id long, cluster_id long, is_canonical boolean",
    )
    got = {r["cluster_id"]: (r["n_docs"], r["n_sources"], r["total_chars"],
                             r["kept_chars"], r["saved_chars"])
           for r in cluster_savings(docs, clusters).collect()}
    assert got == {1: (3, 2, 240, 100, 140), 9: (1, 1, 40, 40, 0)}


def test_pagerank_fixed_point_hand_cases(spark):
    """3-cycle: perfect symmetry → identical scores summing to ~scale;
    star (all → hub): hub outranks leaves; partitioning invariance: the
    integer recurrence gives BIT-identical scores under repartition."""
    from insights_spark.text.links import pagerank_fixed_point

    nodes = spark.createDataFrame([(0,), (1,), (2,)], "id long")
    cyc = spark.createDataFrame([(0, 1), (1, 2), (2, 0)], "src long, dst long")
    r = {x["id"]: x["score"] for x in
         pagerank_fixed_point(nodes, cyc).collect()}
    assert len(set(r.values())) == 1  # symmetric
    assert abs(sum(r.values()) - 10**12) < 100  # mass conserved mod floors

    star = spark.createDataFrame(
        [(1, 0), (2, 0), (0, 1), (0, 2)], "src long, dst long")
    s = {x["id"]: x["score"] for x in
         pagerank_fixed_point(nodes, star).collect()}
    assert s[0] > s[1] == s[2]

    rep = {x["id"]: x["score"] for x in
           pagerank_fixed_point(nodes.repartition(7), star.repartition(5)).collect()}
    assert rep == s  # bit-identical under repartitioning


def test_source_drift_chi2_hand_case(spark):
    """Two sources, two heavy terms (count ≥ 50), hand-computed χ² cells —
    including the obs=0 cell the grid must generate; a term seen 49
    times stays out of the vocabulary."""
    from insights_spark.text.freq import source_drift_chi2

    docs = spark.createDataFrame(
        [(0, "aa " * 150 + "bb " * 50 + "cc " * 49, "s1"),
         (1, "aa " * 50, "s2")],
        "doc_id long, text string, source string")
    rows = source_drift_chi2(docs).collect()
    got = {(r["source"], r["term"]): (int(r["chi2_num"]), int(r["chi2_den"]))
           for r in rows}
    # c=299, c_s1=249, c_s2=50, c_aa=200, c_bb=50 (cc: 49 < 50, dropped)
    # (s1,aa): obs=150 → (299*150-249*200)² = 4950²,  den = 299*249*200
    # (s1,bb): obs=50  → (299*50-249*50)²   = 2500²,  den = 299*249*50
    # (s2,aa): obs=50  → (299*50-50*200)²   = 4950²,  den = 299*50*200
    # (s2,bb): obs=0   → (0-50*50)²         = 2500²,  den = 299*50*50
    assert got == {
        ("s1", "aa"): (4950 ** 2, 299 * 249 * 200),
        ("s1", "bb"): (2500 ** 2, 299 * 249 * 50),
        ("s2", "aa"): (4950 ** 2, 299 * 50 * 200),
        ("s2", "bb"): (2500 ** 2, 299 * 50 * 50),
    }


def test_cooccurrence_counts_hand_case(spark):
    """Hand-pinned window semantics: unordered pairs, same-term pairs
    counted, window boundary inclusive, cross-doc never paired, terms
    seen fewer than 50 times left out."""
    from insights_spark.text.freq import cooccurrence_counts

    rows = [(2 * i, "a b a x c") for i in range(50)]
    rows += [(2 * i + 1, "c a") for i in range(50)]
    rows += [(1000, "a z")]                # z: 1 occurrence, not heavy
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["term_a"], r["term_b"]): r["n"] for r in
           cooccurrence_counts(docs, window=2).collect()}
    # each "a b a x c" doc: positions a0 b1 a2 x3 c4 ; window 2 pairs:
    # (a0,b1) (a0,a2) (b1,a2) (b1,x3) (a2,x3) (a2,c4) (x3,c4) — ×50 docs
    assert got[("a", "a")] == 50           # same-term pair within window
    assert got[("a", "b")] == 100          # (a0,b1) + (b1,a2)
    assert got[("a", "c")] == 100          # (a2,c4) + each "c a" doc
    assert got[("c", "x")] == 50 and got[("a", "x")] == 50
    assert got[("b", "x")] == 50
    assert ("b", "c") not in got           # distance 3 > window
    assert not any("z" in p for p in got)  # below the vocabulary threshold


def test_semantic_prune(spark):
    """semantic_prune vs a pure-Python replay (sequential-fold dot, same
    centroid selection, greedy argmax, brute-force components): identical
    assignment, identical kept set; planted exact dups collapse."""
    rng = np.random.default_rng(5)
    vecs = [[float(x) for x in rng.normal(0, 1, 8)] for _ in range(28)]
    vecs.append(list(vecs[0]))   # 28 = dup of 0
    vecs.append(list(vecs[3]))   # 29 = dup of 3
    rows = [(i, v) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r["vec_id"]: (r["cent_id"], r["cluster_id"], r["is_kept"])
           for r in simsearch.semantic_prune(df).collect()}

    # python replay with float32-faithful inputs and sequential folds
    import struct as _struct
    f32 = lambda v: [_struct.unpack("f", _struct.pack("f", x))[0] for x in v]
    V = {i: f32(v) for i, v in rows}

    def sdot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    cos = lambda a, b: sdot(a, b) / (sdot(a, a) ** 0.5 * sdot(b, b) ** 0.5)
    M = 2 * len(rows) + 1
    order = sorted(rows, key=lambda r: ((r[0] * 2654435761 + 42) % M, r[0]))
    cent = {ci + 1: f32(r[1]) for ci, r in enumerate(order[:16])}
    asg = {}
    for i, v in V.items():
        best = max(cent, key=lambda c: (cos(V[i], cent[c]), -c))
        asg[i] = best
    pairs = [(a, b) for a in V for b in V if a < b and asg[a] == asg[b]
             and cos(V[a], V[b]) >= 0.4]
    root = {i: i for i in V}

    def find(x):
        while root[x] != x:
            x = root[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            root[max(ra, rb)] = min(ra, rb)
    want = {i: (asg[i], find(i), int(find(i) == i)) for i in V}
    assert got == want
    assert got[28][1] == got[0][1] and got[28][2] == 0  # dup pruned
    assert got[29][1] == got[3][1] and got[29][2] == 0


def test_cluster_safe_split(spark):
    """Every member of a near-dup cluster lands in the same split (the
    leakage guarantee), singletons follow their own id bucket, and the
    assignment matches train_test_split's bucket rule applied to the
    cluster id."""
    from insights_spark.text.clean import cluster_safe_split

    labels = spark.createDataFrame(
        # cluster 50 buckets to test (mod(50*1000003+7,1000)=157? computed
        # below against the rule, not hand-pinned)
        [(i, i % 7 if i < 21 else i) for i in range(40)],
        "doc_id long, cluster_id long",
    )
    got = {r["doc_id"]: (r["cluster_id"], r["split"])
           for r in cluster_safe_split(labels).collect()}
    assert len(got) == 40
    by_cluster = {}
    for doc, (cl, sp) in got.items():
        by_cluster.setdefault(cl, set()).add(sp)
    assert all(len(s) == 1 for s in by_cluster.values())  # no straddling
    for doc, (cl, sp) in got.items():
        want = "test" if ((cl % 1000) * 1000003 + 7) % 1000 < 100 else "train"
        assert sp == want


def test_curriculum_order(spark):
    """Bands are value-derived (clean docs first), ranks are a
    permutation of 0..n-1, band sequence is non-increasing along the
    rank, and the order is repartition-invariant (content-stable)."""
    from insights_spark.text.pack import curriculum_order

    rows = [(i, ("unique words " + " ".join(f"w{j}{i}" for j in range(10)))
             if i % 3 == 0 else "dup dup dup dup dup dup")
            for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = curriculum_order(docs).collect()
    ranks = sorted(r["curriculum_rank"] for r in out)
    assert ranks == list(range(30))
    seq = [r["band"] for r in sorted(out, key=lambda r: r["curriculum_rank"])]
    assert seq == sorted(seq, reverse=True)  # high-quality bands first
    assert seq[0] > seq[-1]  # fixture really has two bands
    again = {r["doc_id"]: r["curriculum_rank"]
             for r in curriculum_order(docs.repartition(7)).collect()}
    assert again == {r["doc_id"]: r["curriculum_rank"] for r in out}


def test_score_percentile_rank(spark):
    """The two-phase implementation equals cume_dist() OVER (PARTITION BY
    group ORDER BY score, id) exactly — including ties broken by id — and
    is repartition-invariant."""
    from pyspark.sql.window import Window

    from insights_spark.text.quality import score_percentile_rank

    rows = [("a", i, float(i % 4)) for i in range(12)] + \
           [("b", 100 + i, 0.5) for i in range(5)]  # all-ties group
    df = spark.createDataFrame(rows, "source string, doc_id long, s double")
    got = {r["doc_id"]: r["pct_rank"]
           for r in score_percentile_rank(df, "s").collect()}
    w = Window.partitionBy("source").orderBy(F.asc("s"), F.asc("doc_id"))
    want = {r["doc_id"]: r["cd"]
            for r in df.withColumn("cd", F.cume_dist().over(w)).collect()}
    assert got == want
    assert max(got.values()) == 1.0 and min(got.values()) > 0.0
    again = {r["doc_id"]: r["pct_rank"]
             for r in score_percentile_rank(df.repartition(7), "s").collect()}
    assert again == got


def test_lang_margin(spark):
    """Mixed-language detection: a clearly-English doc is confident, a
    50/50 en/de code-switch is flagged mixed, a stopword-free doc
    predicts nothing (NULLs, margin 0), and lang_pred always agrees with
    lang_id's argmax."""
    docs = spark.createDataFrame(
        [(1, "the cat is on the mat and it is the best"),
         (2, "the house und das ist the plan und es ist gut is it"),
         (3, "zzz qqq xxx yyy"),
         (4, None)],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in quality.lang_margin(docs).collect()}
    assert got[1]["lang_pred"] == "en" and got[1]["is_mixed"] == 0
    assert got[1]["margin"] > 0.1
    assert got[2]["is_mixed"] == 1 and got[2]["margin"] < 0.1
    assert {got[2]["lang_pred"], got[2]["lang_second"]} == {"en", "de"}
    assert got[3]["lang_pred"] is None and got[3]["margin"] == 0.0
    assert got[3]["is_mixed"] == 0
    pred = {r["doc_id"]: r["lang_pred"]
            for r in quality.lang_id(docs).collect()}
    assert all(got[i]["lang_pred"] == pred[i] for i in pred)


def test_bigram_lm_scores_hand_case(spark):
    """Exact hand-computed surprisal bits on a 4-doc corpus: the model
    trains on docs 0 and 4 (id % 4 == 0); an in-model doc scores fewer
    bits than a fully-OOV doc and the keep threshold separates them; a
    1-token doc is dropped (guards the sequence(1,0) reversed-pair
    trap)."""
    from insights_spark.text.lm import bigram_lm_scores

    docs = spark.createDataFrame(
        [
            (0, "the cat sat"),          # train: (the,cat) (cat,sat)
            (4, "the cat ran"),          # train: (the,cat) (cat,ran)
            (1, "the cat sat"),          # in-model doc
            (2, "zig zag zog"),          # fully OOV doc
            (3, "word"),                 # 1 token -> no bigrams -> dropped
        ],
        "doc_id long, text string",
    )

    # model: c12(the,cat)=2, c12(cat,sat)=1, c12(cat,ran)=1;
    # c1(the)=2, c1(cat)=2; V = |{cat, sat, ran}| = 3
    def bits(c1, c12, v=3):
        q = ((c1 + v) * (1 << 20)) // (c12 + 1)
        return q.bit_length() - 1

    in_model = ((bits(2, 2) + bits(2, 1)) * 1000) // 2     # doc 1: 20500
    oov = ((2 * bits(0, 0)) * 1000) // 2                   # doc 2: 21000
    assert in_model < oov
    thresh = (in_model + oov) // 2                         # separates them

    out = {
        r["doc_id"]: r
        for r in bigram_lm_scores(
            docs, F.expr("doc_id % 4 = 0"), keep_below_milli=thresh
        ).collect()
    }
    assert 3 not in out  # no bigrams
    assert set(out) == {0, 1, 2, 4}
    assert out[1]["n_bigrams"] == 2
    assert out[1]["bits_sum"] == bits(2, 2) + bits(2, 1)
    assert out[1]["bits_per_bigram_milli"] == in_model
    assert out[1]["keep"] == 1
    assert out[2]["bits_sum"] == 2 * bits(0, 0)
    assert out[2]["bits_per_bigram_milli"] == oov
    assert out[2]["keep"] == 0


def test_path_tree_hand_case(spark):
    """Directory-tree rollup pinned by hand: ancestors accumulate their
    whole subtree, the root row counts every page of the host, uppercase
    hosts fold together, query/fragment are cut before segmentation, a
    scheme-less URL still parses, null urls drop."""
    from insights_spark.text.urls import path_tree

    rows = [
        ("https://A.test/docs/intro/p1",),
        ("https://a.test/docs/intro/p2?utm=x#frag",),
        ("https://a.test/docs/p3",),
        ("a.test/p4",),                     # scheme-less
        ("https://b.test/p5",),
        (None,),
    ]
    df = spark.createDataFrame(rows, "url string")
    got = {(r["host"], r["depth"], r["prefix"]): r["n_pages"]
           for r in path_tree(df).collect()}
    assert got == {
        ("a.test", 0, "/"): 4,
        ("a.test", 1, "/docs"): 3,
        ("a.test", 2, "/docs/intro"): 2,
        ("a.test", 3, "/docs/intro/p1"): 1,
        ("a.test", 3, "/docs/intro/p2"): 1,
        ("a.test", 2, "/docs/p3"): 1,
        ("a.test", 1, "/p4"): 1,
        ("b.test", 0, "/"): 1,
        ("b.test", 1, "/p5"): 1,
    }


def test_host_stats_hand_case(spark):
    """Host rollup on hand pages: messy spellings fold into their clean
    canonical before the distinct count; dup_per_mille is exact integer
    per-mille; both keep gates (dup ratio, min_docs) fire."""
    from insights_spark.text.urls import host_stats

    rows = [
        # mirror.example: 4 fetches of ONE page (2 messy spellings)
        ("https://mirror.example/a", 10),
        ("HTTPS://Mirror.Example:443/a#frag", 20),
        ("https://mirror.example/a?utm_source=x", 30),
        ("https://mirror.example/a/", 40),
        # good.example: 4 fetches, 3 distinct pages
        ("https://good.example/x", 1),
        ("https://good.example/y", 2),
        ("https://good.example/z", 3),
        ("https://good.example/x", 4),
        # tiny.example: 1 page, fails min_docs
        ("https://tiny.example/only", 7),
    ]
    df = spark.createDataFrame(rows, "url string, b long")
    got = {
        r["host"]: r
        for r in host_stats(
            df, bytes_col="b", min_docs=2, max_dup_per_mille=500
        ).collect()
    }
    assert got["mirror.example"]["n_docs"] == 4
    assert got["mirror.example"]["n_pages"] == 1
    assert got["mirror.example"]["total_bytes"] == 100
    assert got["mirror.example"]["dup_per_mille"] == 750
    assert got["mirror.example"]["keep"] == 0
    assert got["good.example"]["n_pages"] == 3
    assert got["good.example"]["dup_per_mille"] == 250
    assert got["good.example"]["keep"] == 1
    assert got["tiny.example"]["keep"] == 0  # min_docs gate


def test_shard_layout_hand_case(spark):
    """Byte-offset sharding: docs never split, every shard's start offset
    is below its id's byte boundary, zero-byte docs drop, and the layout
    is invariant to input partitioning (the two-phase scan contract)."""
    from insights_spark.text.pack import shard_layout

    rows = [(i, b) for i, b in enumerate([60, 60, 60, 10, 100, 5, 0, 40])]
    df = spark.createDataFrame(rows, "doc_id long, n_chars long")
    got = {r["shard_id"]: r for r in shard_layout(df, 100).collect()}
    # offsets: 0,60,120,180,190,290,295 -> shards 0,0,1,1,1,2,2
    assert got[0]["n_docs"] == 2 and got[0]["shard_bytes"] == 120
    assert got[0]["first_doc"] == 0 and got[0]["last_doc"] == 1
    assert got[1]["n_docs"] == 3 and got[1]["shard_bytes"] == 170
    assert got[2]["n_docs"] == 2 and got[2]["shard_bytes"] == 45
    assert got[2]["first_doc"] == 5 and got[2]["last_doc"] == 7  # 0-byte 6 gone
    assert sum(r["shard_bytes"] for r in got.values()) == 335

    # partition invariance: 1 vs 7 input partitions, identical layout
    got7 = {
        r["shard_id"]: (r["n_docs"], r["shard_bytes"], r["first_doc"],
                        r["last_doc"])
        for r in shard_layout(df.repartition(7), 100).collect()
    }
    want = {
        k: (v["n_docs"], v["shard_bytes"], v["first_doc"], v["last_doc"])
        for k, v in got.items()
    }
    assert got7 == want


def test_prefix_jaccard_exact_vs_brute_force(spark):
    """Prefix-filter similarity join == brute-force all-pairs Jaccard
    (completeness of the prefix lemma), exact integer inter/uni, and the
    candidate set actually prunes."""
    from insights_spark.text.dedup import (
        _word_ngrams_py,
        prefix_jaccard_pairs,
    )

    docs = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy cat today"),   # ~dup of 1
        (3, "the quick brown fox jumps over the lazy dog today"),   # exact dup of 1
        (4, "completely different text about spark shuffle planning"),
        (5, "completely different text about spark shuffle planning"),  # dup of 4
        (6, "short text"),                                          # < n tokens
        (7, "spark shuffle planning is completely different text about"),
        (8, ""),
    ]
    sets = {i: set(_word_ngrams_py(t, 3)) for i, t in docs}
    want = {}
    ids = sorted(sets)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            ga, gb = sets[a], sets[b]
            if not ga or not gb:
                continue
            inter = len(ga & gb)
            uni = len(ga | gb)
            if 2 * inter >= uni:            # J >= 1/2
                want[(a, b)] = (inter, uni)
    assert want, "fixture must contain similar pairs"
    assert (1, 3) in want and want[(1, 3)][0] == want[(1, 3)][1]  # exact dup

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["a"], r["b"]): (r["inter"], r["uni"], r["jaccard"])
        for r in prefix_jaccard_pairs(df).collect()
    }
    assert set(got) == set(want)
    for k, (i, u) in want.items():
        gi, gu, gj = got[k]
        assert (gi, gu) == (i, u)
        assert gj == i / u                  # one IEEE division, bit-pinned
    # empty input -> no crash
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert prefix_jaccard_pairs(empty).count() == 0


def test_kmeans_lloyd_int_brute_force(spark):
    """Integer Lloyd vs a pure-Python replica: floor quantization,
    argmin with smallest-cid ties, floor-mean update (negative sums),
    empty-cluster carry, exact inertia."""
    import math
    import random

    from insights_spark.text.simsearch import kmeans_lloyd_int

    rng = random.Random(83)
    d, k, iters, scale = 4, 8, 3, 1024  # kmeans_lloyd_int's fixed run
    vecs = []
    for i in range(40):
        base = [(-1.0, -1.0), (1.0, 1.0), (0.0, 2.0)][i % 3]
        vecs.append((i, [
            base[0] + rng.uniform(-0.2, 0.2),
            base[1] + rng.uniform(-0.2, 0.2),
            rng.uniform(-0.5, 0.5),
            rng.uniform(-0.5, 0.5),
        ][:d]))

    def quant(v):
        # round-trip through float32 first: the column is array<float>,
        # so Spark quantizes the float32-rounded value
        import numpy as np

        return [math.floor(float(np.float32(x)) * scale) for x in v]

    def floordiv(s, m):
        return (s - (s % m if s % m >= 0 else s % m)) // m  # py % is pmod

    qv = {i: quant(v) for i, v in vecs}
    cents = [(c, list(qv[c])) for c in range(k)]  # ids 0..k-1 smallest
    assigned = {}
    for it in range(iters):
        assigned = {}
        for i, qq in qv.items():
            best = min(
                (sum((a - b) ** 2 for a, b in zip(qq, cv)), cid)
                for cid, cv in cents
            )
            assigned[i] = (best[1], best[0])
        if it == iters - 1:
            break
        new = {}
        for cid, _ in cents:
            members = [qv[i] for i, (c, _d) in assigned.items() if c == cid]
            if members:
                new[cid] = [
                    floordiv(sum(col), len(members))
                    for col in zip(*members)
                ]
        cents = [(cid, new.get(cid, cv)) for cid, cv in cents]
    want = {}
    for cid, cv in cents:
        mem = [(i, dd) for i, (c, dd) in assigned.items() if c == cid]
        if mem:
            want[cid] = (len(mem), sum(dd for _, dd in mem), tuple(cv))

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs],
        "vec_id long, embedding array<float>",
    )
    got = {
        r["cluster"]: (r["n"], r["inertia"], tuple(r["centroid"]))
        for r in kmeans_lloyd_int(df).collect()
    }
    assert got == want
    assert len(got) <= k and sum(n for n, _, _ in got.values()) == 40


def test_sorted_neighborhood_brute_force(spark):
    """SNM candidates == brute-force rank-window pairs; near-dup keys
    sort adjacent and surface with lev<=1; window bound respected;
    repartition invariance (two-phase rank)."""
    from insights_spark.text.fuzzy import sorted_neighborhood_pairs

    rows = [
        (1, "alpha centauri"), (2, "alpha centaurx"),   # near-dup pair
        (3, "beta orionis"), (4, "zeta reticuli"),
        (5, "alpha centauri"),                          # exact dup of 1
        (6, "gamma draconis"), (7, "beta orioniz"),     # near-dup of 3
        (8, "delta pavonis"),
    ]
    window = 4  # sorted_neighborhood_pairs' rank window
    order = sorted(rows, key=lambda r: (r[1], r[0]))
    want = {}
    for i, (ida, ka) in enumerate(order):
        for j in range(i + 1, min(i + 1 + window, len(order))):
            idb, kb = order[j]
            # reference Levenshtein
            import functools

            @functools.lru_cache(maxsize=None)
            def lev(x, y):
                if not x:
                    return len(y)
                if not y:
                    return len(x)
                return min(
                    lev(x[1:], y) + 1, lev(x, y[1:]) + 1,
                    lev(x[1:], y[1:]) + (x[0] != y[0]),
                )
            want[(ida, idb)] = (j - i, lev(ka, kb))

    df = spark.createDataFrame(rows, "doc_id long, title string")
    for d in (df, df.repartition(5)):
        got = {
            (r["a"], r["b"]): (r["dist"], r["lev"])
            for r in sorted_neighborhood_pairs(d, "title").collect()
        }
        assert got == want
    assert got[(1, 5)] == (1, 0)        # exact dups adjacent
    assert any(v[1] == 1 for v in got.values())   # near-dups surfaced
    assert all(1 <= v[0] <= window for v in got.values())


def test_normalize_text_nfc(spark):
    """NFC composition, control stripping, explicit-ASCII whitespace
    collapse/trim, NULL passthrough, changed flag, codepoint length."""
    import unicodedata

    from insights_spark.text.clean import normalize_text_nfc

    rows = [
        (1, "cafe\u0301 du   monde"),     # combining acute -> e-acute
        (2, "already clean"),
        (3, "\tx\x00y\x1f z "),           # controls + tabs
        (4, None),
        (5, "nb\u00a0sp"),                 # NBSP must SURVIVE (ASCII-only class)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["norm_text"], r["changed"], r["n_chars"])
           for r in normalize_text_nfc(df).collect()}
    assert got[1][0] == "caf\u00e9 du monde" and got[1][1] == 1
    assert len(got[1][0]) == 13 and got[1][2] == 13
    assert got[2] == ("already clean", 0, 13)
    assert got[3][0] == "xy z" and got[3][1] == 1
    assert got[4] == (None, None, None)
    assert got[5][0] == "nb\u00a0sp" and got[5][1] == 0
    assert unicodedata.is_normalized("NFC", got[1][0])


def test_rrf_fuse_brute_force(spark):
    """RRF vs hand-computed floor(scale/(k+rank)) sums: rank ties by
    id, asymmetric membership contributes one-sided, scale-free (score
    magnitudes irrelevant), repartition invariance."""
    from insights_spark.text.rank import rrf_fuse

    a = [(1, 9.0), (2, 9.0), (3, 5.0), (4, 1.0)]          # tie 1-2 by id
    b = [(3, 1e6), (5, 5e5), (1, 1.0)]                    # huge scores, 5 only here
    k, scale = 60, 10**9  # rrf_fuse's fixed constants

    def ranks(rows):
        order = sorted(rows, key=lambda r: (-r[1], r[0]))
        return {i: n + 1 for n, (i, _) in enumerate(order)}

    raa, rbb = ranks(a), ranks(b)
    want = {}
    for i in set(raa) | set(rbb):
        contrib = 0
        if i in raa:
            contrib += scale // (k + raa[i])
        if i in rbb:
            contrib += scale // (k + rbb[i])
        want[i] = (raa.get(i), rbb.get(i), contrib)

    da = spark.createDataFrame(a, "doc_id long, score double")
    db = spark.createDataFrame(b, "doc_id long, score double")
    for pa, pb in ((da, db), (da.repartition(5), db.repartition(3))):
        got = {r["doc_id"]: (r["rank_a"], r["rank_b"], r["rrf"])
               for r in rrf_fuse(pa, pb).collect()}
        assert got == want
    assert want[1][0] == 1 and want[2][0] == 2            # tie broken by id
    assert want[5][0] is None                             # one-sided member
