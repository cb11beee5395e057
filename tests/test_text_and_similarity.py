"""Text-analysis, dedup-family, similarity, and multimodal operator tests."""

import math

import pytest
from pyspark.sql import functions as F

from new_ent_crawler_spark.functions import text as TX
from new_ent_crawler_spark.operators import dedup_text as DT
from new_ent_crawler_spark.operators import multimodal as MM
from new_ent_crawler_spark.operators import similarity as SIM


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en"),
        (2, "the quick brown fox jumps over the lazy dog", "en"),  # exact dup
        (3, "the quick brown fox jumps over the lazy cat", "en"),  # near dup
        (4, "完全不同的中文文本内容在这里出现了", "zh"),
        (5, "", "en"),
        (6, "numbers 123 456 789 000 111 222 333 444", "en"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_token_count(spark, docs):
    got = {r.doc_id: r.n for r in
           docs.select("doc_id", TX.token_count("text").alias("n")).collect()}
    assert got[1] == 9
    assert got[5] == 0


def test_lang_id(spark, docs):
    got = {r.doc_id: r.lang for r in
           docs.select("doc_id", TX.lang_id("text").alias("lang")).collect()}
    assert got[1] == "en"
    assert got[4] == "zh"
    assert got[5] == "unknown"


def test_quality_score_bounds(spark, docs):
    vals = [r.q for r in
            docs.select(TX.quality_score("text").alias("q")).collect()]
    assert all(0.0 <= v <= 1.0 for v in vals)


def test_exact_dedup(spark, docs):
    out = DT.exact_dedup(docs).collect()
    by_keep = {r.keep_id: r.n_copies for r in out}
    assert by_keep[1] == 2  # docs 1 and 2 collapse
    assert by_keep[3] == 1


def test_ngram_jaccard_finds_near_dup(spark, docs):
    pairs = DT.ngram_jaccard_pairs(docs, k=5, threshold=0.5).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 2) in got  # identical
    assert (1, 3) in got or (2, 3) in got  # near dup
    assert all(4 not in p for p in got)


def test_minhash_lsh_finds_near_dup(spark, docs):
    pairs = DT.minhash_lsh_pairs(docs, k=5, num_hashes=8, bands=4).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 2) in got


def test_simhash_identical_docs_collide(spark, docs):
    groups = DT.simhash_dup_groups(docs).collect()
    assert any(r.n_docs >= 2 and r.keep_id == 1 for r in groups)


def test_brute_force_topk(spark):
    rows = [(i, [float(i == j) for j in range(4)]) for i in range(4)]
    rows.append((10, [1.0, 0.01, 0.0, 0.0]))
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    top = SIM.brute_force_topk(e, [1.0, 0.0, 0.0, 0.0], k=2).collect()
    assert top[0].vec_id == 0 and abs(top[0].cosine - 1.0) < 1e-6
    assert top[1].vec_id == 10


def test_lsh_topk_recall_vs_brute(spark):
    sf = "/root/testdata/sf0.001"
    e = spark.read.parquet(sf + "/embeddings.parquet")
    query = [r[0] for r in
             e.filter("vec_id = 0").select(F.explode("embedding")).collect()]
    brute = [r.vec_id for r in SIM.brute_force_topk(e, query, k=10).collect()]
    ann = [r.vec_id for r in
           SIM.lsh_topk(e, query, k=10, bits=4,
                        multiprobe_hamming=1).collect()]
    # near-orthogonal random vectors are LSH's worst case; still expect a
    # meaningful fraction of the true top-10 from bucket+multiprobe
    assert len(set(brute) & set(ann)) >= 3
    assert brute[0] == 0  # the query vector itself is its own best match
    assert ann[0] == 0


def test_multimodal_features(spark, tiny_web):
    web_dir, _ = tiny_web
    pages = spark.read.parquet(web_dir + "/pages.parquet").limit(50)
    media = MM.pages_as_media(pages)
    feats = MM.extract_features(media, dim=8).collect()
    assert len(feats) == 50
    for r in feats:
        assert r.n_bytes > 0
        assert len(r.feature) == 8
        assert all(0.0 <= v <= 1.0 for v in r.feature)


def test_multimodal_decode_unknown_format_is_stubbed():
    """Formats with no real codec (here: a bare zlib stream) still raise
    loudly instead of decoding garbage."""
    with pytest.raises(NotImplementedError):
        MM.decode_image(b"\x78\x9cUNKNOWNFMT")


def test_extract_features_real_path_histogram(spark):
    """deterministic_fake=False decodes real payloads and emits a
    normalized grayscale histogram."""
    import numpy as np
    px = np.zeros((4, 4, 3), np.uint8)
    px[2:] = 255  # half black, half white
    media = spark.createDataFrame(
        [(1, bytearray(MM.encode_bmp(px)), None)], MM.MEDIA_SCHEMA)
    (r,) = MM.extract_features(media, dim=8,
                               deterministic_fake=False).collect()
    assert abs(sum(r.feature) - 1.0) < 1e-6
    assert abs(r.feature[0] - 0.5) < 1e-6   # black bin
    assert abs(r.feature[-1] - 0.5) < 1e-6  # white bin


def test_resize_images_real_path_nearest_neighbor(spark):
    """deterministic_fake=False decodes, nearest-neighbor resamples, and
    re-encodes as PNG; a 2x downscale of a 2x2-upsampled image restores
    the original pixels exactly."""
    import numpy as np
    rng = np.random.RandomState(13)
    small = rng.randint(0, 256, size=(3, 4, 3)).astype(np.uint8)
    big = np.repeat(np.repeat(small, 2, axis=0), 2, axis=1)
    media = spark.createDataFrame(
        [(1, bytearray(MM.encode_bmp(big)), None)], MM.MEDIA_SCHEMA)
    (r,) = MM.resize_images(media, width=4, height=3,
                            deterministic_fake=False).collect()
    out = MM.decode_image(bytes(r.payload))
    assert bytes(r.payload)[:8] == MM._PNG_SIG
    assert (out == small).all()


def test_ivf_topk_recall_vs_brute(spark):
    sf = "/root/testdata/sf0.001"
    e = spark.read.parquet(sf + "/embeddings.parquet")
    query = [r[0] for r in
             e.filter("vec_id = 0").select(F.explode("embedding")).collect()]
    brute = [r.vec_id for r in SIM.brute_force_topk(e, query, k=10).collect()]
    cents = SIM.ivf_centroids(e, n_centroids=8, lloyd_iters=1)
    assert len(cents) == 8 and len(cents[0]) == len(query)
    ann = [r.vec_id for r in
           SIM.ivf_topk(e, query, k=10, n_centroids=8, nprobe=4,
                        centroids=cents).collect()]
    # probing half the clusters must recover the query vector itself and a
    # meaningful slice of the true top-10
    assert ann[0] == 0
    assert len(set(brute) & set(ann)) >= 3


def test_ivf_assignment_partitions_all_vectors(spark):
    sf = "/root/testdata/sf0.001"
    e = spark.read.parquet(sf + "/embeddings.parquet")
    cents = SIM.ivf_centroids(e, n_centroids=4, lloyd_iters=0)
    assigned = e.withColumn(
        "cluster", SIM.nearest_centroid_col(F.col("embedding"), cents))
    per = {r.cluster: r.n for r in
           assigned.groupBy("cluster").agg(F.count("*").alias("n")).collect()}
    assert sum(per.values()) == e.count()
    assert set(per) <= {0, 1, 2, 3}


def test_multimodal_resize_and_frames(spark):
    from new_ent_crawler_spark.operators import multimodal as MM
    media = spark.createDataFrame(
        [(1, b"payload-one", ("video/mp4", None, None, 5000)),
         (2, b"payload-two", ("video/mp4", None, None, 500)),
         (3, None, None)],
        MM.MEDIA_SCHEMA)
    resized = MM.resize_images(media, 16, 8).collect()
    by_id = {r.media_id: r for r in resized}
    assert len(bytes(by_id[1].payload)) == 16 * 8
    assert by_id[1].width == 16 and by_id[1].height == 8
    assert by_id[3].payload is None and by_id[3].width is None
    # resize is deterministic on (payload, w, h)
    again = {r.media_id: bytes(r.payload) for r in
             MM.resize_images(media, 16, 8).collect() if r.payload}
    assert again[1] == bytes(by_id[1].payload)

    frames = MM.sample_frames(media, every_ms=1000, max_frames=8).collect()
    per = {}
    for r in frames:
        per.setdefault(r.media_id, []).append(r)
    assert len(per[1]) == 5           # 5000ms / 1000ms
    assert len(per[2]) == 1           # short video -> 1 frame minimum
    assert 3 not in per               # null payload yields no frames
    assert sorted(r.frame_no for r in per[1]) == [0, 1, 2, 3, 4]
    assert per[1][0].ts_ms == 0 and len(bytes(per[1][0].frame)) == 16


def test_minhash_lsh_bucket_cap_drops_degenerate_bucket(spark):
    """1k identical docs put every signature in one band bucket; the
    max_bucket_size cut must drop it (linear work, no n^2 self-join blowup)
    while leaving a normal small corpus's pairs intact."""
    degen = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.lit("same exact text for every single document here").alias("text"))
    capped = DT.minhash_lsh_pairs(degen, k=5, num_hashes=8, bands=4,
                                  max_bucket_size=100)
    assert capped.count() == 0  # the 1000-doc bucket exceeds the cap
    # with the cap lifted the same corpus is quadratic — 1000*999/2 pairs
    # (this is the blowup the cap exists to prevent; 500 docs keeps the
    # assert cheap)
    small = spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.lit("same exact text for every single document here").alias("text"))
    uncapped = DT.minhash_lsh_pairs(small, k=5, num_hashes=8, bands=4,
                                    max_bucket_size=1000)
    assert uncapped.count() == 40 * 39 // 2


def test_minhash_lsh_cap_preserves_normal_corpus(spark, docs):
    with_cap = sorted((r.id_a, r.id_b) for r in
                      DT.minhash_lsh_pairs(docs, k=5, num_hashes=8,
                                           bands=4).collect())
    no_cap = sorted((r.id_a, r.id_b) for r in
                    DT.minhash_lsh_pairs(docs, k=5, num_hashes=8, bands=4,
                                         max_bucket_size=10**6).collect())
    assert with_cap == no_cap and (1, 2) in with_cap


def test_simhash_near_pairs_equals_bruteforce(spark):
    """Banding (pigeonhole candidates) + exact popcount verify must equal
    the brute-force all-pairs Hamming filter — banding only prunes."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    fp = DT.simhash(docs)
    a, b = fp.alias("a"), fp.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    for k in (0, 3):
        brute = sorted((r.id_a, r.id_b, r.hamming) for r in
                       a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
                       .select(F.col("a.doc_id").alias("id_a"),
                               F.col("b.doc_id").alias("id_b"),
                               ham.cast("int").alias("hamming"))
                       .filter(F.col("hamming") <= k).collect())
        banded = sorted((r.id_a, r.id_b, r.hamming) for r in
                        DT.simhash_near_pairs(docs, max_hamming=k,
                                              n_bands=4).collect())
        assert banded == brute, (k, len(banded), len(brute))


def test_simhash_near_pairs_rejects_bad_bands():
    with pytest.raises(ValueError):
        DT.simhash_near_pairs(None, max_hamming=4, n_bands=4)


def test_ivf_centroids_clamps_to_corpus_size(spark):
    rows = [(i, [float(i), 1.0]) for i in range(3)]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = SIM.ivf_centroids(e, n_centroids=16, lloyd_iters=1)
    assert len(cents) == 3  # clamped to the 3 available seeds
    with pytest.raises(ValueError):
        SIM.ivf_centroids(e.filter("vec_id < 0"), n_centroids=4)


def test_exact_pair_topk_equals_naive_self_join(spark):
    """The sharded-GEMM exact pair top-k (one matmul per block pair,
    local top-k, B²·k candidate rows) returns EXACTLY the naive
    n² self-join's answer under the same total order, for several block
    counts including B=1 (single GEMM) and B larger than needed."""
    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    quant = e.select(
        "vec_id",
        F.transform("embedding",
                    lambda x: F.round(x.cast("double") * 1000)).alias("v"))
    a, b = quant.alias("a"), quant.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
        F.lit(0.0), lambda acc, v: acc + v)
    want = [(r.id_a, r.id_b, r.dot) for r in
            (a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
             .select(F.col("a.vec_id").alias("id_a"),
                     F.col("b.vec_id").alias("id_b"),
                     dot.cast("long").alias("dot"))
             .orderBy(F.col("dot").desc(), "id_a", "id_b")
             .limit(25)).collect()]
    for n_blocks in (1, 3, 4, 7):
        got = [(r.id_a, r.id_b, r.dot) for r in
               SIM.exact_pair_topk(e, k=25, n_blocks=n_blocks).collect()]
        assert got == want, n_blocks


def test_contamination_hits_counts_and_misses(spark):
    """Planted probes: one hits two docs, one hits a single doc, one
    hits nothing (absent from the output, not a zero row).  The
    overlapping-suffix set (he / she / hers / his) counts a doc once per
    probe however often the probe occurs in it, and a NULL text hits
    nothing."""
    from new_ent_crawler_spark.functions.text import contamination_hits
    docs = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "a quick brown dog"),
         (3, "nothing to see here")], "doc_id long, text string")
    got = {r.probe: r.n_docs_hit for r in
           contamination_hits(docs,
                              ["quick brown", "dog", "unicorn"]).collect()}
    assert got == {"quick brown": 2, "dog": 1}

    docs = spark.createDataFrame(
        [(1, "she sells seashells"), (2, "his and hers"),
         (3, "ushers usher"), (4, None), (5, "nothing")],
        "doc_id long, text string")
    got = {r.probe: r.n_docs_hit for r in
           contamination_hits(docs, ["he", "she", "hers", "his"]).collect()}
    assert got == {"he": 3, "she": 2, "hers": 2, "his": 1}


def test_dup_span_stats_planted_duplicates(spark):
    from new_ent_crawler_spark.operators.dedup_text import dup_span_stats
    span = " ".join(f"w{i}" for i in range(20))          # 20 shared tokens
    docs = spark.createDataFrame(
        [(1, span + " tail1 tail2"),                     # 3 spans, 1 dup
         (2, "lead1 " + span),                           # 2 spans, 1 dup
         (3, " ".join(f"u{i}" for i in range(25))),      # 6 spans, 0 dup
         (4, "too short"),                               # 0 spans
         (5, span + " " + span)],                        # internal repeats
        "doc_id int, text string")
    out = {r.doc_id: r for r in dup_span_stats(docs, 20).collect()}
    assert (out[1].n_spans, out[1].n_dup_spans) == (3, 1)
    assert (out[2].n_spans, out[2].n_dup_spans) == (2, 1)
    assert (out[3].n_spans, out[3].n_dup_spans) == (6, 0)
    assert (out[4].n_spans, out[4].n_dup_spans, out[4].dup_frac) == (0, 0, 0.0)
    # doc 5: 40 tokens -> 21 spans; the spans at offsets 1 and 21 are the
    # two aligned copies (both also equal docs 1/2's span) -> >= 2 dups;
    # windows crossing the seam are unique to doc 5
    assert out[5].n_spans == 21 and out[5].n_dup_spans >= 2
    assert abs(out[1].dup_frac - round(1 / 3, 6)) < 1e-9
