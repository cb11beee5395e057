"""Document deduplication family for training-data pipelines.

Four strategies over ``documents(doc_id, text, ...)``, each shaped for the
100 TB case:

* exact        — hash-groupBy on a normalized content digest (one shuffle,
                 map-side partial agg).
* ngram-jaccard— in-row distinct shingle arrays → posting-list shuffle →
                 bucket-local pairing: the classic O(pairs-sharing-a-
                 shingle) candidate join, pruned by frequent-shingle
                 removal; the per-character exploded relation never
                 reaches an exchange.
* minhash-LSH  — in-row K minhashes (array_min, zero shuffles) → band
                 buckets → bucket self-join; only same-bucket pairs are
                 compared, so the join blows up with collisions, not n².
* simhash      — 60-bit majority-vote fingerprint (60, not 64, so the
                 DuckDB oracle can rebuild it from 15 md5 hex chars in a
                 signed BIGINT); near-dups = equal
                 fingerprints on rotated band keys (Hamming ≤ k by banding).

Hash functions are md5-derived so the DuckDB oracle can reproduce the exact
same signatures in ANSI SQL (md5 is the one hash both engines share).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def normalized_text(col="text"):
    return F.lower(F.regexp_replace(F.trim(F.col(col)), r"\s+", " "))


def exact_dedup(docs: DataFrame, id_col="doc_id", text_col="text") -> DataFrame:
    """Keep the smallest id per identical normalized text.  groupBy(md5)
    shuffles only (digest, id) — column-pruned and partially aggregated
    map-side."""
    return (docs
            .select(F.col(id_col), F.md5(normalized_text(text_col)).alias("digest"))
            .groupBy("digest")
            .agg(F.min(id_col).alias("keep_id"),
                 F.count("*").alias("n_copies")))


def shingle_arrays(docs: DataFrame, id_col="doc_id", text_col="text",
                   k: int = 8) -> DataFrame:
    """(doc_id, shs: array<string>) — each document's DISTINCT character
    k-shingles computed entirely in-row (``transform`` over positions +
    ``array_distinct``), so shingle generation is a NARROW plan: the
    per-position exploded relation — by far the largest intermediate in the
    dedup family (one row per character of the corpus) — never exists, the
    per-doc dedup costs no exchange, and per-doc shingle counts are a free
    ``F.size`` instead of a count shuffle."""
    norm = normalized_text(text_col)
    return (docs
            .select(F.col(id_col).alias("doc_id"), norm.alias("t"))
            .filter(F.length("t") >= k)
            .select("doc_id",
                    F.array_distinct(F.transform(
                        F.sequence(F.lit(1), F.length("t") - F.lit(k - 1)),
                        lambda i: F.col("t").substr(i, F.lit(k))))
                    .alias("shs")))


def shingles(docs: DataFrame, id_col="doc_id", text_col="text",
             k: int = 8) -> DataFrame:
    """Distinct character k-shingles per document, one (doc_id, shingle)
    row each — the exploded view of ``shingle_arrays`` (already deduped
    in-row, so no distinct shuffle follows the explode)."""
    return (shingle_arrays(docs, id_col, text_col, k)
            .select("doc_id", F.explode("shs").alias("shingle")))


def word_shingle_arrays(docs: DataFrame, id_col="doc_id", text_col="text",
                        n: int = 3) -> DataFrame:
    """(doc_id, shs) distinct word n-grams per document, in-row like
    ``shingle_arrays``.  ~10-50x fewer shingles than character k-shingles
    on the same corpus — the cheap path when whole-word phrase granularity
    is acceptable."""
    toks = F.filter(F.split(normalized_text(text_col), " "),
                    lambda x: F.length(x) > 0)
    return (docs
            .select(F.col(id_col).alias("doc_id"), toks.alias("toks"))
            .filter(F.size("toks") >= n)
            .select("doc_id",
                    F.array_distinct(F.transform(
                        F.sequence(F.lit(1), F.size("toks") - F.lit(n - 1)),
                        lambda i: F.concat_ws(" ", F.slice("toks", i, n))))
                    .alias("shs")))


def jaccard_pairs_from_shingle_arrays(arrs: DataFrame, threshold: float,
                                      max_shingle_freq: int,
                                      hash_shingles: bool = True) -> DataFrame:
    """Posting-list Jaccard over (doc_id, shs array): per-doc sizes are a
    free ``F.size`` (no count shuffle), ONE shuffle by shingle builds the
    posting lists, pair counts come from the bucket-local double-explode
    bounded by ``max_shingle_freq``^2, then sizes join back.  Shared by the
    char-shingle and word-shingle entry points.

    ``hash_shingles`` (default on) maps each shingle to its xxhash64
    in-row BEFORE the explode, so the posting-list exchange moves 8-byte
    ints instead of shingle strings (8-25+ bytes each) — the one shuffle
    here is the operator's dominant cost at scale.  Intersection counts
    are unchanged unless two distinct shingles of the same doc pair
    collide in 64 bits (P ~ n_distinct^2 / 2^65 — ~3e-8 at 10^6 distinct
    shingles, and a collision shifts one pair's count by 1).  Corpus-wide
    the same birthday bound applies to ALL distinct shingles N: P ~ 1 -
    exp(-N^2 / 2^65), about 0.4 at N = 2^32 (~4.3e9), a count a 10^10-row
    corpus can reach.  Such a collision merges two posting lists, which can
    flip a pair at the threshold or push the merged bucket past
    ``max_shingle_freq``.  Pass False for the exact-string path."""
    if hash_shingles:
        arrs = arrs.withColumn(
            "shs", F.transform("shs", lambda s: F.xxhash64(s)))
    arrs = arrs.persist()  # shared by the sizes and posting-list branches
    sizes = arrs.select("doc_id", F.size("shs").alias("n_sh"))
    sh = arrs.select("doc_id", F.explode("shs").alias("shingle"))
    buckets = (sh.groupBy("shingle")
               .agg(F.collect_set("doc_id").alias("docs"))
               .filter((F.size("docs") >= 2)
                       & (F.size("docs") <= max_shingle_freq))
               .select("docs"))
    inter = (buckets
             .select(F.explode("docs").alias("id_a"), "docs")
             .select("id_a", F.explode("docs").alias("id_b"))
             .filter(F.col("id_a") < F.col("id_b"))
             .groupBy("id_a", "id_b")
             .agg(F.count("*").alias("n_common")))
    sa = sizes.select(F.col("doc_id").alias("id_a"),
                      F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"),
                      F.col("n_sh").alias("n_b"))
    return (inter.join(sa, "id_a").join(sb, "id_b")
            .withColumn("jaccard",
                        F.col("n_common").cast("double")
                        / (F.col("n_a") + F.col("n_b") - F.col("n_common")))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard")))


def word_ngram_jaccard_pairs(docs: DataFrame, n: int = 3,
                             threshold: float = 0.5,
                             max_shingle_freq: int = 100) -> DataFrame:
    """Near-duplicate pairs by exact Jaccard over word n-grams."""
    return jaccard_pairs_from_shingle_arrays(word_shingle_arrays(docs, n=n),
                                             threshold, max_shingle_freq)


def ngram_jaccard_pairs(docs: DataFrame, k: int = 8,
                        threshold: float = 0.8,
                        max_shingle_freq: int = 100) -> DataFrame:
    """Near-duplicate pairs by exact Jaccard over k-shingles.

    Candidate generation is the shingle self-join; shingles shared by more
    than ``max_shingle_freq`` docs are dropped first (they would square the
    join) — the standard frequency cut, logged in the plan as a broadcast
    filter.
    """
    return jaccard_pairs_from_shingle_arrays(shingle_arrays(docs, k=k),
                                             threshold, max_shingle_freq)


def _hash64(col, seed: int):
    """Portable 64-bit hash: first 16 hex chars of md5(seed || value).
    Reproducible in DuckDB SQL."""
    return F.conv(F.substring(F.md5(F.concat(F.lit(str(seed) + ":"), col)),
                              1, 15), 16, 10).cast("long")


# Sentinel above every achievable Kirsch-Mitzenmacher hash value
# (h1 + i*h2 < 2^60 for i < 16 with 56-bit bases) — the aggregate's
# zero element for the running minimum.
_KM_INF = 1 << 62


# The K minhash functions are derived from TWO base hashes per shingle as
# h1 + i*h2 (Kirsch & Mitzenmacher, "Less hashing, same performance:
# building a better Bloom filter", ESA 2006 — two base hashes stand in
# for K independent ones).  md5 family (default): h1/h2 are 14-hex-char
# (56-bit) slices of ONE md5, so h1 + 15*h2 < 2^60 stays exact in a
# signed 64-bit integer and the DuckDB oracle reproduces every signature
# bit-for-bit.  xxhash64 family: the engine path at scale — two seeded
# xxhash64 calls (JVM-side, no hex round-trip), masked to 56 bits for the
# same overflow-free derivation; not SQL-oracle-portable.
def minhash_signatures(docs: DataFrame, k: int = 8,
                       num_hashes: int = 16,
                       hash_family: str = "md5",
                       id_col="doc_id", text_col="text") -> DataFrame:
    """(doc_id, h0..h{n-1}) minhash signature, one hash + one fold.

    Computed entirely in-row — the signature step needs NO shuffle at
    all — in three narrow array passes over the k-shingle positions:
    hash every position's shingle once, derive the two KM base hashes,
    then a single ``aggregate`` folds the array into all K running
    minima at once (``zip_with``/``least`` against the K derived hashes
    of each shingle).  No shingle-string array and no ``array_distinct``
    are materialized: min over the position multiset equals min over the
    distinct-shingle set, so the dedup pass ``shingle_arrays`` pays
    (needed for Jaccard set sizes) is pure waste here.  The r03 shape
    (K separate ``array_min(transform)`` passes, each with its own
    salted md5) traversed the array K times and hashed every shingle K
    times — 2.2x the whole-query cost at sf0.1."""
    base = (docs
            .select(F.col(id_col).alias("doc_id"),
                    normalized_text(text_col).alias("t"))
            .filter(F.length("t") >= k))
    if hash_family == "xxhash64":
        mask = (1 << 56) - 1
        pairs = F.transform(
            F.sequence(F.lit(1), F.length("t") - F.lit(k - 1)),
            lambda i: F.struct(
                F.xxhash64(F.col("t").substr(i, F.lit(k)))
                .bitwiseAND(F.lit(mask)).alias("h1"),
                F.xxhash64(F.col("t").substr(i, F.lit(k)), F.lit(1))
                .bitwiseAND(F.lit(mask)).alias("h2")))
    else:
        md5s = F.transform(
            F.sequence(F.lit(1), F.length("t") - F.lit(k - 1)),
            lambda i: F.md5(F.col("t").substr(i, F.lit(k))))
        pairs = F.transform(md5s, lambda m: F.struct(
            F.conv(F.substring(m, 1, 14), 16, 10).cast("long").alias("h1"),
            F.conv(F.substring(m, 17, 14), 16, 10).cast("long").alias("h2")))
    sig = F.aggregate(
        pairs,
        F.array_repeat(F.lit(_KM_INF).cast("long"), num_hashes),
        lambda acc, p: F.zip_with(
            acc,
            F.transform(F.sequence(F.lit(0), F.lit(num_hashes - 1)),
                        lambda i: p["h1"] + i.cast("long") * p["h2"]),
            lambda a, b: F.least(a, b)))
    return base.select(
        "doc_id", *[sig[i].alias(f"h{i}") for i in range(num_hashes)])


def minhash_lsh_pairs(docs: DataFrame, k: int = 8, num_hashes: int = 16,
                      bands: int = 4,
                      max_bucket_size: int | None = None,
                      hash_family: str = "md5") -> DataFrame:
    """Candidate near-dup pairs: equal band-key in any band.

    rows_per_band = num_hashes/bands; the band key is the md5 of the band's
    concatenated minhashes, so bucket join keys are short strings.

    Scale guard (opt-in, LOSSY): pair generation is the bucket-local
    double-explode (one shuffle by band key).  Passing ``max_bucket_size``
    drops buckets larger than that before pairing — one degenerate key
    (e.g. thousands of near-empty docs sharing a signature) would otherwise
    square its bucket — but it also drops every candidate pair from those
    buckets, changing recall.  The default (``None``) keeps the exact
    banded-LSH semantics; opt into the cap at scale, where a bucket that
    big is exact-dup mass that ``exact_dedup`` already handles.
    """
    sig = minhash_signatures(docs, k=k, num_hashes=num_hashes,
                             hash_family=hash_family).persist()
    rows_per_band = num_hashes // bands
    band_frames = []
    for b in range(bands):
        cols = [F.col(f"h{b * rows_per_band + r}").cast("string")
                for r in range(rows_per_band)]
        band_frames.append(
            sig.select("doc_id",
                       F.lit(b).alias("band"),
                       F.md5(F.concat_ws("|", *cols)).alias("band_key")))
    banded = band_frames[0]
    for fr in band_frames[1:]:
        banded = banded.unionByName(fr)
    size_ok = (F.size("docs") >= 2) if max_bucket_size is None else \
        ((F.size("docs") >= 2) & (F.size("docs") <= max_bucket_size))
    buckets = (banded.groupBy("band", "band_key")
               .agg(F.collect_set("doc_id").alias("docs"))
               .filter(size_ok)
               .select("docs"))
    return (buckets
            .select(F.explode("docs").alias("id_a"), "docs")
            .select("id_a", F.explode("docs").alias("id_b"))
            .filter(F.col("id_a") < F.col("id_b"))
            .distinct())


def simhash(docs: DataFrame, id_col="doc_id", text_col="text") -> DataFrame:
    """60-bit SimHash over whitespace tokens: per-bit majority vote of
    md5-derived token hashes — explode + groupBy, all JVM-side.  60 bits
    (not the textbook 64) because the token hash is the first 15 hex chars
    of md5 so DuckDB can reproduce it exactly as a signed BIGINT-safe
    ``CAST('0x' || substr(md5(..), 1, 15) AS BIGINT)``.

    Shape note (r05): a zero-shuffle in-row variant (fold the token array
    into the 60-wide vote vector with one ``aggregate``, like
    ``minhash_signatures``) was built, verified identical, and REJECTED —
    it measured 2.3x the CPU (1.92 s vs 0.82 s at sf0.1) because each
    token allocates a 60-element vote array, while this shape's 60
    primitive sum buffers stay in whole-stage codegen and the exchange it
    saves is only ~500 bytes/doc after map-side partial aggregation.
    Shuffle-free is not free; CPU dominates here at every scale."""
    toks = (docs
            .select(F.col(id_col).alias("doc_id"),
                    F.explode(F.split(normalized_text(text_col), " "))
                    .alias("tok"))
            .filter(F.length("tok") > 0)
            # materialize the md5-derived hash ONCE per token: referencing
            # the raw expression from all 60 per-bit aggregates would
            # re-evaluate md5+conv 60x per row (subexpression elimination
            # does not reach into independent aggregate buffers)
            .withColumn("h", _hash64(F.col("tok"), 0)))
    h = F.col("h")
    bit_cols = [
        F.sum(F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1)
              .otherwise(-1)).alias(f"b{i}")
        for i in range(60)]
    votes = toks.groupBy("doc_id").agg(*bit_cols)
    acc = F.lit(0).cast("long")
    for i in range(60):
        acc = acc + F.when(F.col(f"b{i}") > 0,
                           F.lit(2 ** i).cast("long")).otherwise(F.lit(0))
    return votes.select("doc_id", acc.alias("simhash"))


def simhash_dup_groups(docs: DataFrame) -> DataFrame:
    """Exact-simhash collision groups (Hamming-0 near-dups; see
    ``simhash_near_pairs`` for the Hamming<=k banded variant)."""
    return (simhash(docs).groupBy("simhash")
            .agg(F.count("*").alias("n_docs"),
                 F.min("doc_id").alias("keep_id"))
            .filter(F.col("n_docs") > 1))


def simhash_near_pairs(docs: DataFrame, max_hamming: int = 3,
                       n_bands: int = 4,
                       max_bucket_size: int | None = None) -> DataFrame:
    """Near-dup pairs at Hamming distance <= ``max_hamming`` via banding.

    Pigeonhole: the 60-bit fingerprint splits into ``n_bands`` contiguous
    bands (n_bands must exceed max_hamming); any pair within Hamming
    ``n_bands - 1`` agrees exactly on at least one band, so equal-band
    buckets are a complete candidate set.  Candidates are then verified
    with the exact popcount of the XOR — with the default
    ``max_bucket_size=None`` banding only prunes, never changes the
    result, and the output equals the brute-force all-pairs Hamming
    filter.  Opting into ``max_bucket_size`` is LOSSY: an oversized bucket
    (>max_bucket_size docs agreeing on a band — e.g. a giant exact-dup
    cluster) is dropped whole, losing its pairs; use it at scale only
    after ``exact_dedup`` has collapsed identical docs.  One shuffle
    (groupBy band key), bucket-local pair generation.
    """
    if n_bands <= max_hamming:
        raise ValueError("need n_bands > max_hamming for a complete "
                         "candidate set (pigeonhole)")
    bits_per_band = 60 // n_bands
    fp = simhash(docs)
    mask = (1 << bits_per_band) - 1
    band_frames = [
        fp.select("doc_id", "simhash", F.lit(b).alias("band"),
                  F.shiftright("simhash", b * bits_per_band)
                  .bitwiseAND(F.lit(mask)).alias("band_key"))
        for b in range(n_bands)]
    banded = band_frames[0]
    for fr in band_frames[1:]:
        banded = banded.unionByName(fr)
    buckets = (banded.groupBy("band", "band_key")
               .agg(F.collect_set(F.struct("doc_id", "simhash"))
                    .alias("docs"))
               .filter((F.size("docs") >= 2)
                       if max_bucket_size is None else
                       ((F.size("docs") >= 2)
                        & (F.size("docs") <= max_bucket_size)))
               .select("docs"))
    pairs = (buckets
             .select(F.explode("docs").alias("a"), "docs")
             .select("a", F.explode("docs").alias("b"))
             .filter(F.col("a.doc_id") < F.col("b.doc_id"))
             .select(F.col("a.doc_id").alias("id_a"),
                     F.col("b.doc_id").alias("id_b"),
                     F.col("a.simhash").alias("sh_a"),
                     F.col("b.simhash").alias("sh_b"))
             .distinct())
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (pairs
            .withColumn("hamming", hamming.cast("int"))
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming"))


def connected_components(pairs: DataFrame, a_col: str = "a",
                         b_col: str = "b", max_iters: int = 20) -> DataFrame:
    """Duplicate-cluster assignment: (id, component) where component is the
    MINIMUM id reachable through the (undirected) candidate-pair graph —
    the step that turns near-dup PAIRS into dedup DECISIONS (keep one doc
    per component).

    Hash-min label propagation: every node starts as its own label; each
    round a node adopts the smallest label among itself and its neighbours;
    converged when no label changes.  Rounds = O(component diameter), and
    dup clusters are near-cliques (diameter ~2 after LSH banding), so real
    corpora converge in 2-4 rounds.  Per round: one groupBy over the edge
    list — partial-agg shuffle of (node, min_label), no windows, no driver
    data.  ``localCheckpoint`` truncates the lineage each round so the plan
    does not deepen geometrically (the classic iterative-join trap).

    vs GraphFrames/GraphX: same algorithm, but expressed in 20 lines of
    DataFrame ops with no extra dependency.
    """
    edges = (pairs.select(F.col(a_col).alias("s"), F.col(b_col).alias("d"))
             .unionByName(pairs.select(F.col(b_col).alias("s"),
                                       F.col(a_col).alias("d")))
             .distinct()
             .persist())
    labels = (edges.select(F.col("s").alias("id"))
              .distinct()
              .withColumn("comp", F.col("id")))
    for _ in range(max_iters):
        # smallest neighbour label per node this round
        nbr = (edges.join(labels.withColumnRenamed("id", "s"), "s")
               .groupBy(F.col("d").alias("id"))
               .agg(F.min("comp").alias("nbr_comp")))
        new_labels = (labels.join(nbr, "id", "left")
                      .select("id", F.least("comp", "nbr_comp")
                              .alias("comp"))
                      .localCheckpoint(eager=True))
        changed = (new_labels.alias("n")
                   .join(labels.alias("o"), "id")
                   .filter(F.col("n.comp") != F.col("o.comp"))
                   .limit(1).count())
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    return labels


def dedup_cluster_keep(docs: DataFrame, pairs: DataFrame,
                       id_col: str = "doc_id") -> DataFrame:
    """(doc_id, comp, keep) over ALL docs: singletons are their own
    component; inside a dup cluster only the minimum id survives — the
    final verdict a 100 TB dedup pipeline writes back."""
    comp = connected_components(pairs)
    return (docs.select(F.col(id_col).alias("doc_id"))
            .join(comp.withColumnRenamed("id", "doc_id"), "doc_id", "left")
            .select("doc_id",
                    F.coalesce("comp", F.col("doc_id")).alias("comp"))
            .withColumn("keep", F.col("doc_id") == F.col("comp")))


def dup_span_stats(docs: DataFrame, span_tokens: int = 20,
                   id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Per-document exact duplicated-span statistics — the fixed-window
    variant of exact substring dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better": long substrings repeated
    anywhere in the corpus are memorization fuel and should be cut).

    A span is ``span_tokens`` consecutive whitespace tokens; it is
    *duplicated* when its hash occurs >= 2 times anywhere in the corpus
    (another document OR elsewhere in the same document).  Suffix arrays
    — the single-node tool for this — don't distribute; the Spark-native
    shape is rolling span hashes built IN-ROW (narrow, like
    ``shingle_arrays``), then compact digest-only shuffles:

    1. (hash, doc) occurrence counts — map-side combinable;
    2. per-hash totals (partial agg, tiny);
    3. totals joined back, >= 2 filtered, per-doc re-group.

    A boilerplate span repeated 10^6 times is ONE row after step 1 per
    doc and one row in step 2 — frequency never explodes a partition.
    Returns (doc_id, n_spans, n_dup_spans, dup_frac rounded to 6dp).
    """
    k = span_tokens
    toks = F.filter(F.split(F.col(text_col), " "),
                    lambda x: F.length(x) > 0)
    base = (docs.select(F.col(id_col).alias("doc_id"), toks.alias("toks"))
            .select("doc_id",
                    F.greatest(F.size("toks") - F.lit(k - 1), F.lit(0))
                    .alias("n_spans"),
                    F.col("toks")))
    # Spark's sequence(1, 0) counts DOWN — guard the short-doc case to an
    # empty span array instead
    spans = base.select(
        "doc_id", "n_spans",
        F.when(F.col("n_spans") >= 1, F.transform(
            F.sequence(F.lit(1), F.col("n_spans")),
            lambda i: F.md5(F.concat_ws(" ", F.slice("toks", i, k)))))
        .otherwise(F.array().cast("array<string>")).alias("spans"))
    sp = spans.select("doc_id", F.explode("spans").alias("h"))
    per_doc_h = sp.groupBy("h", "doc_id").agg(F.count("*").alias("c"))
    per_doc_h = per_doc_h.persist()
    totals = per_doc_h.groupBy("h").agg(F.sum("c").alias("occ"))
    dup = (per_doc_h.join(totals.filter(F.col("occ") >= 2), "h")
           .groupBy("doc_id").agg(F.sum("c").alias("n_dup")))
    out = (spans.select("doc_id", "n_spans")
           .join(dup, "doc_id", "left")
           .select("doc_id",
                   F.col("n_spans").cast("long").alias("n_spans"),
                   F.coalesce("n_dup", F.lit(0)).cast("long")
                   .alias("n_dup_spans"))
           .withColumn("dup_frac", F.round(
               F.when(F.col("n_spans") == 0, F.lit(0.0))
               .otherwise(F.col("n_dup_spans")
                          / F.col("n_spans").cast("double")), 6)))
    return out
