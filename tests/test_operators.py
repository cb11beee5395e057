"""Operator-level property tests (SURVEY.md §5.4): budget bounds, skewed
top-K equivalence, Bloom-prune invariance, dedup idempotence."""

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from new_ent_crawler_spark.operators import dedup as DD
from new_ent_crawler_spark.operators import frontier as FR
from new_ent_crawler_spark.operators import politeness as PL


@pytest.fixture(scope="module")
def frontier_df(spark):
    rows = []
    for i in range(300):
        host = f"h{i % 3}.example"
        rows.append((f"http://{host}/p{i}.html", host, None, i % 7,
                     f"kw{i % 7}", i % 4, i % 3, i % 2, 0, 0, i % 5))
    return spark.createDataFrame(rows, FR.FRONTIER_SCHEMA)


def _grants(spark, k):
    return spark.createDataFrame(
        [(f"h{i}.example", k) for i in range(3)], "host string, grant int")


def test_dequeue_respects_budget(spark, frontier_df):
    claimed = FR.dequeue(frontier_df, _grants(spark, 5))
    per_host = {r.host: r.cnt for r in
                claimed.groupBy("host").agg(F.count("*").alias("cnt")).collect()}
    assert all(v <= 5 for v in per_host.values())
    assert sum(per_host.values()) == 15


def test_salted_topk_equals_naive(spark, frontier_df):
    """Two-phase salted top-K == single-window top-K (any salt_buckets)."""
    def urls(df):
        return sorted(r.url for r in df.select("url").collect())
    naive = urls(FR.dequeue(frontier_df, _grants(spark, 7), salt_buckets=1))
    for s in (4, 16):
        assert urls(FR.dequeue(frontier_df, _grants(spark, 7),
                               salt_buckets=s)) == naive


def test_dequeue_priority_order(spark, frontier_df):
    claimed = FR.dequeue(frontier_df, _grants(spark, 3))
    for r in claimed.collect():
        assert r.priority == 1  # highest lane drained first


def test_bloom_prune_never_changes_result(spark):
    seen = spark.createDataFrame(
        [(f"http://x/{i}",) for i in range(500)], "url string")
    cand = spark.createDataFrame(
        [(f"http://x/{i}",) for i in range(400, 900)], "url string")
    exact = sorted(r.url for r in
                   cand.join(seen, "url", "left_anti").collect())
    bloom = DD.build_bloom(seen, expected=500, fpp=0.05)
    pruned = sorted(r.url for r in
                    DD.filter_new_urls(cand, seen, bloom).collect())
    assert pruned == exact


def test_bloom_no_false_negatives():
    bf = DD.BloomFilter.sized(1000, 0.01)
    keys = [f"k{i}" for i in range(1000)]
    for k in keys:
        bf.add(k)
    assert all(bf.might_contain(k) for k in keys)
    fp = sum(bf.might_contain(f"other{i}") for i in range(2000)) / 2000
    assert fp < 0.05


def test_bloom_merge_is_union():
    a = DD.BloomFilter.sized(100, 0.01)
    b = DD.BloomFilter(a.n_bits, a.n_hashes)
    a.add("x")
    b.add("y")
    a.merge(b)
    assert a.might_contain("x") and a.might_contain("y")


# -- cuckoo filter (the north_star's deletion-capable alternative) ---------


def test_cuckoo_no_false_negatives_and_low_fpp():
    cf = DD.CuckooFilter.sized(1000)
    keys = [f"k{i}" for i in range(1000)]
    for k in keys:
        cf.add(k)
    assert all(cf.might_contain(k) for k in keys)
    fp = sum(cf.might_contain(f"other{i}") for i in range(4000)) / 4000
    assert fp < 0.01  # 16-bit fingerprints: far tighter than the Bloom


def test_cuckoo_delete_removes_without_harming_others():
    cf = DD.CuckooFilter.sized(500)
    keys = [f"k{i}" for i in range(500)]
    for k in keys:
        cf.add(k)
    for k in keys[::7]:
        assert cf.delete(k)
    # deleted keys gone (their fingerprint slot freed) ...
    deleted_still = sum(cf.might_contain(k) for k in keys[::7])
    assert deleted_still <= 2  # only residual fp collisions may remain
    # ... and deletion never creates false negatives for remaining keys
    remaining = [k for i, k in enumerate(keys) if i % 7 != 0]
    assert all(cf.might_contain(k) for k in remaining)
    assert not cf.delete("never-added-key-without-collision-9999")


def test_cuckoo_bulk_insert_matches_per_item_and_is_fast():
    """The vectorized free-slot fast path (VERDICT r03 ask #5): bulk
    add_many_hex must (a) store the same number of fingerprints as the
    sequential per-item reference with zero false negatives, and (b) at
    1M keys land within ~3x of the Bloom's vectorized add_many_hex —
    the old per-item loop was >20x."""
    import hashlib
    import time

    hexes = [hashlib.md5(f"url{i}".encode()).hexdigest()
             for i in range(1_000_000)]

    sub = hexes[:50_000]
    cf_v = DD.CuckooFilter.sized(60_000)
    cf_v.add_many_hex(sub)
    cf_ref = DD.CuckooFilter.sized(60_000)
    for h in sub:
        i1s, fps = cf_ref._parts_many([h])
        cf_ref._insert_pair(int(i1s[0]), int(fps[0]))
    assert cf_v.might_contain_many_hex(sub).all()
    assert ((cf_v.buckets != 0).sum() + len(cf_v.stash)
            == (cf_ref.buckets != 0).sum() + len(cf_ref.stash))

    cf = DD.CuckooFilter.sized(1_200_000)
    t0 = time.perf_counter()
    cf.add_many_hex(hexes)
    t_cuckoo = time.perf_counter() - t0
    assert cf.might_contain_many_hex(hexes[:100_000]).all()
    bf = DD.BloomFilter.sized(1_200_000, 0.01)
    t0 = time.perf_counter()
    bf.add_many_hex(hexes)
    t_bloom = time.perf_counter() - t0
    # generous CI margin over the measured ~1.4x (host noise); the real
    # assertion is the order of magnitude — per-item Python would be >20x
    assert t_cuckoo < 6 * max(t_bloom, 0.2), (t_cuckoo, t_bloom)


def test_cuckoo_merge_is_union_membership():
    a = DD.CuckooFilter.sized(400)
    b = DD.CuckooFilter(a.n_buckets)
    ka = [f"a{i}" for i in range(150)]
    kb = [f"b{i}" for i in range(150)]
    for k in ka:
        a.add(k)
    for k in kb:
        b.add(k)
    a.merge(b)
    assert all(a.might_contain(k) for k in ka + kb)


def test_cuckoo_overflow_goes_to_stash_lossless():
    cf = DD.CuckooFilter(64)  # 256 slots; overfill to force kicks + stash
    keys = [f"k{i}" for i in range(300)]
    for k in keys:
        cf.add(k)
    assert all(cf.might_contain(k) for k in keys)


def test_cuckoo_prune_never_changes_result(spark):
    seen = spark.createDataFrame(
        [(f"http://x/{i}",) for i in range(500)], "url string")
    cand = spark.createDataFrame(
        [(f"http://x/{i}",) for i in range(400, 900)], "url string")
    exact = sorted(r.url for r in
                   cand.join(seen, "url", "left_anti").collect())
    cf = DD.build_cuckoo(seen, expected=500)
    pruned = sorted(r.url for r in
                    DD.filter_new_urls(cand, seen, cf).collect())
    assert pruned == exact


def test_token_bucket_spend_refill(spark):
    robots = spark.createDataFrame(
        [("h0", ["/private/"], 1.0), ("h1", ["/private/"], 2.0)],
        "host string, disallow array<string>, crawl_delay double")
    budgets = PL.init_budgets(robots, per_wave_k=4).toPandas()

    def grants(b):
        g = PL.grants_pd(b)
        return dict(zip(g["host"], g["grant"]))

    assert grants(budgets) == {"h0": 4, "h1": 4}
    b1 = PL.spend_and_refill_pd(budgets, {"h0": 4, "h1": 4})
    assert grants(b1) == {"h0": 4, "h1": 2}  # h1 is a slow host (crawl_delay 2)
    b2 = PL.spend_and_refill_pd(b1, {}, {"h0"})
    assert grants(b2)["h0"] == 0  # cool-down


def test_tune_arrow_batch_row_cap(spark, tiny_web, tmp_path):
    """Row cap = clamped 16 MiB / mean html bytes; no html size raises."""
    from new_ent_crawler_spark.operators import parse as PS
    web_dir, _ = tiny_web
    path = os.path.join(web_dir, "pages.parquet")
    html = pq.read_table(path, columns=["html"]).column("html").to_pylist()
    mean = sum(map(len, html)) / len(html)
    rows = PS.tune_arrow_batch(spark, path)
    assert rows == max(64, min(4096, 16 * 2**20 // int(mean)))
    assert spark.conf.get(
        "spark.sql.execution.arrow.maxRecordsPerBatch") == str(rows)
    no_html = str(tmp_path / "no_html.parquet")
    pq.write_table(pq.read_table(path, columns=["url"]), no_html)
    with pytest.raises(ValueError, match="html"):
        PS.tune_arrow_batch(spark, no_html)


def test_robots_filter(spark):
    robots = spark.createDataFrame(
        [("h0", ["/private/"], 1.0)],
        "host string, disallow array<string>, crawl_delay double")
    df = spark.createDataFrame(
        [("http://h0/private/x.html", "h0"), ("http://h0/ok.html", "h0")],
        "url string, host string")
    out = [r.url for r in PL.robots_allowed(df, robots).collect()]
    assert out == ["http://h0/ok.html"]


def test_dedup_last_writer_wins(spark):
    df = spark.createDataFrame(
        [("a", "u1", 1), ("a", "u2", 5), ("b", "u3", 2)],
        "key string, url string, ts int")
    out = {r.key: r.url for r in
           DD.dedup_last_writer_wins(df, ["key"], "ts").collect()}
    assert out == {"a": "u2", "b": "u3"}


def test_dedup_candidates_matches_window(spark):
    """The hash-aggregate candidate dedup (groupBy url + max(struct)) must
    pick exactly the row the old row_number window picked: best claim by
    priority DESC, depth ASC, page_type_score DESC, seed_id ASC, with the
    remaining columns as deterministic tiebreakers."""
    from pyspark.sql import Window
    from new_ent_crawler_spark.operators import parse as PS

    rows = []
    for i in range(400):
        url = f"http://h{i % 5}.example/p{i % 40}.html"  # 10 claims per url
        rows.append((url, f"h{i % 5}.example", f"c{i % 11}", i % 7,
                     f"kw{i % 7}", i % 4, i % 3, i % 2, 0, 0, i % 5))
    cand = spark.createDataFrame(rows, FR.FRONTIER_SCHEMA)

    w = Window.partitionBy("url").orderBy(
        F.col("priority").desc(), F.col("depth").asc(),
        F.col("page_type_score").desc(), F.col("seed_id").asc(),
        # max(struct) breaks residual ties by the LARGEST payload, so the
        # reference window must order the payload tiebreakers descending
        F.col("host").desc(), F.col("company").desc(),
        F.col("keyword").desc(), F.col("depth").desc(),
        F.col("seed_id").desc(), F.col("status").desc(),
        F.col("crawler_count").desc(), F.col("enqueue_wave").desc())
    expected = (cand.withColumn("_rn", F.row_number().over(w))
                .filter("_rn = 1").drop("_rn"))

    got = PS.dedup_candidates(cand)
    cols = sorted(got.columns)
    assert sorted(expected.columns) == cols
    a = sorted(map(tuple, got.select(*cols).collect()))
    b = sorted(map(tuple, expected.select(*cols).collect()))
    assert a == b and len(a) == 40  # 40 distinct urls
