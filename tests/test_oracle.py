"""Oracle self-consistency + generator determinism (SURVEY.md §5.1)."""

import json

import pyarrow.parquet as pq
import pytest

from new_ent_crawler_spark.oracle import extract as X
from new_ent_crawler_spark.oracle import urlspec as U
from new_ent_crawler_spark.synth import webgen


def test_remove_html_span_only_bug():
    # div strip is discarded; span strip applies to the original
    # (parser/DetaiParser.py:1339-1346)
    s = "<div class='a'>x</div><span>y</span>z"
    assert X.remove_html(s) == "<div class='a'>x</div>z"
    assert X.remove_html(None) is None


def test_num_font_extractors():
    assert X.get_num_from_str("粤B123-456号") == "123456"
    assert X.get_font_from_str("abc华泰12丰") == "华泰丰"
    assert X.get_num_from_str(None) is None


def test_timestamp_format():
    # 1515081600000 = 2018-01-05 00:00 CST
    assert X.timestamp_format(1515081600000) == "2018-01-05"
    assert X.timestamp_format("1515081600000") == "2018-01-05"
    assert X.timestamp_format("2018年1月5日") == "2018-1-5"
    assert X.timestamp_format("2018-01-05") is None
    assert X.timestamp_format(None) is None


def test_term_join_none_none():
    model = {"term": "a-b"}
    assert X.map_row(model, {})["term"] == "None-None"
    assert X.map_row(model, {"a": 1515081600000, "b": 1515081600000})[
        "term"] == "1515081600000-1515081600000"


def test_entity_time_format_pairs_and_swallowed_errors():
    rows = [{"date": "1515081600000-1515081600000"},
            {"date": "None-None"}, {"date": 1515081600000}]
    X.entity_time_format(rows)
    assert rows[0]["date"] == "2018-01-052018-01-05"
    assert rows[1]["date"] == "None-None"  # error swallowed, value kept
    assert rows[2]["date"] == "2018-01-05"
    # second pass is a no-op (shared punishs list, DetaiParser.py:154,192)
    snapshot = json.dumps(rows)
    X.entity_time_format(rows)
    assert json.dumps(rows) == snapshot


def test_state_format_variants():
    assert X.entity_state_format([{"state": 1}, {"state": 2}, {"state": 9}]) \
        == [{"state": "有效"}, {"state": "无效"}, {"state": ""}]
    assert X.entity_state_format([{"type": 1}], "spotcheck") == [{"type": "抽查"}]
    assert X.entity_state_format([{"type": 2}], "web") == [{"type": "网店"}]


def test_listing_parser_paths():
    assert X.parse_listing("") is None
    assert X.parse_listing(X.NOT_FOUND_MARKER) == "not_found"
    html = '<a class="search_list_item db" href="/company/1.html">甲</a>' \
           '<a class="search_list_item db" href="/company/2.html">乙</a>'
    assert X.parse_listing(html) == ["/company/1.html"]
    assert X.parse_listing("<p>no anchors</p>") is None


def test_get_urls_noise_skipped():
    html = ('var aUrl = "/x.html";\nvar t = "/js/t.js?v=1";\n'
            'var broken = = "/y.html";\nnot a var line')
    # query-string and double-'=' lines split into !=2 parts -> skipped
    assert X.get_urls(html) == {"aUrl": "/x.html"}
    assert X.get_urls("<p>none</p>") is None


def test_generator_deterministic(tmp_path):
    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    webgen.generate(a, n_hosts=2, companies_per_host=2, seed=5)
    webgen.generate(b, n_hosts=2, companies_per_host=2, seed=5)
    ta = pq.read_table(a + "/pages.parquet")
    tb = pq.read_table(b + "/pages.parquet")
    assert ta.equals(tb)


def test_golden_text_reproducible(tiny_web):
    out, stats = tiny_web
    t = pq.read_table(out + "/pages.parquet",
                      columns=["url", "html", "text"]).to_pylist()
    assert len(t) == stats["pages"]
    for row in t:
        regenerated = U.extract_url_text(row["url"],
                                         row["html"].decode("utf-8"))
        assert regenerated == row["text"], row["url"]


def test_oracle_assembles_companies(tiny_web):
    out, _ = tiny_web
    pages = webgen.load_fetch(out)
    seeds = pq.read_table(out + "/seeds.parquet").to_pylist()
    n_assembled = 0
    for s in seeds:
        r = X.parse_listing(pages.get(s["seed_url"]))
        if isinstance(r, list):
            host = s["host"]
            info = X.assemble_company(
                r[0], lambda u, h=host: pages.get(U.canonicalize(u, h)))
            if info is not None:
                n_assembled += 1
                assert info["business"]["base"]["name"]
                # round-trip through json is stable
                assert json.loads(json.dumps(info)) == info
    assert n_assembled > 0


def _fetched_pages(web_dir):
    """(url, host, content) of every page of a generated web."""
    t = pq.read_table(web_dir + "/pages.parquet", columns=["url", "html"])
    return [(r["url"], U.split_url(r["url"])[0], r["html"].decode("utf-8"))
            for r in t.to_pylist()]


def test_analyze_equals_pair(tiny_web):
    out, _ = tiny_web
    company = "http://parent.example/company/1.html"
    for url, host, content in _fetched_pages(out):
        status, blocked, text, links = U.analyze(url, host, company, content)
        assert not blocked
        assert text == U.extract_url_text(url, content)
        kind, _ = U.classify(url)
        want = []
        for rel, score in U.discover_links(url, content):
            absolute = U.canonicalize(rel, host)
            want.append({"url": absolute, "score": score,
                         "company": absolute if kind == "listing"
                         else company})
        assert links == want
        want_status = U.STATUS_FOUND
        if kind == "listing":
            r = X.parse_listing(content)
            if r is None:
                want_status = U.STATUS_ERROR
            elif r == "not_found":
                want_status = U.STATUS_NOT_FOUND
        assert status == want_status


@pytest.mark.parametrize("marker", [X.BLOCK_MARKER, X.INVALID_LINK_MARKER],
                         ids=["block", "invalid_link"])
def test_analyze_ban_page(marker):
    page = "<html><body>" + marker + "</body></html>"
    for url in ("http://h.example/search/1.html",
                "http://h.example/company/c1.html",
                "http://h.example/corp-query-entprise-info-alterInfo-c1.html"):
        assert U.analyze(url, "h.example", None, page) == (
            U.STATUS_ERROR, True, None, [])
    assert U.analyze("http://h.example/search/1.html", "h.example", None,
                     None) == (U.STATUS_ERROR, False, None, [])


def test_analyze_decodes_each_payload_once(tiny_web, monkeypatch):
    """One page through ``analyze`` runs each payload decoder at most once
    (the listing rule, the main page's var harvest, the JSON decode)."""
    import collections
    out, _ = tiny_web
    pages = _fetched_pages(out)
    calls = collections.Counter()

    def counted(name, fn):
        def wrapper(*args, **kwargs):
            calls[name] += 1
            return fn(*args, **kwargs)
        return wrapper

    monkeypatch.setattr(json, "loads", counted("json.loads", json.loads))
    for name in ("parse_listing", "get_urls"):
        monkeypatch.setattr(X, name, counted(name, getattr(X, name)))
    seen = collections.Counter()
    for url, host, content in pages:
        calls.clear()
        U.analyze(url, host, None, content)
        assert max(calls.values(), default=0) <= 1, (url, dict(calls))
        seen.update(calls)
    # every decoder was exercised
    assert set(seen) == {"json.loads", "parse_listing", "get_urls"}


def test_padded_web_goldens(tmp_path):
    """Common-Crawl-realistic page sizes don't change extraction semantics."""
    out = str(tmp_path / "padded")
    webgen.generate(out, n_hosts=2, companies_per_host=2, seed=9,
                    filler_kb=16)
    t = pq.read_table(out + "/pages.parquet",
                      columns=["url", "html", "text"]).to_pylist()
    assert min(len(r["html"]) for r in t) >= 4000
    for row in t:
        assert U.extract_url_text(
            row["url"], row["html"].decode("utf-8")) == row["text"]
