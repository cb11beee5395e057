"""URL grammar of the simulated registry web + per-URL extraction dispatch.

The engine's unit of work is a URL.  This module is the one place that
knows what a fetched page yields, shared by the synthetic-web generator,
the single-threaded reference simulator, and the Spark Arrow UDFs:

* ``classify(url)``        -> (kind, detail) page classification
* ``analyze``              -> (status, blocked, text, links) of one fetched
                              page, its payload decoded once
* ``extract_url_text``     -> the golden extracted text for one page (the
                              byte-identity invariant per BASELINE.json
                              ``input_hint``)
* ``discover_links``       -> out-links (pagination pages, section endpoints,
                              mortgage/report children) with page-type scores

URL layout (all company detail URLs are host-relative, mirroring the
reference where section links are harvested from ``var xxxUrl = "/..."``
script variables, parser/DetaiParser.py:1039-1053):

    http://{host}/search/{seed_id}.html                  search listing
    http://{host}/company/{cid}.html                     company main page
    /corp-query-entprise-info-{slug}-{cid}.html          section endpoint
    /corp-query-entprise-info-{slug}-{cid}.html?start=N  pagination page
    /corp-query-entprise-info-{child-stem}{id}.html      mortgage/report child
"""

from __future__ import annotations

import json
import re

from . import entities as E
from . import extract as X

# frontier row status codes, following the reference
# (worker/worker.py:206,240-242); ``analyze`` decides error / found /
# not_found for a fetched page
STATUS_PENDING = 0
STATUS_ERROR = 1
STATUS_IN_FLIGHT = 2
STATUS_FOUND = 3
STATUS_NOT_FOUND = 4
STATUS_EXACT = 5
# fetches of one URL before it stays in its last status for good: an error
# row is re-claimed until its crawler_count reaches this cap
# (utils/RequestHelper.py:62-77)
MAX_ATTEMPTS = 3

# page-type scores: listing before detail (BASELINE.json north_star; the
# reference fetches the listing at worker/worker.py:190 before the detail
# crawl at :225).
SCORE_LISTING = 3
SCORE_MAIN = 2
SCORE_SECTION = 1
SCORE_CHILD = 0

# Section endpoints harvested from the main page, in the order the reference
# requests them (parser/DetaiParser.py:94-183).  var name -> (slug, kind,
# model, modelname for graph page-sizing).
SECTIONS = {
    "alterInfoUrl": ("alterInfo", "extract", E.BUS_CHANGE, ""),
    "entBusExcepUrl": ("entBusExcep", "extract", E.BUS_ABNORMAL, ""),
    "insPunishmentinfoUrl": ("insPunishmentinfo", "extract", E.ENT_PUNISH, ""),
    "anCheYearInfo": ("anCheYearInfo", "report_head", E.REP_HEAD, ""),
    "shareholderUrl": ("shareholder", "invest_bus", None, ""),
    "keyPersonUrl": ("keyPerson", "graph", E.BUS_MEMBER, "bus主要人员信息"),
    "branchUrl": ("branch", "graph", E.BUS_BRANCH, "bus分支机构信息"),
    "mortRegInfoUrl": ("mortRegInfo", "mortgage", E.BUS_MORTGAGE, ""),
    "stakQualitInfoUrl": ("stakQualitInfo", "extract", E.BUS_PLEDGE, ""),
    "spotCheckInfoUrl": ("spotCheckInfo", "extract", E.BUS_SPOT_CHECK, ""),
    "punishmentDetailInfoUrl": ("punishmentDetailInfo", "extract", E.BUS_PUNISH, ""),
    "otherLicenceDetailInfoUrl": ("otherLicenceDetailInfo", "extract", E.BUS_LICENCE, ""),
    "insInvinfoUrl": ("insInvinfo", "invest_ent", None, ""),
    "insAlterstockinfoUrl": ("insAlterstockinfo", "extract", E.ENT_STOCK_CHANGE, ""),
    "insLicenceinfoUrl": ("insLicenceinfo", "extract", E.ENT_LICENCE, ""),
    "insProPledgeRegInfoUrl": ("insProPledgeRegInfo", "extract", E.ENT_ITEL_PLEDGE, ""),
}

_SLUG_TO_SECTION = {slug: (kind, model, modelname)
                    for slug, kind, model, modelname in SECTIONS.values()}

# Report children: stem key -> extraction recipe
# (parser/DetaiParser.py:288-337).
REPORT_CHILDREN = {
    "annBaseUrl": ("report_base", None, ""),
    "sponsorUrl": ("invest_rep", None, ""),
    "forGuaranteeinfoUrl": ("extract", E.REP_GUARANTEE, ""),
    "alterUrl": ("extract", E.REP_CHANGE, ""),
    "webSiteInfoUrl": ("graph", E.REP_WEBSITE, "rep网站或网店信息"),
    "forInvestmentUrl": ("graph", E.REP_INVEST_ENT, "rep对外投资信息"),
    "alterStockInfoUrl": ("extract", E.REP_STOCK_CHANGE, ""),
    "vAnnualReportSfcBranchUrl": ("graph", E.REP_BRANCH, "rep分支机构信息"),
    "annulLicenceUrl": ("extract", E.REP_LICENCE, ""),
}

MORT_CHILD_BUCKETS = {v: k for k, v in E.MORTGAGE_URL_STEMS.items()}


def split_url(url):
    """absolute-or-relative url -> (host, path, query)."""
    rest = url.split("://", 1)[-1] if "://" in url else url
    if "://" in url:
        slash = rest.find("/")
        host, pathq = (rest, "/") if slash < 0 else (rest[:slash], rest[slash:])
    else:
        host, pathq = "", rest
    path, _, query = pathq.partition("?")
    return host, path, query


def canonicalize(url, host=""):
    """Canonical absolute form ``http://host/path[?query]`` (lowercased host,
    no fragment, no trailing default port)."""
    url = url.split("#", 1)[0]
    h, path, query = split_url(url)
    h = (h or host).lower().rstrip(".").removesuffix(":80")
    return "http://" + h + path + ("?" + query if query else "")


def classify(url):
    """-> (kind, detail) where kind in {listing, main, section, mort_child,
    report_child, other}."""
    _, path, query = split_url(url)
    if path.startswith("/search/"):
        return "listing", None
    if path.startswith("/company/"):
        return "main", None
    for stem, bucket in MORT_CHILD_BUCKETS.items():
        if path.startswith(stem):
            return "mort_child", bucket
    for key, stem in E.REPORT_URL_STEMS.items():
        if path.startswith(stem):
            return "report_child", key
    m = re.match(r"/corp-query-entprise-info-([A-Za-z]+)-", path)
    if m and m.group(1) in _SLUG_TO_SECTION:
        return "section", m.group(1)
    return "other", None


def page_type_score(url):
    kind, detail = classify(url)
    if kind == "listing":
        return SCORE_LISTING
    if kind == "main":
        return SCORE_MAIN
    if kind == "section" and "start=" not in split_url(url)[2]:
        return SCORE_SECTION
    return SCORE_CHILD


def _loads(content, typ):
    """``json.loads(content)`` when it decodes to a ``typ``, else None."""
    try:
        value = json.loads(content)
    except (TypeError, ValueError):
        return None
    return value if isinstance(value, typ) else None


def _recipe(kind, detail):
    """(rows kind, model, modelname) of a section or report-child page."""
    return (_SLUG_TO_SECTION if kind == "section" else REPORT_CHILDREN)[detail]


def _decode(kind, detail, content):
    """The one parse of a page's payload.

    listing -> ``parse_listing`` result; main -> ``get_urls`` vars;
    mort_child -> the JSON object or None; section/report child ->
    (rows or None, totalPage) — a report head's JSON list, a report base's
    non-empty JSON object, else the ``parse_envelope`` pair.
    """
    if kind == "listing":
        return X.parse_listing(content)
    if kind == "main":
        return X.get_urls(content)
    if kind == "mort_child":
        return _loads(content, dict)
    if kind in ("section", "report_child"):
        rkind = _recipe(kind, detail)[0]
        if rkind == "report_head":
            return _loads(content, list), None
        if rkind == "report_base":
            return _loads(content, dict) or None, None
        return X.parse_envelope(content)
    return None


def _section_rows(rkind, model, data):
    if rkind == "report_base":
        return {"general": {f: data.get(E.REP_BASE.get(f)) for f in E.REP_BASE},
                "operation": {f: data.get(E.REP_OPERATION.get(f))
                              for f in E.REP_OPERATION}}
    if rkind.startswith("invest_"):
        return [X.map_investor_row(rkind.removeprefix("invest_"), m)
                for m in data]
    return [X.map_row(model, m) for m in data]


_MORT_CHILD_ROWS = {"mortgagers": X.map_mortgager_row,
                    "pawns": X.map_pawn_row, "obligee": X.map_obligee_row}


def _text(kind, detail, content, page):
    """Golden text of a decoded page: what the reference parser extracts
    from this single document, serialized with ``json.dumps`` defaults
    (matching the reference's sink serialization,
    utils/MysqlDBHelper.py:34-44)."""
    if kind == "listing":
        return json.dumps(page)
    if kind == "main":
        return json.dumps({"base": X.get_bus_base_info(content),
                           "urls": page})
    value = None
    if kind == "mort_child" and page is not None:
        value = [_MORT_CHILD_ROWS[detail](m) for m in (page.get("data") or [])]
    elif kind in ("section", "report_child") and page[0] is not None:
        rkind, model, _ = _recipe(kind, detail)
        value = _section_rows(rkind, model, page[0])
    return json.dumps(value)


def _pagination_starts(kind, modelname, total_page):
    """start= values for pages 2..totalPage, replicating each loop's stride
    (extract/invest/mortgage: 5, parser/DetaiParser.py:773; graph: per
    section name with the stuck-start quirk, parser/DetaiParser.py:875-882).
    """
    if total_page is None or not isinstance(total_page, int) or total_page <= 1:
        return []
    starts = []
    for count in range(1, total_page):
        if kind == "graph":
            if "成员" in modelname:
                starts.append(count * 16)
            elif "分支" in modelname or "投资" in modelname:
                starts.append(count * 9)
            elif "网站" in modelname:
                starts.append(count * 8)
            else:
                starts.append(0)
        else:
            starts.append(count * 5)
    return starts


def _links(kind, detail, url, page):
    """Out-links of a decoded page as (relative_or_absolute_url, score)
    pairs, deduplicated, in discovery order.

    Mirrors the reference's crawl tree: listing -> first detail URL
    (parser/ListParser.py:23-24); main -> 16 section endpoints
    (parser/DetaiParser.py:94-183, requiring >=10 vars per :90-92); section
    page -> pagination pages plus mortgage children keyed ``morReg_Id``
    (:601-660) and report children keyed ``anCheId`` (:288-337).
    """
    if kind == "listing":
        return [(page[0], SCORE_MAIN)] if isinstance(page, list) else []
    if kind == "main":
        if page is None or len(page) < 10:
            return []
        rels = [page.get(var) for var in SECTIONS]
        return [(u, SCORE_SECTION) for u in dict.fromkeys(rels) if u]
    if kind not in ("section", "report_child") or page[0] is None:
        return []
    rkind, _, modelname = _recipe(kind, detail)
    data, total_page = page
    _, path, query = split_url(url)
    rels = []
    if not query:  # pagination fan-out only from page 1
        rels += [path + "?start=" + str(start)
                 for start in _pagination_starts(rkind, modelname, total_page)
                 if start > 0]
    if rkind == "mortgage" and isinstance(data, list):
        for tmsg in data:
            mort_id = tmsg.get("morReg_Id")
            if mort_id is not None:
                rels += [stem + str(mort_id) + ".html"
                         for stem in E.MORTGAGE_URL_STEMS.values()]
    if rkind == "report_head":
        for tmsg in data:
            an_che_id = tmsg.get("anCheId")
            if an_che_id is not None:
                rels += [stem + an_che_id + ".html"
                         for stem in E.REPORT_URL_STEMS.values()]
    return [(u, SCORE_CHILD) for u in dict.fromkeys(rels)]


def extract_url_text(url, content):
    """Golden per-URL extracted text of one fetched page."""
    kind, detail = classify(url)
    return _text(kind, detail, content, _decode(kind, detail, content))


def discover_links(url, content):
    """Out-links of one fetched page as (relative_or_absolute_url, score)
    pairs, deduplicated, in discovery order."""
    kind, detail = classify(url)
    return _links(kind, detail, url, _decode(kind, detail, content))


def analyze(url, host, company, content):
    """What one fetched page yields: ``(status, blocked, text, links)``.

    The page rule shared by the engine's Arrow parse and the simulator.
    ``content`` None (the fetch failed) -> error, no text, no links.  A
    block/ban page (worker/worker.py:196) -> error with ``blocked`` set, so
    the host cools down instead of the reference's ADSL redial.  Otherwise
    the payload is decoded once; ``text`` is ``extract_url_text``'s,
    ``status`` the listing's found/not_found/error (worker/worker.py:206) or
    found, and ``links`` the canonical absolute ``discover_links`` as
    ``{url, score, company}`` dicts.
    """
    if content is None:
        return STATUS_ERROR, False, None, []
    if X.BLOCK_MARKER in content or X.INVALID_LINK_MARKER in content:
        return STATUS_ERROR, True, None, []
    kind, detail = classify(url)
    page = _decode(kind, detail, content)
    status = STATUS_FOUND
    if kind == "listing" and not isinstance(page, list):
        status = STATUS_ERROR if page is None else STATUS_NOT_FOUND
    links = []
    for rel, score in _links(kind, detail, url, page):
        absolute = canonicalize(rel, host)
        # company key propagation: a listing's out-link IS the company main
        # page; everything below inherits the parent's company
        links.append({"url": absolute, "score": score,
                      "company": absolute if kind == "listing" else company})
    return status, False, _text(kind, detail, content, page), links
