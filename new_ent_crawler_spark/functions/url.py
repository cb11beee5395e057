"""URL canonicalization — the key function under the crawl's URL-seen set.

The reference keys its seen set on raw URL strings (its registry URL grammar
is fully deterministic, spiders/worker.py builds every URL itself, so raw
equality suffices there).  An open web crawl meets the same page under many
spellings — uppercase scheme/host, explicit default port, shuffled query
parameters, fragments — and keys its seen-set anti-join and frontier MERGE
on the canonical form instead.  This module is that canonicalizer, built
ONLY from portable JVM-side primitives (regexp, lower, split, array_sort,
concat_ws) so it stays inside whole-stage codegen AND is exactly
reproducible in the DuckDB oracle:

* trim surrounding whitespace, drop the ``#fragment``;
* lowercase scheme and authority (path and query stay case-sensitive);
* strip the scheme's default port (``http:80`` / ``https:443``);
* empty path becomes ``/``;
* query parameters are sorted bytewise (``?b=2&a=1`` == ``?a=1&b=2``);
  an empty query (bare ``?``) is dropped.

Non-``scheme://authority`` inputs are returned trimmed-as-is (never null),
so a malformed frontier row degrades to raw-equality semantics instead of
collapsing into one NULL key.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# scheme :// authority path ?query #fragment — RE2-compatible (no
# backrefs/lookaround) so the same pattern runs in DuckDB's regexp_extract
URL_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?(#.*)?$"


def _c(col) -> Column:
    return F.col(col) if isinstance(col, str) else col


def canonicalize_url(col) -> Column:
    """Canonical URL string per the module contract (pure JVM expressions)."""
    u = F.trim(_c(col))
    scheme = F.lower(F.regexp_extract(u, URL_RE, 1))
    auth = F.lower(F.regexp_extract(u, URL_RE, 2))
    path = F.regexp_extract(u, URL_RE, 3)
    query = F.regexp_extract(u, URL_RE, 4)  # includes leading '?' or ''

    auth = (F.when(scheme == "http", F.regexp_replace(auth, ":80$", ""))
            .when(scheme == "https", F.regexp_replace(auth, ":443$", ""))
            .otherwise(auth))
    path = F.when(path == "", F.lit("/")).otherwise(path)
    qbody = F.substring(query, 2, 1 << 20)  # strip the '?'
    query = F.when(
        F.length(qbody) == 0, F.lit("")).otherwise(
        F.concat(F.lit("?"),
                 F.concat_ws("&", F.array_sort(F.split(qbody, "&")))))

    canon = F.concat(scheme, F.lit("://"), auth, path, query)
    # no scheme://authority match -> regexp groups are all '' -> fall back
    return F.when(scheme == "", u).otherwise(canon)


def url_host(col) -> Column:
    """Lowercased host: authority with userinfo and port stripped — the
    politeness-bucket / robots-lookup / SURT key.  Keeping ``user@`` in
    the key would split politeness buckets and dodge robots rules for
    URLs spelled with credentials."""
    u = F.trim(_c(col))
    auth = F.regexp_extract(u, URL_RE, 2)
    return F.lower(F.regexp_replace(
        F.regexp_replace(auth, r"^[^@]*@", ""), r":\d+$", ""))


def surt_key(col) -> Column:
    """SURT (Sort-friendly URI Reordering Transform) key, the URL form
    Common Crawl's CDX index sorts by: host labels reversed and
    comma-joined, then ``)/`` + path + bytewise-sorted query —
    ``https://Sub.Example.COM/a/b?z=1&a=2`` → ``com,example,sub)/a/b?a=2&z=1``.
    Grouping a crawl by SURT prefix clusters a registrable domain's pages
    into contiguous sort ranges (the property CDX range queries rely on).
    Same canonicalization substrate as :func:`canonicalize_url`: lowercase
    host, no port, empty path → ``/``, empty query dropped; non-URL input
    yields NULL (a sort key, unlike the canonicalizer's raw fallback,
    must never mix key spaces)."""
    u = F.trim(_c(col))
    host = url_host(u)
    rev = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    path = F.regexp_extract(u, URL_RE, 3)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    qbody = F.substring(F.regexp_extract(u, URL_RE, 4), 2, 1 << 20)
    query = F.when(
        F.length(qbody) == 0, F.lit("")).otherwise(
        F.concat(F.lit("?"),
                 F.concat_ws("&", F.array_sort(F.split(qbody, "&")))))
    return F.when(host == "", F.lit(None).cast("string")).otherwise(
        F.concat(rev, F.lit(")/"), F.regexp_replace(path, "^/", ""),
                 query))
