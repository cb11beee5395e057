"""Read-amplification replay of the crawl's fetch scan.

Each wave, ``WaveEngine.run_wave`` pushes one ``url BETWEEN lo AND hi``
range per claimed host (capped at 256 ranges; above that the scan is
unpruned) onto the url-sorted ``pages`` parquet.  A row group survives when
its footer min/max url range overlaps any pushed range, and every row of a
surviving group is decompressed.  Replaying that rule against the footers,
with the claims the crawl itself recorded in ``extracted``, gives the rows
read per claimed URL as an exact count.
"""

from __future__ import annotations

from collections import defaultdict

MAX_RANGES = 256


def row_group_ranges(pages_path: str):
    """[(min, max, rows)] of the url column per row group; min/max None
    when stats are absent."""
    import pyarrow.parquet as pq
    md = pq.ParquetFile(pages_path).metadata
    idx = md.schema.to_arrow_schema().get_field_index("url")
    out = []
    for i in range(md.num_row_groups):
        rg = md.row_group(i)
        st = rg.column(idx).statistics
        if st is not None and st.has_min_max:
            out.append((st.min, st.max, rg.num_rows))
        else:
            out.append((None, None, rg.num_rows))
    return out


def replay(groups, claims) -> dict:
    """``groups`` from :func:`row_group_ranges`; ``claims`` an iterable of
    (url, host, wave_id).  Returns claims, rows_read, row_groups_read and
    rows_per_claim summed over all waves."""
    by_wave: dict[int, dict[str, list[str]]] = defaultdict(dict)
    n_claims = 0
    for url, host, wave in claims:
        lo_hi = by_wave[wave].get(host)
        if lo_hi is None:
            by_wave[wave][host] = [url, url]
        else:
            lo_hi[0] = min(lo_hi[0], url)
            lo_hi[1] = max(lo_hi[1], url)
        n_claims += 1
    rows = groups_read = 0
    for hosts in by_wave.values():
        ranges = list(hosts.values())
        for g_lo, g_hi, g_rows in groups:
            if (len(ranges) > MAX_RANGES or g_lo is None
                    or any(lo <= g_hi and hi >= g_lo for lo, hi in ranges)):
                rows += g_rows
                groups_read += 1
    return {"claims": n_claims, "rows_read": rows,
            "row_groups_read": groups_read,
            "rows_per_claim": rows / n_claims if n_claims else 0.0}
