"""The read-amplification replay on a hand-built 3-row-group parquet."""

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import readamp

URLS = [f"http://h{h}.test/p{i:02d}" for h in range(3) for i in range(4)]


@pytest.fixture
def pages(tmp_path):
    path = str(tmp_path / "pages.parquet")
    # url-sorted, 4 rows per group: group g holds host h{g}
    pq.write_table(pa.table({"url": URLS, "html": [b"x"] * len(URLS)}),
                   path, row_group_size=4)
    return path


def test_row_group_ranges(pages):
    groups = readamp.row_group_ranges(pages)
    assert groups == [(URLS[0], URLS[3], 4), (URLS[4], URLS[7], 4),
                      (URLS[8], URLS[11], 4)]


def test_replay_known_claims(pages):
    groups = readamp.row_group_ranges(pages)
    claims = [
        # wave 1: two claims on host h0 -> only group 0 is read
        (URLS[0], "h0.test", 1), (URLS[2], "h0.test", 1),
        # wave 2: h1 and h2 -> groups 1 and 2
        (URLS[5], "h1.test", 2), (URLS[9], "h2.test", 2),
        (URLS[11], "h2.test", 2),
    ]
    r = readamp.replay(groups, claims)
    assert r == {"claims": 5, "rows_read": 12, "row_groups_read": 3,
                 "rows_per_claim": 12 / 5}


def test_replay_range_spanning_groups(pages):
    groups = readamp.row_group_ranges(pages)
    # one host whose claimed urls straddle groups 0..2 reads all three
    r = readamp.replay(groups, [(URLS[1], "x", 1), (URLS[10], "x", 1)])
    assert r["row_groups_read"] == 3 and r["rows_read"] == 12


def test_replay_above_range_cap_is_unpruned(pages):
    groups = readamp.row_group_ranges(pages)
    claims = [(URLS[0], f"host{i}", 1)
              for i in range(readamp.MAX_RANGES + 1)]
    r = readamp.replay(groups, claims)
    assert r["row_groups_read"] == 3
    assert r["rows_per_claim"] == 12 / (readamp.MAX_RANGES + 1)


def test_replay_without_stats_reads_the_group():
    groups = [(None, None, 7), ("b", "c", 5)]
    r = readamp.replay(groups, [("a", "h", 1)])
    assert (r["rows_read"], r["row_groups_read"]) == (7, 1)
