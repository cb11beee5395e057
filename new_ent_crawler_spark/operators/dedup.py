"""URL-seen set: partition-local Bloom filters merged via treeAggregate,
pruning an exact left_anti join.

The reference delegates dedup to ``REPLACE INTO ... md5(key)``
(utils/MysqlDBHelper.py:22-31); the north_rule makes the seen set explicit.
Correctness rule (SURVEY.md §4): Bloom filters have false positives, so the
Bloom is a *pruning pre-filter only* —

* Bloom-negative candidates are **definitely new** → skip the anti-join.
* Bloom-positive candidates are *possibly seen* → exact ``left_anti`` join
  against the frontier decides.

At 10^10 URLs the Bloom is built from per-partition counts and merged with
``treeAggregate(depth=...)`` so raw URL sets never hit the driver; only the
bit array does (≈1.2 GB at 10^10 keys / 1% fpp — broadcast-able).

The crawl engine (plans/wave.py) passes no filter: its seen set is the
exact anti-join alone.  The Bloom and cuckoo filters back the oracled
``bloom_prune_new_keys`` and ``cuckoo_prune_new_keys`` queries.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class BloomFilter:
    """Bitarray Bloom over md5-derived hash pairs (Kirsch-Mitzenmacher
    double hashing).  Deterministic across driver and executors.

    The md5 is computed JVM-side (``F.md5``) wherever a DataFrame is in
    hand; the Python side only turns hex into uint64 pairs and does the bit
    arithmetic — fully numpy-vectorized (``add_many_hex`` /
    ``might_contain_many_hex``), so no per-row Python in the hot path.
    All index arithmetic wraps at 2^64 (numpy uint64 semantics) in both the
    scalar and vectorized paths, keeping them bit-identical."""

    _MASK = (1 << 64) - 1

    def __init__(self, n_bits: int, n_hashes: int):
        self.n_bits = n_bits
        self.n_hashes = n_hashes
        self.bits = np.zeros((n_bits + 7) // 8, dtype=np.uint8)

    @classmethod
    def sized(cls, expected: int, fpp: float = 0.01) -> "BloomFilter":
        expected = max(expected, 64)
        n_bits = max(64, int(-expected * math.log(fpp) / (math.log(2) ** 2)))
        n_hashes = max(1, int(round(n_bits / expected * math.log(2))))
        return cls(n_bits, min(n_hashes, 12))

    @staticmethod
    def _hex_pairs(hexes) -> tuple[np.ndarray, np.ndarray]:
        """Vectorized hex -> (h1, h2|1) uint64 arrays: one fromhex over the
        concatenated digests, one frombuffer — no per-row parsing."""
        raw = bytes.fromhex("".join(hexes))
        u = np.frombuffer(raw, dtype="<u8").reshape(-1, 2)
        return u[:, 0].copy(), (u[:, 1] | np.uint64(1))

    def _positions(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        ks = np.arange(self.n_hashes, dtype=np.uint64)
        with np.errstate(over="ignore"):
            mixed = h1[:, None] + ks[None, :] * h2[:, None]  # wraps at 2^64
        return (mixed % np.uint64(self.n_bits)).astype(np.int64)

    def add_many_hex(self, hexes) -> None:
        if len(hexes) == 0:
            return
        pos = self._positions(*self._hex_pairs(hexes)).ravel()
        np.bitwise_or.at(self.bits, pos >> 3,
                         np.uint8(1) << (pos & 7).astype(np.uint8))

    def might_contain_many_hex(self, hexes) -> np.ndarray:
        if len(hexes) == 0:
            return np.zeros(0, dtype=bool)
        pos = self._positions(*self._hex_pairs(hexes))
        hit = (self.bits[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1
        return hit.all(axis=1)

    # -- scalar string API (driver-side convenience, tests) ----------------

    @staticmethod
    def _hex(key: str) -> str:
        return hashlib.md5(key.encode("utf-8")).hexdigest()

    def add(self, key: str):
        self.add_many_hex([self._hex(key)])

    def might_contain(self, key: str) -> bool:
        return bool(self.might_contain_many_hex([self._hex(key)])[0])

    def merge(self, other: "BloomFilter") -> "BloomFilter":
        assert self.n_bits == other.n_bits
        np.bitwise_or(self.bits, other.bits, out=self.bits)
        return self


class CuckooFilter:
    """Bucketized cuckoo filter over md5-derived fingerprints — the
    north_star's named alternative to the Bloom seen-set, with DELETION
    (a Bloom cannot retire URLs; a cuckoo filter can, e.g. when frontier
    rows are evicted or a host is purged).

    Layout: ``n_buckets`` (power of two) × 4 slots of uint16 fingerprints
    (0 = empty; fingerprints are 1..65535, so fpp ≈ 2·slots/2^16 ≈ 0.012%).
    An item hashes to bucket ``i1 = h % n_buckets`` and its partner
    ``i2 = i1 XOR spread(fp)`` — an involution, so every stored
    (bucket, fp) pair can recover its alternate bucket, which makes two
    filters of the same shape MERGEABLE by re-inserting raw pairs (the
    treeReduce partition-build pattern, same as the Bloom).

    Membership checks are fully numpy-vectorized
    (``might_contain_many_hex``), and bulk inserts place all free-slot
    fingerprints in two vectorized scatters (primary then alternate
    bucket) with only the both-buckets-full residue walking the
    sequential bounded-kick path.  Same correctness rule as the Bloom: a
    cuckoo positive is *possibly seen* (exact anti-join decides), a
    negative is definitely new.

    Deletion carries the STANDARD cuckoo caveat: only delete keys known
    to have been inserted.  Deleting an un-inserted key whose (bucket,
    fingerprint) pair collides with a different stored key evicts that
    key's entry — a false negative for an item still present.  Deleting
    a key that WAS inserted is always safe: a colliding pair means two
    stored copies, and removing one leaves the other."""

    SLOTS = 4
    MAX_KICKS = 500

    def __init__(self, n_buckets: int):
        assert n_buckets & (n_buckets - 1) == 0, "n_buckets must be 2^k"
        self.n_buckets = n_buckets
        self.buckets = np.zeros((n_buckets, self.SLOTS), dtype=np.uint16)
        self.stash: set[tuple[int, int]] = set()  # (bucket, fp) overflow

    @classmethod
    def sized(cls, expected: int, load: float = 0.84) -> "CuckooFilter":
        need = max(64, int(expected / (cls.SLOTS * load)))
        return cls(1 << (need - 1).bit_length())

    # -- hashing -----------------------------------------------------------

    def _parts_many(self, hexes) -> tuple[np.ndarray, np.ndarray]:
        """(bucket1, fp) arrays from concatenated md5 hex digests."""
        raw = bytes.fromhex("".join(hexes))
        u = np.frombuffer(raw, dtype="<u8").reshape(-1, 2)
        i1 = (u[:, 0] % np.uint64(self.n_buckets)).astype(np.int64)
        fp = ((u[:, 1] & np.uint64(0xFFFF)) % np.uint64(65535)
              ).astype(np.uint16) + np.uint16(1)
        return i1, fp

    def _alt(self, i, fp) -> np.ndarray:
        # xor with a multiplicative spread of fp keeps the pairing an
        # involution and in-range for power-of-two bucket counts
        spread = (np.uint64(0x5BD1E995) * np.asarray(fp, dtype=np.uint64)
                  ) % np.uint64(self.n_buckets)
        return (np.asarray(i, dtype=np.uint64) ^ spread).astype(np.int64) \
            % self.n_buckets

    # -- scalar ops ----------------------------------------------------------

    def _insert_pair(self, i1: int, fp: int) -> None:
        i2 = int(self._alt(i1, fp))
        for idx in (i1, i2):
            row = self.buckets[idx]
            empty = np.flatnonzero(row == 0)
            if empty.size:
                row[empty[0]] = fp
                return
        # bounded kicks, deterministic victim slot from (kick, bucket)
        idx, cur = i1, np.uint16(fp)
        for kick in range(self.MAX_KICKS):
            slot = (kick + idx) % self.SLOTS
            cur, self.buckets[idx][slot] = self.buckets[idx][slot], cur
            idx = int(self._alt(idx, int(cur)))
            row = self.buckets[idx]
            empty = np.flatnonzero(row == 0)
            if empty.size:
                row[empty[0]] = cur
                return
        self.stash.add((idx, int(cur)))  # lossless overflow

    def _place_batch(self, idx: np.ndarray, fps: np.ndarray) -> np.ndarray:
        """Vectorized empty-slot placement: for each (bucket, fp) try to
        claim a free slot of ``idx``'s bucket in one bucket-centric pass
        (stable-sorted by bucket; item ``r`` of a bucket's group takes that
        bucket's ``r``-th free slot).  Returns the boolean placed-mask;
        callers route the residue to the alt bucket / per-item kicks."""
        order = np.argsort(idx, kind="stable")
        sidx = idx[order]
        ub, starts, counts = np.unique(sidx, return_index=True,
                                       return_counts=True)
        # rank of each sorted item within its bucket group
        rank = np.arange(sidx.size) - np.repeat(starts, counts)
        rows = self.buckets[ub]                       # (U, SLOTS)
        is_free = rows == 0
        free_count = is_free.sum(axis=1)              # (U,)
        # free slots first (stable): column j = the j-th free slot's index
        free_slots = np.argsort(~is_free, axis=1, kind="stable")
        grp = np.repeat(np.arange(ub.size), counts)
        can = rank < free_count[grp]
        placed_sorted = np.zeros(sidx.size, dtype=bool)
        placed_sorted[can] = True
        tgt_slot = free_slots[grp[can], rank[can]]
        self.buckets[sidx[can], tgt_slot] = fps[order][can]
        placed = np.zeros(idx.size, dtype=bool)
        placed[order] = placed_sorted
        return placed

    def add_many_hex(self, hexes) -> None:
        """Bulk insert.  Two vectorized passes place every fingerprint
        whose primary (then alternate) bucket still has a free slot — one
        numpy scatter each, no Python per item; only the collision residue
        (both buckets full) walks the sequential bounded-kick path, which
        at sane load factors is a tiny fraction of the batch."""
        if not len(hexes):
            return
        i1s, fps = self._parts_many(hexes)
        placed = self._place_batch(i1s, fps)
        if not placed.all():
            rem = ~placed
            i2s = self._alt(i1s[rem], fps[rem])
            fps2 = fps[rem]
            placed2 = self._place_batch(i2s, fps2)
            if not placed2.all():
                rem2 = ~placed2
                for i1, fp in zip(i1s[rem][rem2].tolist(),
                                  fps2[rem2].tolist()):
                    self._insert_pair(i1, fp)

    def add(self, key: str):
        self.add_many_hex([BloomFilter._hex(key)])

    def delete(self, key: str) -> bool:
        i1s, fps = self._parts_many([BloomFilter._hex(key)])
        i1, fp = int(i1s[0]), int(fps[0])
        for idx in (i1, int(self._alt(i1, fp))):
            row = self.buckets[idx]
            hit = np.flatnonzero(row == fp)
            if hit.size:
                row[hit[0]] = 0
                return True
            if (idx, fp) in self.stash:
                self.stash.discard((idx, fp))
                return True
        return False

    # -- vectorized membership (hot path) ------------------------------------

    def might_contain_many_hex(self, hexes) -> np.ndarray:
        if not len(hexes):
            return np.zeros(0, dtype=bool)
        i1, fp = self._parts_many(hexes)
        i2 = self._alt(i1, fp)
        hit = ((self.buckets[i1] == fp[:, None]).any(axis=1)
               | (self.buckets[i2] == fp[:, None]).any(axis=1))
        if self.stash:
            st = np.array([h in self.stash or a in self.stash
                           for h, a in zip(zip(i1.tolist(), fp.tolist()),
                                           zip(i2.tolist(), fp.tolist()))])
            hit |= st
        return hit

    def might_contain(self, key: str) -> bool:
        return bool(self.might_contain_many_hex([BloomFilter._hex(key)])[0])

    def merge(self, other: "CuckooFilter") -> "CuckooFilter":
        assert self.n_buckets == other.n_buckets
        nz = np.nonzero(other.buckets)
        for idx, fp in zip(nz[0].tolist(), other.buckets[nz].tolist()):
            self._insert_pair(idx, fp)
        for idx, fp in other.stash:
            self._insert_pair(idx, fp)
        return self


def build_cuckoo(urls: DataFrame, expected: int | None = None,
                 depth: int = 3) -> CuckooFilter:
    """Partition-local cuckoo filters merged via treeReduce — the same
    build shape as ``build_bloom`` (md5 runs JVM-side; raw URL sets never
    reach the driver)."""
    if expected is None:
        expected = urls.count()
    proto = CuckooFilter.sized(expected)
    n_buckets = proto.n_buckets
    hexes = urls.select(F.md5(F.col("url")).alias("h"))

    def part_filter(rows):
        cf = CuckooFilter(n_buckets)
        cf.add_many_hex([r[0] for r in rows])
        yield cf

    rdd = hexes.rdd.mapPartitions(part_filter)
    if rdd.isEmpty():
        return proto
    return rdd.treeReduce(lambda a, b: a.merge(b), depth=depth)


def build_bloom(urls: DataFrame, expected: int | None = None,
                fpp: float = 0.01, depth: int = 3) -> BloomFilter:
    """Partition-local Blooms merged via treeReduce (north_rule).  md5 runs
    JVM-side; each partition builds its Bloom with one vectorized pass."""
    if expected is None:
        expected = urls.count()
    proto = BloomFilter.sized(expected, fpp)
    n_bits, n_hashes = proto.n_bits, proto.n_hashes
    hexes = urls.select(F.md5(F.col("url")).alias("h"))

    def part_bloom(rows):
        bf = BloomFilter(n_bits, n_hashes)
        bf.add_many_hex([r[0] for r in rows])
        yield bf

    rdd = hexes.rdd.mapPartitions(part_bloom)
    if rdd.isEmpty():
        return proto
    return rdd.treeReduce(lambda a, b: a.merge(b), depth=depth)


def filter_new_urls(candidates: DataFrame, seen_urls: DataFrame,
                    bloom: BloomFilter | None,
                    seen_count: int | None = None,
                    broadcast_below: int = 4_000_000) -> DataFrame:
    """Candidates not yet in the seen set.

    ``candidates`` and ``seen_urls`` must both expose a ``url`` column.  With
    a Bloom, only the possibly-seen slice pays the anti-join shuffle; the
    definitely-new slice flows straight through.

    ``seen_count`` (if the caller already knows it — the wave engine reads
    the frontier size from its table metadata) gates a broadcast hint on
    the SEEN side of the exact anti-join: below ``broadcast_below`` rows
    (~a few hundred MB of url strings at the cap) the anti-join becomes a
    map-side broadcast probe and the per-wave shuffle of the whole seen set
    disappears.  Above it — the 10^10-frontier regime — the hint is
    withheld and the join shuffles (where an Iceberg seen table bucketed by
    url would prune instead).  Under the broadcast the Bloom pre-filter is
    skipped entirely (a map-side hash probe is cheaper than the Bloom's
    Python round trip).  Exactness is never traded: the Bloom only ever
    routes rows, the broadcast only changes the join strategy.
    """
    if seen_count is not None and seen_count < broadcast_below:
        return candidates.join(F.broadcast(seen_urls.select("url")),
                               "url", "left_anti")
    if bloom is None:
        return candidates.join(seen_urls.select("url"), "url", "left_anti")

    spark = candidates.sparkSession
    b = spark.sparkContext.broadcast(bloom)

    @F.pandas_udf("boolean")
    def maybe_seen(hexes: pd.Series) -> pd.Series:
        f = b.value
        return pd.Series(f.might_contain_many_hex(hexes.to_list()))

    tagged = candidates.withColumn(
        "_maybe_seen", maybe_seen(F.md5(F.col("url"))))
    definitely_new = tagged.filter(~F.col("_maybe_seen")).drop("_maybe_seen")
    suspects = tagged.filter(F.col("_maybe_seen")).drop("_maybe_seen")
    confirmed_new = suspects.join(seen_urls.select("url"), "url", "left_anti")
    return definitely_new.unionByName(confirmed_new)


def dedup_last_writer_wins(df: DataFrame, key_cols, order_col) -> DataFrame:
    """REPLACE INTO semantics: one row per key, newest ``order_col`` wins
    (utils/MysqlDBHelper.py:22-31 -> SURVEY.md §2.4)."""
    from pyspark.sql import Window
    w = Window.partitionBy(*key_cols).orderBy(F.col(order_col).desc(), "url")
    return (df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))
