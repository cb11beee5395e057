"""Custom stateful streaming operators via ``applyInPandasWithState``.

The batch engine's URL-seen set is an exact left_anti join per wave against
its frontier (operators/dedup.py::filter_new_urls).  In continuous operation the same semantics are a
*stateful streaming* operator: per-host state holding the set of url hashes
seen so far; each micro-batch emits only first-occurrence rows and folds the
rest into state.  This mirrors the reference's REPLACE-INTO-md5 dedup
(utils/MysqlDBHelper.py:22-31) as GroupState instead of a MySQL unique key.

State is keyed by host — the same partitioning the politeness layer uses —
so one host's state lives on one executor and the shuffle that feeds the
operator is the same shuffle the token-bucket accounting needs anyway.
State size per host is bounded by storing xxhash64(url) longs, not urls
(8 B/URL; a 10^6-URL host is 8 MB of state — RocksDB state store territory,
configured via spark.sql.streaming.stateStore.providerClass at real scale).
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (ArrayType, LongType, StringType, StructField,
                               StructType)

SEEN_OUTPUT = StructType([
    StructField("host", StringType()),
    StructField("url", StringType()),
])
SEEN_STATE = StructType([
    StructField("hashes", ArrayType(LongType())),
])


def _seen_filter_fn(key: Any, pdfs: Iterable[pd.DataFrame],
                    state: GroupState) -> Iterator[pd.DataFrame]:
    seen: set[int] = set(state.get[0]) if state.exists else set()
    host = key[0]
    for pdf in pdfs:
        # xxhash64 is applied upstream JVM-side; this stage only tests sets
        fresh = pdf[~pdf["url_hash"].isin(seen)]
        fresh = fresh.drop_duplicates(subset=["url_hash"])
        seen.update(int(h) for h in fresh["url_hash"])
        if len(fresh):
            yield fresh[["host", "url"]]
    state.update((list(seen),))


def streaming_seen_filter(stream: DataFrame) -> DataFrame:
    """First-occurrence filter over a stream of (host, url, url_hash):
    emits each (host, url_hash) once across ALL micro-batches.  Input must
    carry ``url_hash`` (xxhash64(url), computed JVM-side so the Python
    stage never hashes strings row-by-row)."""
    return (stream
            .groupBy("host")
            .applyInPandasWithState(
                _seen_filter_fn,
                outputStructType=SEEN_OUTPUT,
                stateStructType=SEEN_STATE,
                outputMode="append",
                timeoutConf=GroupStateTimeout.NoTimeout))
