"""WaveEngine: the crawl loop as Structured-Streaming-style micro-batches.

One wave = one micro-batch (the reference's 120 s dispatcher poll cycle,
dispatcher/dispatcher.py:35), executed as a DAG of DataFrame jobs:

    frontier snapshot ──filter + per-host windowed top-K (salted)──▶ claimed
      ──inner broadcast-hash join against `pages` (the simulated web) +
        left_anti for fetch misses──▶ fetched (html nullable)
      ──mapInPandas Arrow parse (extract text, classify, discover links)──▶
      ──explode links ▸ robots filter ▸ exact left_anti vs frontier──▶ new
      ──MERGE statuses + append new rows ▸ snapshot commit──▶ next wave

Scale notes (the design criteria this engine is judged on):

* The fetch join broadcasts the *claimed* side (bounded by Σ per-host
  budgets), so the 100 TB ``pages`` scan is a single pass with a hash probe
  — no shuffle.  With an Iceberg `pages` table bucketed by url the scan
  itself prunes to the claimed buckets.
* Dequeue is the only frontier-wide shuffle and it is salted two-phase
  top-K (operators/frontier.py) — registry-domain skew spreads over
  ``salt_buckets`` tasks.
* The seen-set check is one exact left_anti join of the wave's candidates
  against the frontier's url set (operators/dedup.py::filter_new_urls): a
  broadcast probe while the frontier holds fewer than
  ``SEEN_BROADCAST_BELOW`` rows, a shuffled anti-join above that.
* Every wave ends in an atomic snapshot commit of the frontier (the last
  write); crash mid-wave resumes from the previous frontier snapshot and
  rolls the append-only tables back to it (idempotent replay).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datetime import datetime, timezone

from ..operators import dedup as DD
from ..operators import frontier as FR
from ..operators import parse as PS
from ..operators import politeness as PL
from ..sources.snapshot import DeltaTable, SnapshotTable, read_parquet

ORDER_COLS = ["priority", "depth", "page_type_score", "enqueue_wave", "url"]
# frontier rows below which the seen-set anti-join broadcasts the frontier's
# url set (see DD.filter_new_urls); read per wave, so a test can patch it
SEEN_BROADCAST_BELOW = 4_000_000


def _control_schemas():
    import pyarrow as pa
    lineage = pa.schema([
        ("wave_id", pa.int64()), ("stage", pa.string()),
        ("partition_id", pa.int32()), ("urls_in", pa.int64()),
        ("urls_out", pa.int64()), ("dedup_hits", pa.int64()),
        ("ts", pa.timestamp("us", tz="UTC"))])
    budgets = pa.schema([
        ("host", pa.string()), ("tokens", pa.float64()),
        ("refill_rate", pa.float64()), ("capacity", pa.float64())])
    return lineage, budgets


LINEAGE_PA, BUDGETS_PA = _control_schemas()


class WaveEngine:
    def __init__(self, spark: SparkSession, data_dir: str, work_dir: str,
                 per_host_k: int = 4, max_waves: int = 64,
                 salt_buckets: int = 8,
                 expected_total_urls: int | None = None,
                 cache_pages: bool = True, compact_every: int = 8):
        """``expected_total_urls`` and ``cache_pages`` are accepted and
        ignored, because perfbench/crawl.py still passes them: the seen set
        is the frontier table itself, so there is no filter to size, and
        each wave reads ``pages`` from storage, pruned to the claimed url
        ranges."""
        self.spark = spark
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.per_host_k = per_host_k
        self.max_waves = max_waves
        self.salt_buckets = salt_buckets
        # frontier commits are merge-on-read deltas (O(wave) per wave, not
        # O(frontier)); fold them into a fresh base every `compact_every`
        # waves so the read-side merge stays a broadcast-sized anti-join.
        # Cadence 8 balances write amplification (each compaction rewrites
        # the whole frontier) against read amplification, which stays cheap
        # between compactions because a wave's delta is <= 8 status-
        # homogeneous files whose min/max footer stats the eligibility
        # scan prunes on (see append_delta below).
        self.compact_every = compact_every

        self.frontier_t = DeltaTable(os.path.join(work_dir, "frontier"),
                                     key_col="url")
        self.budgets_t = SnapshotTable(os.path.join(work_dir, "budgets"))
        self.extracted_t = SnapshotTable(os.path.join(work_dir, "extracted"))
        self.lineage_t = SnapshotTable(os.path.join(work_dir, "lineage"))
        # mean page size (set by drain()'s Arrow batch tuning; sizes the
        # pruned-scan coalesce)
        self._avg_page_bytes = 24 * 1024
        # pages-scan split count, planned once on the first wave (a session
        # constant: splits are sized before the pruning filter)
        self._scan_parts: int | None = None
        # politeness state lives driver-side between waves (budgets are
        # broadcast-bound, so they fit by construction); the budgets table
        # is still committed every wave for resume
        self._budgets_pdf = None
        # eligible frontier rows before the next wave: None makes that wave
        # count them; each wave leaves its exact pending_after here
        self._pending: int | None = None

    # -- inputs ------------------------------------------------------------

    def pages(self) -> DataFrame:
        """The crawl snapshot (url, warc_ts, html, ... per input_hint).

        INVARIANT: urls are unique.  Real Common-Crawl-style snapshots can
        carry duplicate captures of a url; dedup them at ingest (keep the
        latest warc_ts) — the per-wave fetch-miss detection counts hits
        against claims and duplicate hits would mask misses.  The wave loop
        fails loudly on the first wave where n_hits > n_claimed.
        """
        return read_parquet(self.spark,
                            os.path.join(self.data_dir, "pages.parquet"))

    def seeds(self) -> DataFrame:
        return read_parquet(self.spark,
                            os.path.join(self.data_dir, "seeds.parquet"))

    def robots(self) -> DataFrame:
        return read_parquet(self.spark,
                            os.path.join(self.data_dir, "robots.parquet"))

    # -- lifecycle -----------------------------------------------------------

    def _init_state(self, seeds: DataFrame | None = None):
        """Commit wave 0: the frontier seeded from ``seeds`` (default: the
        data dir's seed list) and the per-host budgets from robots."""
        # seeding is a constants-projection over the seed list plus a
        # robots->budgets projection; when the footers say an input is
        # small, run it driver-side with pyarrow (two Spark jobs per crawl
        # start otherwise — per-run fixed cost on the scaling legs).  The
        # two paths are pinned equal by tests/test_wave_engine.py.
        import pyarrow.parquet as pq

        from ..parquet_meta import footer_rows

        def _small(path):
            n = footer_rows(path)
            return n is not None and n <= 2_000_000

        seeds_p = os.path.join(self.data_dir, "seeds.parquet")
        robots_p = os.path.join(self.data_dir, "robots.parquet")
        if seeds is None and _small(seeds_p):
            frontier_pa = FR.init_frontier_pa(pq.read_table(seeds_p))
            self.frontier_t.overwrite_rows(frontier_pa, frontier_pa.schema,
                                           meta={"wave": 0})
        else:
            frontier = FR.init_frontier(
                self.seeds() if seeds is None else seeds)
            self.frontier_t.overwrite(frontier, meta={"wave": 0})
        if _small(robots_p):
            self._budgets_pdf = PL.init_budgets_pd(
                pq.read_table(robots_p).to_pandas(), self.per_host_k)
        else:
            self._budgets_pdf = (
                PL.init_budgets(self.robots(), self.per_host_k).toPandas())
        self.budgets_t.overwrite_rows(self._budgets_pdf, BUDGETS_PA,
                                      meta={"wave": 0})

    def _budgets(self):
        if self._budgets_pdf is None:  # resume: reload committed state
            # driver-side: the table is broadcast-sized and pyarrow-written
            import pyarrow as pa
            import pyarrow.parquet as pq
            self._budgets_pdf = pa.concat_tables(
                [pq.read_table(p) for p in self.budgets_t._paths()]
            ).to_pandas()
        return self._budgets_pdf

    def _commit_budgets(self, wave: int):
        self.budgets_t.overwrite_rows(self._budgets_pdf, BUDGETS_PA,
                                      meta={"wave": wave})

    def _rollback_appends(self, wave: int):
        """Align the other tables with the frontier commit point."""
        for t in (self.extracted_t, self.lineage_t, self.budgets_t):
            m = t._read_manifest()
            good = [s for s in m["snapshots"] if s["meta"].get("wave", 0) <= wave]
            if m["current"] is not None and good:
                t.rollback_to(good[-1]["id"])
            elif m["current"] is not None and not good:
                m["current"] = None
                t._commit(m)

    def last_wave(self) -> int:
        return self.frontier_t.meta().get("wave", 0)

    def add_seeds(self, seeds: DataFrame) -> None:
        """Add a seed batch (the ``seeds.parquet`` schema) to the frontier.

        An engine with no state takes the batch as its wave-0 frontier.
        Otherwise the batch's URLs that the frontier does not hold yet are
        committed as one delta at the current wave, so the next wave can
        claim them."""
        if not self.frontier_t.exists():
            self._init_state(seeds)
            return
        wave = self.last_wave()
        new = FR.init_frontier(seeds).join(self.frontier_t.keys(self.spark),
                                           "url", "left_anti")
        self.frontier_t.append_delta(new, version=wave, meta={"wave": wave})

    # -- one micro-batch -----------------------------------------------------

    def run_wave(self, wave: int, pages: DataFrame) -> dict:
        import time as _time
        timings = {}

        def _t(name, t0):
            timings[name] = round(_time.perf_counter() - t0, 2)
            return _time.perf_counter()

        t0 = _time.perf_counter()
        spark = self.spark
        # the merged frontier feeds only the dequeue (and, on a drain's
        # first wave, the pending count); the seen-set anti-join reads the
        # unmerged keys (DeltaTable.keys), so nothing re-reads the merge
        frontier = self.frontier_t.read(spark)
        budgets_pdf = self._budgets()
        t0 = _t("rs_plan", t0)   # manifest read + merge-on-read DAG build

        grants = spark.createDataFrame(PL.grants_pd(budgets_pdf),
                                       "host string, grant int")
        claimed = FR.dequeue(frontier, grants, self.salt_buckets)
        claimed = claimed.persist()
        t0 = _t("dq_plan", t0)   # driver-side dequeue DAG build
        # one job: materialize the claim cache AND produce the per-host
        # claim counts (feeds the driver-side budget spend) — per-wave fixed
        # job count bounds scaling.  Only a drain's first wave also counts
        # the eligible frontier (resume, seeds added since the last drain);
        # every later wave starts from the previous wave's exact
        # pending_after
        head = (claimed.groupBy("host")
                .agg(F.count("*").alias("n"),
                     F.min("url").alias("lo"), F.max("url").alias("hi")))
        if self._pending is None:
            head = head.unionByName(
                frontier.filter(FR.eligibility_predicate())
                .agg(F.count("*").alias("n"))
                .select(F.lit("\0pending").alias("host"), "n",
                        F.lit(None).cast("string").alias("lo"),
                        F.lit(None).cast("string").alias("hi")))
        head_rows = head.collect()
        used = {r.host: r.n for r in head_rows if r.host != "\0pending"}
        # per-host claimed url ranges, for row-group pruning of the fetch
        # scan (comes back on the same fused head job — no extra job)
        url_bounds = [(r.lo, r.hi) for r in head_rows
                      if r.host != "\0pending" and r.lo is not None]
        pending = next((r.n for r in head_rows if r.host == "\0pending"),
                       self._pending)
        self._pending = None  # until this wave commits its pending_after
        n_claimed = sum(used.values())
        t0 = _t("dequeue", t0)   # the fused head job (dequeue + claim cache)
        stats = {"wave": wave, "claimed": n_claimed,
                 "pending_before": pending, "timings": timings}
        if n_claimed == 0:
            self._pending = pending  # nothing committed
            claimed.unpersist()
            return stats

        # fetch = broadcast-hash probe of the big pages scan: the *claimed*
        # rows (small: bounded by politeness budgets) are the broadcast build
        # side; the html payloads stay distributed on the pages side — never
        # broadcast page bytes.
        #
        # Scan pruning: the pages table is url-sorted, so each parquet row
        # group carries tight min/max url stats; pushing the claimed per-host
        # url ranges as an OR-of-BETWEEN filter lets the scan SKIP every row
        # group outside them before touching the html column — the vanilla-
        # parquet analog of an Iceberg scan pruning to claimed buckets.  A
        # small wave (seeds only, a few hosts) then reads a few percent of
        # the corpus instead of all of it.  The filter is a superset of the
        # claims (the join stays exact); capped at 256 ranges so the pushed
        # predicate never explodes on a 10^5-host frontier — beyond that the
        # full scan was inevitable anyway.
        page_src = pages.select("url", "html")
        bound_pred = None
        if 0 < len(url_bounds) <= 256:
            # ONE parsed SQL expression instead of a Column-algebra fold:
            # per-host Column ops cost 2 py4j round trips per range per
            # wave — driver-serial fixed cost on every leg size
            def _q(s: str) -> str:
                return s.replace("\\", "\\\\").replace("'", "\\'")
            bound_pred = F.expr(" OR ".join(
                f"url BETWEEN '{_q(lo)}' AND '{_q(hi)}'"
                for lo, hi in url_bounds))
            page_src = page_src.filter(bound_pred)
        hits = page_src.join(F.broadcast(claimed), "url", "inner")

        # the probe output inherits the pages scan's partitioning (parquet
        # splits at local scale, claimed buckets at Iceberg scale).  Only
        # re-spread the page bytes when the scan has fewer partitions than
        # cores — shuffling ~wave-size of html per wave costs more than the
        # imbalance it fixes when the splits already cover the cores
        cores = self.spark.sparkContext.defaultParallelism
        # the scan split count is a session constant (file splits are sized
        # before the per-wave pruning filter runs), but .rdd forces a full
        # analysis->physical-planning pass that the later action re-does and
        # discards — driver-serial fixed cost that no parallelism removes.
        # Plan it once, reuse the count.
        if self._scan_parts is None:
            self._scan_parts = hits.rdd.getNumPartitions()
        src_parts = self._scan_parts
        if src_parts < cores:
            n_par = int(max(cores, min(512, n_claimed // 400), 8))
            hits = hits.repartition(n_par, "url")
        elif bound_pred is not None:
            # file splits are fixed before the pruning filter runs, so a
            # small wave would otherwise schedule every split as a task
            # that opens a footer and skips — coalesce the pruned scan to
            # the claim-sized task count (merged splits skip their pruned
            # row groups for the cost of a stats check)
            est_parts = int(max(2 * cores,
                                (n_claimed * self._avg_page_bytes)
                                // (16 * 2**20) + 1))
            if est_parts < src_parts:
                hits = (page_src.coalesce(est_parts)
                        .join(F.broadcast(claimed), "url", "inner"))
        parsed_hits = PS.parse_pages(hits).persist()

        def _ext_cols(df):
            return (df.select("url", "host", "company", "seed_id", "keyword",
                              "status", "text",
                              *[c for c in ORDER_COLS if c != "url"])
                    .withColumn("wave_id", F.lit(wave).cast("long")))

        # extracted text (judged bytes) + crawl-order log columns.  The
        # append is the wave's ONE materialization of the parse (it also
        # fills the cache); the hit count then comes free from the written
        # parquet footers, so the fetch-miss branch below (a driver-serial
        # broadcast build + anti-join + parse + union) is built ONLY when a
        # claim actually missed; the common wave has zero misses.
        t0 = _t("px_plan", t0)  # driver-side DAG build up to the write job
        snap = self.extracted_t.append(_ext_cols(parsed_hits),
                                       meta={"wave": wave})
        t0 = _t("px_write", t0)  # the wave's one parse materialization job
        n_hits = self.extracted_t.dir_rows(snap["dirs"][-1])
        t0 = _t("px_footer", t0)

        # miss detection relies on the pages table having UNIQUE urls (see
        # pages() docstring).  With duplicate captures a duplicate hit
        # could exactly offset a missed claim (n_hits == n_claimed with a
        # miss), so the missed URL would silently stay eligible forever.  A
        # dup that is NOT offset by a miss shows up as n_hits > n_claimed —
        # fail loudly there so a violated invariant surfaces on the first
        # non-masked wave instead of livelocking.
        if n_hits > n_claimed:
            raise RuntimeError(
                f"wave {wave}: {n_hits} fetch hits for {n_claimed} claimed "
                "urls — the pages table has duplicate captures per url; "
                "dedup it at ingest (keep latest warc_ts)")
        missing = None
        if n_hits == n_claimed:
            parsed = parsed_hits
        else:
            # fetch misses: the claims with no page, found by a url-only
            # anti-join against the PERSISTED parse output (the pages table
            # is probed once per wave), go through the same page rule with
            # no content — urlspec.analyze makes them error rows, which later
            # waves claim again while crawler_count < MAX_ATTEMPTS
            missing = PS.parse_pages(
                claimed.join(F.broadcast(parsed_hits.select("url")),
                             "url", "left_anti")
                .withColumn("html", F.lit(None).cast("binary")))
            # coalesce the (tiny) miss branch before the union: claimed
            # carries the dequeue's shuffle partitioning, and a union has no
            # exchange boundary for AQE to coalesce, so without this every
            # downstream stage of `parsed` would run parse-partitions +
            # shuffle-partitions near-empty tasks per wave
            missing = missing.coalesce(1).persist()
            parsed = parsed_hits.unionByName(missing)
            # the error rows belong to the judged extracted table too —
            # a rare second (tiny) append in the same wave snapshot
            self.extracted_t.append(_ext_cols(missing), meta={"wave": wave})
        t0 = _t("parse_extract", t0)

        # discovered links -> robots gate -> per-url dedup -> seen-set
        # subtraction.  The robots broadcast filter runs BEFORE the dedup so
        # the groupBy exchange never carries disallowed rows, and the dedup
        # is a hash aggregate (map-side combine collapses duplicate claims
        # inside each parse task before the shuffle) rather than a
        # sort-window over every claim
        candidates = PS.dedup_candidates(
            PL.robots_allowed(PS.explode_links(parsed, wave_id=wave),
                              self.robots()))
        candidates = candidates.persist()
        # seen side = the frontier's url set, read unmerged (a url once per
        # base or delta version holding it: the anti-join result is the
        # same); its size comes from the footers of the same dirs
        new_urls = DD.filter_new_urls(candidates,
                                      self.frontier_t.keys(spark), None,
                                      seen_count=self.frontier_t.approx_rows(),
                                      broadcast_below=SEEN_BROADCAST_BELOW
                                      ).persist()
        t0 = _t("cd_plan", t0)   # driver-side candidates/new-urls DAG build
        # ONE control-collect job materializes both caches and yields the
        # candidate/new counters, the per-partition lineage counters, and
        # the blocked-host set — per-wave fixed job count is what bounds
        # scaling once the parse stage is fast (Amdahl), so every small
        # action is fused into this single collect: the three counters are
        # tagged rows of one union under one groupBy(kind, pid), one
        # exchange.
        #
        # "c" column = rows that will still be claim-eligible AFTER this
        # wave's delta commits: the eligibility predicate over the claims'
        # post-wave rows (`updated`, which the delta commits) and over the
        # new rows.  With these two counters the wave knows the exact
        # post-commit pending count, so drain() can stop without a probe
        # wave (a full dequeue job whose only output is pending == 0).
        updated = parsed.withColumn(
            "crawler_count", (F.col("crawler_count") + 1).cast("int"))
        eligible = FR.eligibility_predicate().cast("long")
        zero = F.lit(0).cast("long")
        no_host = F.lit(None).cast("string")
        ctrl = (
            updated.select(
                F.lit("parse").alias("kind"),
                F.spark_partition_id().alias("pid"),
                F.coalesce(F.size("links"), F.lit(0)).cast("long").alias("b"),
                eligible.alias("c"),
                F.when(F.col("blocked"), F.col("host")).alias("h"))
            .unionByName(candidates.select(
                F.lit("cand").alias("kind"), F.lit(-1).alias("pid"),
                zero.alias("b"), zero.alias("c"), no_host.alias("h")))
            .unionByName(new_urls.select(
                F.lit("new").alias("kind"), F.lit(-1).alias("pid"),
                zero.alias("b"), eligible.alias("c"), no_host.alias("h")))
            .groupBy("kind", "pid")
            .agg(F.count("*").alias("a"), F.sum("b").alias("b"),
                 F.sum("c").alias("c"),
                 F.concat_ws("\x01", F.collect_set("h")).alias("s"))
            .collect())
        n_candidates = sum(r.a for r in ctrl if r.kind == "cand")
        n_new = sum(r.a for r in ctrl if r.kind == "new")
        n_still_eligible = sum(r.c or 0 for r in ctrl if r.kind == "parse")
        n_new_eligible = sum(r.c or 0 for r in ctrl if r.kind == "new")
        blocked = set()
        for r in ctrl:
            if r.kind == "parse" and r.s:
                blocked.update(r.s.split("\x01"))
        t0 = _t("candidates_dedup", t0)

        # lineage rows (a handful of counters per wave) commit driver-side
        # — no Spark write job
        now = datetime.now(timezone.utc)
        lin = [(wave, "parse", r.pid, r.a, r.b, 0, now)
               for r in ctrl if r.kind == "parse"]
        lin.append((wave, "dedup", -1, n_candidates, n_new,
                    n_candidates - n_new, now))
        self.lineage_t.append_rows(lin, LINEAGE_PA, meta={"wave": wave})

        t0 = _t("lineage", t0)
        # budgets: spend claims, refill, cool down blocked hosts — pure
        # driver-side pandas (the per-host claim counts came back with the
        # head job) plus a metadata-sized commit
        self._budgets_pdf = PL.spend_and_refill_pd(budgets_pdf, used, blocked)
        self._commit_budgets(wave)

        t0 = _t("budgets", t0)
        # frontier commit = one O(wave) merge-on-read delta: the claimed
        # rows as upserts with their post-parse status and crawler_count+1
        # (`updated`, a pure SELECT off the persisted parse cache — no
        # claimed⋈parsed shuffle join), plus the newly discovered pending
        # rows.  The delta is bounded by the politeness budgets, so at
        # 10^10-frontier scale this write stays wave-sized, where rewriting
        # the frontier would be an O(frontier) write and shuffle join per
        # wave.
        # a wave's delta is small: keep it in a few files so the per-wave
        # re-read doesn't accumulate hundreds of tiny tasks.  The two
        # branches are coalesced SEPARATELY (no extra shuffle — union just
        # concatenates their partitions) because they are status-
        # homogeneous: claim updates carry post-parse statuses (mostly
        # >= 3), new rows are all pending (0).  Homogeneous files give the
        # next wave's eligibility filter (status < 2) row-group min/max
        # stats it can prune on — the vanilla-parquet analog of
        # partitioning the frontier by status (Iceberg: a status partition
        # spec), keeping the dequeue scan O(pending) as the crawled
        # fraction grows.  Files holding retryable errors (status 1) stay
        # unprunable by min/max — correct: they contain eligible rows.
        delta = (updated.select(*FR.FRONTIER_COLS)
                 .coalesce(4)
                 .unionByName(new_urls.select(*FR.FRONTIER_COLS)
                              .coalesce(4)))
        t0 = _t("fm_plan", t0)   # driver-side delta DAG build
        self.frontier_t.append_delta(delta, version=wave,
                                     meta={"wave": wave})
        t0 = _t("fm_write", t0)  # the delta write job
        if self.frontier_t.n_deltas() >= self.compact_every:
            self.frontier_t.compact(self.spark, version=wave,
                                    n_files=max(16, cores))

        _t("frontier_merge", t0)
        # exact post-commit pending count: unclaimed eligible rows + claims
        # that stayed retryable + eligible new rows (see the "c" counter
        # above); the next wave of this drain starts from it
        self._pending = (pending - n_claimed
                         + n_still_eligible + n_new_eligible)
        stats.update({"candidates": n_candidates, "new": n_new,
                      "pending_after": self._pending})
        claimed.unpersist()
        parsed_hits.unpersist()
        candidates.unpersist()
        new_urls.unpersist()
        if missing is not None:
            missing.unpersist()
        return stats

    def run(self, resume: bool = True) -> list[dict]:
        """Crawl from the data dir's seed list (or resume the work dir's
        state) until the frontier drains or ``max_waves``."""
        if not (resume and self.frontier_t.exists()):
            self._init_state()
        return self.drain()

    def drain(self) -> list[dict]:
        """Run waves from the last committed one until the frontier has no
        eligible row or ``max_waves`` is reached; returns the per-wave
        stats.  The one crawl loop: ``run()`` and the stream front end
        (streaming/stream.py) both call it."""
        start = self.last_wave()
        self._rollback_appends(start)
        self._budgets_pdf = None  # reload politeness state post-rollback
        self._pending = None  # the first wave counts the eligible frontier
        pages = self.pages().select("url", "html")
        # bytes-bounded Arrow batches for the parse stage (row cap derived
        # from the parquet footers' per-column byte stats — driver-side,
        # no Spark job)
        rows_per_batch = PS.tune_arrow_batch(
            self.spark, os.path.join(self.data_dir, "pages.parquet"))
        self._avg_page_bytes = max(1024, (16 * 2**20) // rows_per_batch)
        all_stats = []
        for wave in range(start + 1, self.max_waves + 1):
            stats = self.run_wave(wave, pages)
            if stats["pending_before"] == 0:
                break  # probe wave: no eligible rows, nothing committed
            all_stats.append(stats)
            if stats.get("pending_after") == 0:
                # the wave's own fused counters prove the frontier is
                # drained — stop here instead of paying a probe wave whose
                # only output is pending == 0 (per-run fixed cost on every
                # leg of the scaling bench)
                break
            if stats["claimed"] == 0 and stats["pending_before"] > 0:
                # tokens exhausted; refill and keep going
                self._budgets_pdf = PL.spend_and_refill_pd(
                    self._budgets(), {})
                self._commit_budgets(wave)
        return all_stats

    # -- outputs -------------------------------------------------------------

    def extracted(self) -> DataFrame:
        return self.extracted_t.read(self.spark)

    def frontier(self) -> DataFrame:
        return self.frontier_t.read(self.spark)

    def seen_urls(self) -> list[str]:
        return sorted(r.url for r in self.frontier_t.keys(self.spark)
                      .distinct().collect())

    def crawl_order(self) -> list[tuple]:
        """Deterministic crawl-order log: (wave, url) sorted by the priority
        total order within each wave (SURVEY.md §4 determinism notes)."""
        rows = (self.extracted()
                .select("wave_id", "priority", "depth", "page_type_score",
                        "enqueue_wave", "url")
                .orderBy("wave_id", F.col("priority").desc(), "depth",
                         F.col("page_type_score").desc(), "enqueue_wave",
                         "url")
                .collect())
        return [(r.wave_id, r.url) for r in rows]
