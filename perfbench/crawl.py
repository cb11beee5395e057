"""The crawl_bigpage workload: a seeded synthetic registry web of
Common-Crawl-sized pages, crawled by ``WaveEngine.run()`` and checked
against the single-process ``Simulator``.

Layers are measured from outside the engine: the per-wave ``timings`` and
counters that ``run()`` returns, the work directory it leaves, the Spark
event log (jobs tagged per wave by :class:`TracedEngine`), and the public
parse-kernel functions of ``oracle.urlspec`` timed over the same corpus.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass

import eventlog
import procstat
import readamp
from metrics import CORES, Pass, median_dicts
from new_ent_crawler_spark.plans.wave import WaveEngine

CORPUS = {"n_hosts": 8, "companies_per_host": 6, "filler_kb": 144}
# The politeness budget binds from wave 3 on: each host holds more pending
# pages than its per-wave grant (per_host_k, then per_host_k / crawl_delay
# as tokens refill), so a wave claims nearly the same number of URLs
# whatever the seed (48, 40-47, 562-640, 465-543 for waves 1-4), while which
# pages, their size and links follow the seed.  The pages table is scanned,
# not cached, every wave (the scale design).  The frontier is compacted once,
# after wave 3's delta, so wave 4 dequeues from a compacted base.
ENGINE = {"per_host_k": 80, "max_waves": 4, "cache_pages": False,
          "compact_every": 3, "expected_total_urls": 20_000}
# the warm-up crawl: the first wave of the same corpus, which runs the
# session's first Python workers and compiles most of a wave's plans
WARMUP_WAVES = 1
# wave phases whose name ends in _plan are driver-side DAG builds
PLAN_PHASES = ("rs_plan", "dq_plan", "px_plan", "cd_plan", "fm_plan")


@dataclass
class Reference:
    """Golden outputs of one corpus: the simulator's crawl order and seen
    set, and pages.text of every URL it extracted."""
    order: list
    seen: list
    text: dict


def build_corpus(web_dir: str, seed: int) -> dict:
    from new_ent_crawler_spark.synth import webgen
    shutil.rmtree(web_dir, ignore_errors=True)
    return webgen.generate(web_dir, seed=seed, extract_procs=1, **CORPUS)


def reference(web_dir: str) -> Reference:
    import pyarrow.parquet as pq

    from new_ent_crawler_spark.simulator import Simulator
    from new_ent_crawler_spark.synth import webgen
    seeds = pq.read_table(os.path.join(web_dir, "seeds.parquet")).to_pylist()
    robots = {r["host"]: (r["disallow"], r["crawl_delay"]) for r in
              pq.read_table(os.path.join(web_dir, "robots.parquet"))
              .to_pylist()}
    sim = Simulator(webgen.load_fetch(web_dir), seeds, robots,
                    per_host_k=ENGINE["per_host_k"],
                    max_waves=ENGINE["max_waves"])
    sim.run()
    golden = pq.read_table(os.path.join(web_dir, "pages.parquet"),
                           columns=["url", "text"])
    text = {u: t for u, t in zip(golden.column("url").to_pylist(),
                                 golden.column("text").to_pylist())
            if u in sim.extracted}
    return Reference(order=sim.crawl_order(), seen=sim.seen_urls(),
                     text=text)


class TimedEngine(WaveEngine):
    """Records each wave's wall seconds around ``run_wave``."""

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.wave_walls: dict[int, float] = {}

    def run_wave(self, wave, pages):
        t0 = time.perf_counter()
        stats = super().run_wave(wave, pages)
        self.wave_walls[wave] = time.perf_counter() - t0
        return stats


class TracedEngine(TimedEngine):
    """Tags each wave's Spark jobs with the group ``<tag>-wave-<k>`` (jobs
    outside waves with ``<tag>-run``) and records the wave's wall start, so
    the event log can be folded per wave and, through the returned
    timings, per phase."""

    def __init__(self, *args, tag: str, **kwargs):
        super().__init__(*args, **kwargs)
        self.tag = tag
        self.wave_spans: dict[str, tuple[float, list]] = {}

    def run_wave(self, wave, pages):
        sc = self.spark.sparkContext
        group = f"{self.tag}-wave-{wave}"
        sc.setJobGroup(group, group)
        start_ms = time.time() * 1000.0
        stats = super().run_wave(wave, pages)
        self.wave_spans[group] = (start_ms, list(stats["timings"].items()))
        sc.setJobGroup(f"{self.tag}-run", "outside waves")
        return stats

    def run(self, resume: bool = True):
        sc = self.spark.sparkContext
        sc.setJobGroup(f"{self.tag}-run", "outside waves")
        try:
            return super().run(resume=resume)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)


def check(eng, ref: Reference) -> set:
    """URLs that are missing, extra, crawled in another wave or order, or
    whose extracted text is not byte-identical to the golden pages.text."""
    from pyspark.sql import functions as F
    bad = set()
    order = eng.crawl_order()
    got_wave = {u: w for w, u in order}
    want_wave = {u: w for w, u in ref.order}
    bad.update(u for u in got_wave.keys() | want_wave.keys()
               if got_wave.get(u) != want_wave.get(u))
    if not bad and order != ref.order:
        bad.update(a[1] for a, b in zip(order, ref.order) if a != b)
    bad.update(set(eng.seen_urls()) ^ set(ref.seen))
    got_text = {r.url: r.text for r in eng.extracted()
                .filter(F.col("text").isNotNull()).select("url", "text")
                .collect()}
    bad.update(u for u in got_text.keys() | ref.text.keys()
               if got_text.get(u) != ref.text.get(u))
    return bad


class Workload:
    """crawl_bigpage, driven by run.py: prepare, warm up,
    timed passes, then the per-layer figures of the traced passes."""

    # the corpus (about 60 MB) and a crawl's work dirs
    need_disk_mb = 512

    def __init__(self, work_root: str, seed: int):
        self.seed = seed
        self.web = os.path.join(work_root, "web")
        self.work = os.path.join(work_root, "crawl_work")
        self.corpus: dict = {}
        self.ref: Reference | None = None
        self.wave_spans: dict = {}
        self.last_layers: dict = {}

    def prepare(self) -> None:
        self.corpus = build_corpus(self.web, self.seed)
        self.ref = reference(self.web)

    def warm_up(self, spark) -> None:
        """A throwaway crawl of the corpus's first wave(s) in the session
        the passes will use."""
        shutil.rmtree(self.work, ignore_errors=True)
        WaveEngine(spark, self.web, self.work,
                   **{**ENGINE, "max_waves": WARMUP_WAVES}).run(resume=False)
        shutil.rmtree(self.work, ignore_errors=True)

    def run_pass(self, spark, jvm_pid: int | None,
                 tag: str | None = None) -> Pass:
        """One crawl from a fresh work dir.  Only ``run()`` is timed; the
        checks run after it.  A tagged (traced) pass also records the
        snapshot and scan layers of the work dir it leaves."""
        shutil.rmtree(self.work, ignore_errors=True)
        if tag is None:
            eng = TimedEngine(spark, self.web, self.work, **ENGINE)
        else:
            eng = TracedEngine(spark, self.web, self.work, tag=tag, **ENGINE)
        cpu0 = procstat.tree_cpu_s()
        py0 = procstat.python_worker_cpu_s(jvm_pid)
        t0 = time.perf_counter()
        stats = eng.run(resume=False)
        seconds = time.perf_counter() - t0
        cpu_s = procstat.tree_cpu_s() - cpu0
        py_cpu_s = procstat.python_worker_cpu_s(jvm_pid) - py0
        urls = sum(s["claimed"] for s in stats)
        bad = check(eng, self.ref)
        if tag is not None:
            self.wave_spans.update(eng.wave_spans)
            self.last_layers = {**snapshot_layers(self.work, urls),
                                **scan_layers(eng, self.web)}
            if self.last_layers["snapshot.compactions"] < 1:
                raise RuntimeError("the traced crawl compacted no frontier")
        return Pass(seconds=seconds, items=urls,
                    steps=[eng.wave_walls[s["wave"]] for s in stats],
                    cpu_s=cpu_s, python_cpu_s=py_cpu_s,
                    attempted=len(set(self.ref.seen) | bad),
                    failed=sorted(bad), extra={"stats": stats})

    def detail(self, passes: list[Pass]) -> dict:
        return {"corpus": self.corpus, "pass_s": [p.seconds for p in passes],
                "urls": [p.items for p in passes],
                # px_write's share of run(): the parse and pages scan
                "px_write_share": [
                    sum(s["timings"].get("px_write", 0.0)
                        for s in p.extra["stats"]) / p.seconds
                    for p in passes],
                "waves_s": [p.steps for p in passes],
                "failed_urls": sorted({u for p in passes
                                       for u in p.failed})[:10]}

    def layers(self, passes: list[Pass], folded: dict) -> dict:
        per_pass = []
        for i, p in enumerate(passes):
            waves = eventlog.sum_groups(folded, f"t{i}-wave-")
            n = len(p.extra["stats"])
            d = wave_layers(p)
            d.update({"wave.jobs_per_wave": waves["jobs"] / n,
                      "wave.tasks_per_wave": waves["tasks"] / n})
            d.update(eventlog.session_layers(
                eventlog.sum_groups(folded, f"t{i}-"), p.python_cpu_s))
            per_pass.append(d)
        out = median_dicts(per_pass)
        out.update(self.last_layers)
        kernel = kernel_layers(self.web)
        out.update(kernel)
        out["parse.boundary_ratio"] = (out["parse.px_core_ms_per_page"]
                                       / sum(kernel.values()))
        return out


# -- per-layer figures --------------------------------------------------------

def wave_layers(p: Pass) -> dict:
    stats = p.extra["stats"]

    def total(*names):
        return sum(s["timings"].get(n, 0.0) for s in stats for n in names)

    cand = sum(s.get("candidates", 0) for s in stats)
    new = sum(s.get("new", 0) for s in stats)
    px_write = total("px_write")
    return {
        "wave.px_write_s": px_write,
        "wave.dequeue_s": total("dequeue"),
        "wave.candidates_dedup_s": total("candidates_dedup"),
        "wave.fm_write_s": total("fm_write"),
        "wave.compact_s": total("frontier_merge"),
        "wave.plan_s": total(*PLAN_PHASES),
        "wave.waves": len(stats),
        "parse.px_core_ms_per_page": px_write * CORES * 1000.0 / p.items,
        "frontier.pending_rows": sum(s["pending_before"] for s in stats),
        "dedup.candidates": cand,
        "dedup.new": new,
        "dedup.new_ratio": new / cand if cand else 0.0,
        "dedup.bloom_s": total("read_state", "bloom_merge"),
        "politeness.budgets_s": total("budgets"),
    }


def snapshot_layers(work_dir: str, urls: int) -> dict:
    """Bytes and files the crawl left, and the manifests' commit history."""
    n_bytes = n_files = commits = compactions = 0
    for root, _, files in os.walk(work_dir):
        for f in files:
            n_bytes += os.path.getsize(os.path.join(root, f))
            n_files += f.endswith(".parquet")
            if f == "manifest.json":
                with open(os.path.join(root, f)) as fh:
                    snaps = json.load(fh)["snapshots"]
                commits += len(snaps)
                if os.path.basename(root) == "frontier":
                    # a compaction rewrites the frontier as one base dir
                    compactions += sum(
                        1 for s in snaps
                        if len(s["dirs"]) == 1 and s["meta"].get("wave", 0))
    return {"snapshot.bytes_written_per_url": n_bytes / urls,
            "snapshot.files": n_files, "snapshot.commits": commits,
            "snapshot.compactions": compactions}


def scan_layers(eng, web_dir: str) -> dict:
    """Read amplification of the fetch scan, replayed from the footers
    against the claims recorded in the crawl's extracted table."""
    import pyarrow.parquet as pq

    from new_ent_crawler_spark.parquet_meta import parquet_files
    cols = ["url", "host", "wave_id"]
    claims = []
    for d in eng.extracted_t.current_snapshot()["dirs"]:
        for f in parquet_files(os.path.join(eng.extracted_t.path, d)):
            tbl = pq.read_table(f, columns=cols)
            claims.extend(zip(*(tbl.column(c).to_pylist() for c in cols)))
    groups = readamp.row_group_ranges(os.path.join(web_dir, "pages.parquet"))
    r = readamp.replay(groups, claims)
    return {"scan.rows_per_claim": r["rows_per_claim"],
            "scan.row_groups_read": r["row_groups_read"]}


def kernel_layers(web_dir: str) -> dict:
    """The parse kernel outside Spark, in ms per page: parquet read and
    zstd decode, the Arrow->pandas handoff, then per page utf-8 decode +
    ``extract_url_text``, ``discover_links`` and ``classify``."""
    import pyarrow.parquet as pq

    from new_ent_crawler_spark.oracle import urlspec as U
    pf = pq.ParquetFile(os.path.join(web_dir, "pages.parquet"))
    t = dict.fromkeys(("scan_decode", "to_pandas", "extract_text", "links",
                       "classify"), 0.0)
    pages = 0
    clock = time.perf_counter
    for i in range(pf.num_row_groups):
        t0 = clock()
        tbl = pf.read_row_group(i, columns=["url", "html"])
        t1 = clock()
        pdf = tbl.to_pandas()
        t2 = clock()
        t["scan_decode"] += t1 - t0
        t["to_pandas"] += t2 - t1
        for url, html in zip(pdf["url"], pdf["html"]):
            a = clock()
            content = bytes(html).decode("utf-8")
            U.extract_url_text(url, content)
            b = clock()
            U.discover_links(url, content)
            c = clock()
            U.classify(url)
            d = clock()
            t["extract_text"] += b - a
            t["links"] += c - b
            t["classify"] += d - c
            pages += 1
    return {f"parse.{k}_ms_per_page": v * 1000.0 / pages for k, v in t.items()}
