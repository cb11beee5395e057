"""Benchmark entry point.

    python3 perfbench/run.py --workload crawl_bigpage --seed 1 --seconds 25 --trace 0

Runs one workload on one Spark ``local[2]`` session, from the root of a
checkout of the repository, in a scratch directory under
``.perfbench_work/`` that it removes on exit.  Set-up (session start, input
build, warm-up) is timed apart from the closed-loop passes.  Every pass is
checked; the last stdout line is the result JSON, with the end-to-end
metrics when ``--trace 0`` and the per-layer metrics when ``--trace 1``.
The line before it carries the host shape and per-pass detail.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
REQUIRED = ("new_ent_crawler_spark", "__spark_entry__.py")


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _workloads() -> dict:
    import crawl
    import suite
    return {"crawl_bigpage": crawl.Workload, "query_suite": suite.Workload}


# -- session lifecycle ---------------------------------------------------------

def driver_heap_mb() -> int:
    """An eighth of MemTotal, between 1 and 2 GiB: local[2] on this
    benchmark's inputs needs well under 2 GiB of heap."""
    import procstat
    return max(1024, min(2048, procstat.mem_total_bytes() // 2**20 // 8))


def check_host(work_root: str, heap_mb: int, need_disk_mb: int) -> None:
    """Fail loudly when the inputs, work dirs and heap cannot fit; the
    inputs are never shrunk to make them fit."""
    import procstat
    need_mem = heap_mb + 2048   # Python workers, simulator, golden copies
    avail = procstat.mem_available_bytes() // 2**20
    if avail < need_mem:
        raise SystemExit(f"perfbench: {avail} MB of memory available, "
                         f"need {need_mem}")
    free = shutil.disk_usage(work_root).free // 2**20
    if free < need_disk_mb:
        raise SystemExit(f"perfbench: {free} MB free under {work_root}, "
                         f"need {need_disk_mb} for the inputs and work dirs")


def start_session(work_root: str, heap_mb: int, event_log_dir: str | None):
    from metrics import CORES
    from new_ent_crawler_spark.session import get_spark
    tmp = os.path.join(work_root, "tmp")
    # a fixed heap and young generation, not pre-touched: the JVM's adaptive
    # resizing would spread peak RSS by a quarter from run to run, while
    # heap pages still count only once the program touches them
    java_opts = (f"-Djava.io.tmpdir={tmp} -Xms{heap_mb}m "
                 f"-Xmn{heap_mb // 5}m")
    conf = {"spark.driver.memory": f"{heap_mb}m",
            "spark.driver.extraJavaOptions": java_opts,
            "spark.local.dir": os.path.join(work_root, "spark-local"),
            "spark.sql.warehouse.dir":
                os.path.join(work_root, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false"}
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        # one plain JSON-lines file: Spark 4 otherwise rolls the log into
        # a directory and compresses it with zstd
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + event_log_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = get_spark(app="perfbench", cpus=CORES, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int | None:
    from pyspark import SparkContext
    gw = SparkContext._gateway
    return gw.proc.pid if gw is not None and gw.proc is not None else None


def shutdown_all() -> None:
    """Stop Spark, end the JVM and wait for every process this run
    started."""
    import procstat
    from pyspark import SparkContext
    from pyspark.sql import SparkSession
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is not None and gw.proc is not None:
        # close py4j's connections first, then end the JVM: the gateway
        # JVM exits when its stdin reaches EOF
        gw.shutdown()
        gw.proc.stdin.close()
        try:
            gw.proc.wait(timeout=60)
        except Exception:
            gw.proc.kill()
            gw.proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    me = os.getpid()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        left = [p for p in procstat.tree() if p != me]
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 10
        while left and time.monotonic() < deadline:
            time.sleep(0.1)
            left = [p for p in procstat.tree() if p != me]
        if not left:
            return


# -- one run -------------------------------------------------------------------

def _timed(fn, *args):
    t0 = time.perf_counter()
    out = fn(*args)
    return out, time.perf_counter() - t0


def closed_loop(run_one, seconds: float) -> list:
    """Run passes back to back, one client; start another only while the
    time spent plus one more median pass stays within ``seconds`` (at least
    one pass)."""
    done, spent = [], 0.0
    while True:
        res, dt = _timed(run_one, len(done))
        done.append((res, dt))
        spent += dt
        if spent + statistics.median(d for _, d in done) > seconds:
            return [r for r, _ in done]


def run(workload: str, seed: int, seconds: float, trace: bool,
        work_root: str) -> tuple[dict, dict]:
    import metrics
    import procstat
    import suite

    wl = _workloads()[workload](work_root, seed)
    heap_mb = driver_heap_mb()
    check_host(work_root, heap_mb, wl.need_disk_mb)
    host = procstat.host_shape(metrics.CORES, work_root)
    _log(f"host {host}")

    spark, session_s = _timed(start_session, work_root, heap_mb, None)
    _, prep_s = _timed(wl.prepare)
    _, warm_s = _timed(wl.warm_up, spark)
    setup_s = session_s + prep_s + warm_s
    _log(f"setup {setup_s:.2f}s (session {session_s:.2f}, prepare "
         f"{prep_s:.2f}, warm-up {warm_s:.2f})")

    jvm = jvm_pid()
    with procstat.PeakRss() as rss, procstat.StealShare() as steal:
        passes = closed_loop(lambda i: wl.run_pass(spark, jvm), seconds)
    e2e = metrics.end_to_end(passes)
    attempted = sum(p.attempted for p in passes)
    failed = sum(len(p.failed) for p in passes)
    detail = {"workload": workload, "seed": seed, "host": host,
              "heap_mb": heap_mb, "passes": len(passes),
              "steal_share": steal.share,
              "failed_ratio": failed / attempted,
              "setup_parts_s": {"session": session_s, "prepare": prep_s,
                                "warm_up": warm_s},
              **wl.detail(passes)}
    if not trace:
        values = {**e2e, "setup_s": setup_s,
                  "peak_rss_mb": rss.peak / 2**20}
        units = {n: u for n, (u, _, _) in metrics.END_TO_END.items()}
    else:
        import eventlog
        # traced passes: a fresh session in the same (warm) JVM, with the
        # event log on and every job tagged; the untraced passes above
        # are the overhead baseline
        log_dir = os.path.join(work_root, "eventlog")
        spark.stop()
        spark = start_session(work_root, heap_mb, log_dir)
        tpasses = closed_loop(
            lambda i: wl.run_pass(spark, jvm, tag=f"t{i}"), seconds)
        spark.stop()
        folded = eventlog.fold(eventlog.log_files(log_dir), wl.wave_spans)
        units = metrics.per_layer(suite.HEADLINE)
        values = dict.fromkeys(units, 0.0)
        values.update(wl.layers(tpasses, folded))
        values["trace.overhead_per_core"] = (
            metrics.end_to_end(tpasses)["throughput_per_core"]
            - e2e["throughput_per_core"])
        attempted += sum(p.attempted for p in tpasses)
        failed += sum(len(p.failed) for p in tpasses)
        detail["failed_ratio"] = failed / attempted
        detail["phases"] = _phase_table(folded)
    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed,
              "metrics": {n: {"value": values[n], "unit": units[n]}
                          for n in units}}
    return result, detail


def _phase_table(folded: dict) -> dict:
    """Jobs, tasks and executor CPU per wave phase, summed over waves."""
    out: dict[str, dict] = {}
    for (_, phase), vals in folded["phases"].items():
        row = out.setdefault(phase, {"jobs": 0, "tasks": 0,
                                     "executor_cpu_s": 0.0})
        for k in row:
            row[k] += vals[k]
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        _log(f"{ROOT} lacks {missing}: run from a checkout of the repository")
        return 2
    sys.path.insert(0, ROOT)
    if args.workload not in _workloads():
        _log(f"unknown workload {args.workload!r}; "
             f"choose from {sorted(_workloads())}")
        return 2

    work_root = os.path.join(ROOT, ".perfbench_work",
                             f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work_root, "tmp"), exist_ok=True)
    # Spark's Python workers import the package from the repo root; temp
    # files, spark-warehouse/ and derby.log stay in the scratch dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work_root, "tmp")
    os.chdir(work_root)
    try:
        result, detail = run(args.workload, args.seed, args.seconds,
                             bool(args.trace), work_root)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutdown_all()
        os.chdir(ROOT)
        shutil.rmtree(work_root, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work_root))
        except OSError:
            pass   # another run still uses it
    print(json.dumps(detail))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
