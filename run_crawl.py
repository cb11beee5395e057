#!/usr/bin/env python3
"""Cluster entry point: run the crawl engine end-to-end.

Local:        python run_crawl.py --data <webdir> --work <workdir>
Cluster:      spark-submit --py-files new_ent_crawler_spark.zip run_crawl.py \
                  --data s3://…/web --work s3://…/state --per-host-k 64

When launched under spark-submit an existing SparkSession is reused (the
cluster master/executors come from spark-submit flags); standalone it builds
the tuned local session.  After the crawl completes, ``--assemble`` groups
the crawled pages by company and writes the four sink tables mirroring the
reference's MySQL targets (utils/MysqlDBHelper.py:20-106).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession  # noqa: E402


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--data", required=True,
                    help="dir with pages/seeds/robots parquet")
    ap.add_argument("--work", required=True, help="engine state dir")
    ap.add_argument("--per-host-k", type=int, default=8)
    ap.add_argument("--max-waves", type=int, default=64)
    ap.add_argument("--salt-buckets", type=int, default=16)
    ap.add_argument("--expected-urls", type=int, default=1_000_000)
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--assemble", action="store_true",
                    help="write sink tables after the crawl")
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    args = ap.parse_args(argv)

    spark = SparkSession.getActiveSession()
    if spark is None:
        from new_ent_crawler_spark.session import get_spark
        spark = get_spark(app="new-ent-crawl", cpus=args.cpus)

    from new_ent_crawler_spark.plans.wave import WaveEngine
    eng = WaveEngine(spark, args.data, args.work,
                     per_host_k=args.per_host_k, max_waves=args.max_waves,
                     salt_buckets=args.salt_buckets,
                     expected_total_urls=args.expected_urls)
    t0 = time.perf_counter()
    stats = eng.run(resume=not args.no_resume)
    elapsed = time.perf_counter() - t0
    n = sum(s.get("claimed", 0) for s in stats)
    print(json.dumps({"waves": len(stats), "urls": n,
                      "seconds": round(elapsed, 2),
                      "urls_per_sec": round(n / elapsed, 1) if elapsed else None}))

    if args.assemble:
        from new_ent_crawler_spark.operators import assemble as ASM
        from new_ent_crawler_spark.sources.snapshot import SnapshotTable
        assembled = ASM.assemble_companies(eng.frontier(), eng.pages())
        assembled = assembled.persist()
        for name, df in (
                ("business_info", ASM.business_info(assembled)),
                ("enterprise_info", ASM.enterprise_info(assembled)),
                ("report_info", ASM.report_info(assembled)),
                ("main_url_record", ASM.main_url_record(assembled))):
            SnapshotTable(os.path.join(args.work, name)).overwrite(df)
        # exact-name matches upgrade seed status to 5 (worker/worker.py:240)
        # committed as one delta versioned above the last wave's (and any
        # earlier assembly's), so last-writer-wins picks these rows
        # deterministically
        wave = eng.last_wave()
        version = eng.frontier_t.meta().get("assembled", wave) + 1
        eng.frontier_t.append_delta(
            ASM.exact_match_updates(assembled, eng.frontier()),
            version=version, meta={"wave": wave, "assembled": version})
        print(json.dumps({"companies": assembled.count()}))
        assembled.unpersist()


if __name__ == "__main__":
    main()
