#!/usr/bin/env python3
"""count() versus full output for each workload's terminal job.

A job that ends in ``count()`` lets the optimizer prune whatever the count
does not need; this times each workload's terminal job both ways on the
benchmark's own inputs (interleaved, median of ``--reps``) and prints one
JSON line per job. Run from the root of a wbx checkout:

    python3 perfbench/baseline/count_gap.py --seed 1 --reps 3
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time


def _time(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--reps", type=int, default=3)
    args = p.parse_args()
    root = os.getcwd()
    sys.path[0] = root
    work = os.path.join(root, ".perfbench_work", f"gap-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p)

    from perfbench import run, workloads
    from wbx import analytics, warcio
    from wbx.frontier import crawl_round, empty_seen_bloom, release_rank_caches

    spark = run.start_session(len(os.sched_getaffinity(0)), work)
    try:
        ctx = workloads.Ctx(spark, work, args.seed)
        crawl = workloads.Crawl(ctx)
        crawl.land(0)
        extract = workloads.Extract(ctx)
        extract.land(0)
        archive = workloads.Archive(ctx)
        archive.land(0)

        def frontier_batch():
            seeds, hosts, robots = crawl._inputs()
            seen = spark.createDataFrame([], "url_hash long, canon_url string")
            return crawl_round(
                seeds, seen, hosts, robots, default_budget=crawl.DEFAULT_BUDGET,
                bloom=empty_seen_bloom(spark),
            )

        def text():
            files = workloads._binary_files(spark, extract.corpus["plain_dir"])
            return warcio.scan_files_to_text(files).unionByName(
                warcio.scan_splits_to_text(extract._splits())
            )

        def pairs():
            return analytics.match_pairs(archive._records("v1"))

        def compare():
            return analytics.compare_headers(
                archive._records("v1"), archive._records("v2"),
                near_match_fields=["WARC-Payload-Digest"],
            )

        def full(df):
            return df.agg(workloads._fingerprint(df.columns)).collect()

        jobs = {
            "crawl.crawl_round": frontier_batch,
            "extract.text_pass": text,
            "archive.match_pairs": pairs,
            "archive.compare_headers": compare,
        }
        for name, build in jobs.items():
            full(build())  # warm
            counted, whole = [], []
            for _ in range(args.reps):
                counted.append(_time(lambda: build().count()))
                release_rank_caches()
                whole.append(_time(lambda: full(build())))
                release_rank_caches()
            c, w = statistics.median(counted), statistics.median(whole)
            print(json.dumps({
                "job": name, "count_s": c, "full_output_s": w,
                "full_over_count": w / c, "reps": args.reps, "seed": args.seed,
            }), flush=True)
    finally:
        run.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
