#!/usr/bin/env python3
"""wbx benchmark: crawl / extract / archive workloads at local[nproc/2].

Run from the root of a wbx checkout:

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 8 --trace 0

Inputs are generated from --seed, each workload's timed loop runs for at
least --seconds of measured work, every output is checked, and the last
stdout line is one JSON object {correct, attempted, failed, metrics}: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
The line before it carries the run's details (host CPU probe, sample
counts, fingerprints, problems). Exits 1 when an output check fails and 2
when the checkout has no wbx package. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import time

WORKLOAD_NAMES = ("crawl", "extract", "archive")
SETUP_REPS = 3

END_TO_END = {
    "setup_s": "s",
    "items_per_s": "items/s",
    "op_p50_s": "s",
}

PER_LAYER = {
    "frontier.build_s": "s",
    "frontier.exec_s": "s",
    "frontier.jobs": "count",
    "frontier.shuffle_bytes": "bytes",
    "frontier.spill_bytes": "bytes",
    "frontier.candidates": "count",
    "frontier.unseen": "count",
    "frontier.scheduled": "count",
    "frontier.scheduled_ratio": "ratio",
    "frontier.sketch_fp_rate": "ratio",
    "checkpoint.sketch_s": "s",
    "checkpoint.commit_s": "s",
    "checkpoint.load_s": "s",
    "checkpoint.compact_s": "s",
    "checkpoint.compact_bytes": "bytes",
    "checkpoint.bytes_per_key": "bytes",
    "warcio.scan_s": "s",
    "warcio.split_index_s": "s",
    "warcio.python_s": "s",
    "warcio.python_boot_s": "s",
    "warcio.arrow_bytes_out": "bytes",
    "warcio.records": "count",
    "warcio.unparsable_lines": "count",
    "warcio.gz_members": "count",
    "extract.self_s": "s",
    "extract.decode_fail": "count",
    "analytics.summarize_s": "s",
    "analytics.pairs_s": "s",
    "analytics.compare_s": "s",
    "analytics.shuffle_bytes": "bytes",
    "analytics.exchanges": "count",
    "session.start_s": "s",
    "host.burn_mops": "Mops/s",
    "trace.op_p50_s": "s",
    # end-to-end in intent, but measured here: between runs on a 4-core
    # host, CPU per item spreads 15-23% (it tracks the host's CPU speed,
    # as wall time does) and the JVM's heap growth makes peak resident
    # size differ by up to 2x, so neither repeats within a tenth
    "cpu_us_per_item": "us",
    "peak_rss_mb": "MiB",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=(*WORKLOAD_NAMES, "all"))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=8)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def spark_cores(nproc: int) -> int:
    """Spark's local[N]: half the CPUs. At local[nproc] the task threads,
    their Python workers, the driver and the JVM's own threads outnumber
    the CPUs, so every stall of a shared host's CPU stalls a task; paired
    runs on a 4-CPU host spread a third to a half less at local[2] than at
    local[4] (extract and archive also run faster; crawl about 12% slower)."""
    return max(1, nproc // 2)


def start_session(cores: int, work: str):
    from wbx.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        "wbx-perfbench",
        cores=cores,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": f"-Dderby.system.home={work}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the traced run reads every execution and job back from the
            # status store, so none may be evicted
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then close the JVM's stdin (its signal to exit) and wait
    for the JVM and the Python workers it started to end; whatever has not
    ended by the deadline is killed."""
    from perfbench import hoststat

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    started = [p for p in hoststat.tree_pids(proc.pid) if p != proc.pid]
    try:
        spark.stop()
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        # the workers outlive the JVM briefly, reparented away from this process
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline and any(
            os.path.exists(f"/proc/{p}") for p in started
        ):
            time.sleep(0.1)
        for p in started:
            if os.path.exists(f"/proc/{p}"):
                with contextlib.suppress(OSError):
                    os.kill(p, signal.SIGKILL)


def run_workload(name: str, spark, args, work: str, setup_base_s: float) -> dict:
    """Set up, warm, run the timed loop and (when traced) read the layers.
    ``setup_base_s`` is the process's own start-up up to a ready session."""
    from perfbench import hoststat, workloads
    from perfbench import spans as tr

    ctx = workloads.Ctx(spark, os.path.join(work, name), args.seed)
    wl = workloads.WORKLOADS[name](ctx)
    land_s = []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        wl.land(rep)
        land_s.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.warm()
    warm_s = time.perf_counter() - t0

    tracer = restore = None
    if args.trace:
        tracer = tr.Tracer(spark.sparkContext, name)
        restore = tr.install(tracer)
        ctx.tracer = tracer
    ops: list = []
    timed = cpu = 0.0
    pid = os.getpid()
    try:
        with hoststat.PeakRss(pid) as rss:
            k = 0
            while timed < args.seconds:
                if tracer is not None:
                    tracer.op = k
                c0 = hoststat.tree_cpu_s(pid)
                rss.arm(True)
                t0 = time.perf_counter()
                unit_ops = wl.unit()
                t1 = time.perf_counter()
                rss.arm(False)
                cpu += hoststat.tree_cpu_s(pid) - c0
                timed += t1 - t0
                if tracer is not None:
                    tracer.op = None
                ops += wl.check(unit_ops)
                k += 1
            peak_mb = rss.peak_mb
        layers = None
        if tracer is not None:
            executions, jobs = tr.plan_metrics(spark)
            restore()
            restore = None
            layers = wl.layers(tracer.spans, executions, jobs)
    finally:
        if restore is not None:
            restore()

    good = [o for o in ops if o.ok]
    items = sum(o.items for o in good)
    kinds = sorted({o.kind for o in ops})
    return {
        "workload": name,
        "attempted": len(ops),
        "failed": len(ops) - len(good),
        "problems": [p for o in ops for p in o.problems][:20],
        "end_to_end": {
            "setup_s": setup_base_s + statistics.median(land_s) + warm_s,
            "items_per_s": items / timed if timed else 0.0,
            "op_p50_s": statistics.median(o.seconds for o in good) if good else 0.0,
            "cpu_us_per_item": cpu / items * 1e6 if items else 0.0,
            "peak_rss_mb": peak_mb,
        },
        "samples": len(good),
        "op_seconds": [o.seconds for o in ops],
        "timed_s": timed,
        "items": items,
        "op_p50_s_by_kind": {
            k: statistics.median(o.seconds for o in good if o.kind == k)
            for k in kinds
            if any(o.kind == k for o in good)
        },
        "setup": {"land_s": land_s, "warm_s": warm_s, "base_s": setup_base_s},
        "layers": layers,
        "span_self_s": _self_times(tracer.spans) if tracer is not None else None,
        **wl.details(),
    }


def _self_times(spans: list[dict]) -> dict:
    """Total self time per span name over the timed units."""
    from perfbench.spans import self_time

    out: dict = {}
    for s in spans:
        if s["op"] is not None:
            out[s["name"]] = out.get(s["name"], 0.0) + self_time(s, spans)
    return out


def _metrics(values: dict, units: dict) -> dict:
    return {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "wbx", "__init__.py")):
        print(
            "perfbench: no wbx package in the current directory; "
            "run from the root of a wbx checkout",
            file=sys.stderr,
        )
        return 2
    work = os.path.join(root, ".perfbench_work", str(os.getpid()))
    os.makedirs(os.path.join(work, "tmp"))
    # everything Spark, the JVM and the Python workers write stays in the
    # checkout, and the workers can import wbx
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # both JVMs (spark-submit's launcher and Spark's own): temp files in the
    # checkout and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    sys.path[0] = root  # this script's own directory shadows nothing then
    import tempfile

    tempfile.tempdir = None

    from perfbench import hoststat

    cores = len(os.sched_getaffinity(0))
    names = WORKLOAD_NAMES if args.workload == "all" else (args.workload,)
    spark = None
    results = []
    try:
        t0 = time.perf_counter()
        burn_pre = hoststat.burn_mops(cores)
        burn_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        spark = start_session(spark_cores(cores), work)
        session_s = time.perf_counter() - t0
        setup_base_s = hoststat.process_age_s() - burn_s
        for name in names:
            results.append(run_workload(name, spark, args, work, setup_base_s))
        stop_session(spark)
        spark = None
        burn_post = hoststat.burn_mops(cores)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # left alone while another run uses it
            os.rmdir(os.path.dirname(work))

    host = {
        "host.burn_mops_pre": burn_pre,
        "host.burn_mops_post": burn_post,
        "cores": cores,
        "spark_cores": spark_cores(cores),
    }
    lines = []
    for r in results:
        if args.trace:
            values = {
                **r["end_to_end"],
                **r["layers"],
                "session.start_s": session_s,
                "host.burn_mops": min(burn_pre, burn_post),
                "trace.op_p50_s": r["end_to_end"]["op_p50_s"],
            }
            metrics = _metrics(values, PER_LAYER)
        else:
            metrics = _metrics(r["end_to_end"], END_TO_END)
        detail = {k: v for k, v in r.items() if k not in ("layers",)}
        detail.update(seed=args.seed, trace=args.trace, **host)
        print(json.dumps({"detail": detail}, default=str))
        lines.append(
            {
                "correct": r["failed"] == 0 and r["attempted"] > 0,
                "attempted": r["attempted"],
                "failed": r["failed"],
                "metrics": metrics,
            }
        )
    if len(lines) == 1:
        final = lines[0]
    else:
        for name, line in zip(names, lines):
            print(json.dumps({"workload": name, **line}))
        final = {
            "correct": all(x["correct"] for x in lines),
            "attempted": sum(x["attempted"] for x in lines),
            "failed": sum(x["failed"] for x in lines),
            "metrics": {
                f"{name}.{k}": v
                for name, line in zip(names, lines)
                for k, v in line["metrics"].items()
            },
        }
    print(json.dumps(final), flush=True)
    return 0 if final["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
