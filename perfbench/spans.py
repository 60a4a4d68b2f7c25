"""Spans around calls into wbx's layers, and the Spark plan metrics of the
jobs each span started.

Tracing is installed from the benchmark's own files by wrapping public
functions (``install``); nothing under ``wbx/`` changes. Each span sets the
Spark job description to its own tag while it is open, so every SQL
execution and job started inside it carries the tag, and the executed
(AQE-final) plan's SQL metrics are read back from Spark's status store
(``plan_metrics``) and attached to the span whose action started them.
"""

from __future__ import annotations

import functools
import os
import re
import time
from collections.abc import Callable
from contextlib import contextmanager

DESC_KEY = "spark.job.description"


class Tracer:
    """In-memory span recorder. ``op`` is stamped on every span opened
    while it is set (a crawl round or an operation index)."""

    def __init__(self, sc, workload: str):
        self.sc = sc
        self.workload = workload
        self.spans: list[dict] = []
        self.op: int | str | None = None
        self.unit = 0
        self.round = 0
        self._stack: list[int] = []
        self._next = 0

    @contextmanager
    def span(self, name: str, **attrs):
        sid = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        prev = self.sc.getLocalProperty(DESC_KEY)
        self.sc.setLocalProperty(DESC_KEY, f"pb:{sid}")
        self._stack.append(sid)
        rec = {
            "id": sid,
            "name": name,
            "parent": parent,
            "workload": self.workload,
            "op": self.op,
            **attrs,
        }
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(DESC_KEY, prev)
            self.spans.append(rec)

    def next_round(self, *args, **kwargs) -> None:
        """Open a new crawl round: spans until the next call carry it."""
        self.round += 1
        self.op = f"c{self.unit}-r{self.round}"


def self_time(span: dict, spans: list[dict]) -> float:
    """Span duration minus the time its direct children cover. Spans are
    opened on one thread and nest, so children never overlap."""
    kids = sum(s["end"] - s["start"] for s in spans if s["parent"] == span["id"])
    return (span["end"] - span["start"]) - kids


# ---------------------------------------------------------------------------
# wrappers
# ---------------------------------------------------------------------------


def _table_name(path: str) -> str:
    return os.path.basename(os.path.normpath(path))


def install(tracer: Tracer) -> Callable[[], None]:
    """Wrap the public calls of each layer and DataFrameWriter's writes.
    Returns a function that restores the originals."""
    from pyspark.sql.readwriter import DataFrameWriter

    from wbx import analytics, checkpoint, frontier, warcio

    undo: list[tuple] = []

    def wrap(owner, attr: str, span_name: str, name_fn=None, after=None, before=None):
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if before is not None:
                before(*args, **kwargs)
            name = name_fn(*args, **kwargs) if name_fn else span_name
            with tracer.span(name) as rec:
                out = orig(*args, **kwargs)
                if after is not None:
                    after(rec, out)
                return out

        setattr(owner, attr, wrapper)
        undo.append((owner, attr, orig))

    wrap(frontier, "crawl_round", "frontier.crawl_round", before=tracer.next_round)
    store = checkpoint.CheckpointStore
    wrap(store, "commit", "checkpoint.commit")
    wrap(
        store,
        "compact_seen",
        "checkpoint.compact_seen",
        after=lambda rec, out: rec.update(bytes=dir_bytes(out.get("path", ""))),
    )
    wrap(store, "load_seen_split", "checkpoint.load_seen_split")
    wrap(store, "load", "checkpoint.load")
    for fn in (
        "scan_files_to_text",
        "scan_files_to_records",
        "index_gzip_splits",
        "scan_splits_to_text",
        "scan_splits_to_records",
    ):
        wrap(warcio, fn, f"warcio.{fn}")
    for fn in ("summarize", "match_pairs", "compare_headers"):
        wrap(analytics, fn, f"analytics.{fn}")

    wrap(
        DataFrameWriter,
        "parquet",
        "",
        name_fn=lambda self, path, *a, **k: f"write:{_table_name(path)}",
    )
    wrap(
        DataFrameWriter,
        "save",
        "",
        name_fn=lambda self, path=None, format=None, *a, **k: (
            f"write:{_table_name(path)}" if path else f"write:{format or 'noop'}"
        ),
    )
    wrap(
        DataFrameWriter,
        "saveAsTable",
        "",
        name_fn=lambda self, name, *a, **k: f"write:table:{name}",
    )

    def restore() -> None:
        for owner, attr, orig in reversed(undo):
            setattr(owner, attr, orig)

    return restore


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


# ---------------------------------------------------------------------------
# Spark plan metrics from the status store
# ---------------------------------------------------------------------------

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_metric(value: str, metric_type: str) -> float:
    """A status-store metric string as a number: bytes for size metrics,
    seconds for timing metrics, the plain number otherwise. Aggregated
    metrics read 'total (min, med, max ...)\\n<total> (...)'; the total is
    the first token pair of the last line."""
    line = value.strip().splitlines()[-1]
    if metric_type == "size":
        m = re.match(r"([\d.,]+)\s*([KMGT]?i?B)", line)
        return float(m.group(1).replace(",", "")) * _SIZE[m.group(2)] if m else 0.0
    if metric_type in ("timing", "nsTiming"):
        m = re.match(r"([\d.,]+)\s*(ms|s|m|h)\b", line)
        return float(m.group(1).replace(",", "")) * _TIME[m.group(2)] if m else 0.0
    m = re.match(r"-?[\d.,]+", line)
    return float(m.group(0).replace(",", "")) if m else 0.0


def plan_metrics(spark) -> tuple[list[dict], list[dict]]:
    """(executions, jobs) tagged by Tracer spans.

    executions: {"span": sid, "nodes": [{"name", "metrics": {name: value}}]}
    read from each execution's final plan graph; jobs: {"span": sid}."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    store = spark._jsparkSession.sharedState().statusStore()

    def tag(desc) -> int | None:
        if desc and desc.startswith("pb:"):
            return int(desc[3:])
        return None

    executions = []
    for ex in conv.asJava(store.executionsList()):
        sid = tag(ex.description())
        if sid is None:
            continue
        values = store.executionMetrics(ex.executionId())
        nodes = []
        for node in conv.asJava(store.planGraph(ex.executionId()).allNodes()):
            metrics = {}
            for m in conv.asJava(node.metrics()):
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    metrics[m.name()] = parse_metric(v.get(), m.metricType())
            nodes.append({"name": node.name(), "metrics": metrics})
        executions.append({"span": sid, "nodes": nodes})
    jobs = []
    for j in conv.asJava(jsc.statusStore().jobsList(None)):
        d = j.description()
        sid = tag(d.get()) if d.isDefined() else None
        if sid is not None:
            jobs.append({"span": sid})
    return executions, jobs


def metric_sum(executions: list[dict], metric: str, node: str | None = None) -> float:
    return sum(
        n["metrics"].get(metric, 0.0)
        for ex in executions
        for n in ex["nodes"]
        if node is None or n["name"] == node
    )


def node_count(executions: list[dict], node: str) -> int:
    return sum(1 for ex in executions for n in ex["nodes"] if n["name"] == node)


def under(spans: list[dict], root_ids: set[int]) -> set[int]:
    """root_ids plus every span nested below them."""
    out = set(root_ids)
    changed = True
    while changed:
        changed = False
        for s in spans:
            if s["parent"] in out and s["id"] not in out:
                out.add(s["id"])
                changed = True
    return out
