"""The three workloads: inputs, the timed unit, output checks and the
per-layer figures of a traced run.

A workload object is driven by run.py:

    land(rep)    generate + land the seeded inputs (repeated for setup_s)
    warm()       one untimed pass so JIT, codegen and Python workers are warm
    unit()       one timed unit -> list[Op]
    check(ops)   the unit's output checks, run outside the timed region
    layers(...)  per-layer metrics from a traced run's spans and plan metrics
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from wbx.checkpoint import CheckpointStore

from perfbench import checks, gen
from perfbench import spans as tr


@dataclass
class Op:
    kind: str
    seconds: float
    items: int
    ok: bool
    problems: list[str] = field(default_factory=list)


def median(xs, default: float = 0.0) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else default


class Ctx:
    """What every workload needs: the session, its own work directory,
    the seed, and the tracer when the run is traced."""

    def __init__(self, spark, work: str, seed: int, tracer=None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer

    def span(self, name: str, **attrs):
        if self.tracer is None:
            return contextlib.nullcontext({})
        return self.tracer.span(name, **attrs)


def _fingerprint(cols):
    from pyspark.sql import functions as F

    return F.bit_xor(F.xxhash64(*[F.col(c) for c in cols]))


def _binary_files(spark, path: str):
    from pyspark.sql import functions as F

    return spark.read.format("binaryFile").load(path).select(
        F.col("path").alias("source_file"), "content"
    )


OFFSET_COLUMNS = [
    "member_start",
    "member_end",
    "unc_start",
    "unc_end",
    "record_start",
    "record_end",
    "header_start",
    "header_end",
    "content_start",
    "content_end",
]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# crawl
# ---------------------------------------------------------------------------


class Crawl:
    """Multi-round ``run_crawl`` into a fresh CheckpointStore: one unit is
    a whole crawl of ROUNDS rounds, one operation is one committed round."""

    name = "crawl"
    ROUNDS = 2
    COMPACT_EVERY = 1
    N_SEEDS = 24_000
    DEFAULT_BUDGET = 2
    # per-partition sketch bits, sized at ~12 bits/key for this crawl's
    # ~6k seen keys over 64 partitions (run_crawl's docstring rule);
    # run_crawl's 2^20 default is sized for tests and makes every round's
    # seen_bloom write take ~20 s at this scale
    BLOOM_BITS = 1 << 10

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.dir = os.path.join(ctx.work, "crawl")
        self.round_fps: dict[int, int] = {}
        self.candidates: list[int] | None = None
        self.first_store: str | None = None
        self.n_units = 0

    # -- inputs ------------------------------------------------------------

    def land(self, rep: int) -> None:
        self.spec = gen.crawl_spec(self.ctx.seed, self.N_SEEDS)
        self.paths = gen.land_crawl(self.spec, os.path.join(self.dir, "input"))
        self.budgets = dict(self.spec["hosts"])
        self.deny = checks.deny_rules(self.spec["robots"])

    def _inputs(self):
        spark = self.ctx.spark
        return (
            spark.read.parquet(self.paths["seeds"]),
            spark.read.parquet(self.paths["hosts"]),
            spark.read.parquet(self.paths["robots"]),
        )

    def expand(self, batch):
        """Fan each scheduled page out to FANOUT children over a bounded
        URL space (N_HOSTS x PATHS_PER_HOST), ~10% on the hot host, with
        the same case/port/fragment variants as the seeds."""
        from pyspark.sql import functions as F

        spec = self.spec
        h = F.xxhash64(F.lit(spec["seed_salt"]), F.col("url_hash"), F.col("_i"))
        idx = F.when(F.pmod(h, F.lit(100)) < gen.HOT_SHARE_PCT, F.lit(spec["hot"])).otherwise(
            F.pmod(F.shiftright(h, 8), F.lit(gen.N_HOSTS))
        )
        host = F.concat(
            F.lit("host"),
            F.lpad(idx.cast("string"), 4, "0"),
            F.lit(f"-{spec['tag']}.example.com"),
        )
        path = F.concat(
            F.lit("/p/"), F.pmod(F.shiftright(h, 24), F.lit(gen.PATHS_PER_HOST)).cast("string")
        )
        variant = F.pmod(F.shiftright(h, 40), F.lit(4))
        url = (
            F.when(variant == 0, F.concat(F.lit("HTTP://"), F.upper(host), F.lit(":80"), path))
            .when(variant == 1, F.concat(F.lit("http://"), host, path, F.lit("#frag")))
            .otherwise(F.concat(F.lit("http://"), host, path))
        )
        priority = F.pmod(F.shiftright(h, 48), F.lit(1000)).cast("double") / 10.0
        return batch.select(
            "url_hash",
            F.explode(F.sequence(F.lit(0), F.lit(gen.FANOUT - 1))).alias("_i"),
        ).select(url.alias("url"), priority.alias("priority"))

    # -- running -------------------------------------------------------------

    def _crawl(self, store_dir: str, rounds: int):
        from wbx.checkpoint import run_crawl

        store = ClockedStore(store_dir)
        seeds, hosts, robots = self._inputs()
        t0 = time.perf_counter()
        error = None
        try:
            run_crawl(
                self.ctx.spark,
                store,
                seeds,
                self.expand,
                hosts,
                robots,
                rounds=rounds,
                default_budget=self.DEFAULT_BUDGET,
                compact_every=self.COMPACT_EVERY,
                bloom_bits=self.BLOOM_BITS,
            )
        except Exception as e:  # a failed round is a failed operation
            error = f"{type(e).__name__}: {e}"
        t1 = time.perf_counter()
        return store, [t0, *store.commit_ends, t1], error

    def warm(self) -> None:
        """One crawl_round over a tenth of the seeds into the noop sink.
        It pays most of the JVM's first-plan and codegen cost; a committed
        1-round warm-up crawl costs about 1.5x as much on a 4-core host
        (25 s against 17 s) and the crawl already dominates run time."""
        from wbx.frontier import crawl_round, empty_seen_bloom, release_rank_caches

        spark = self.ctx.spark
        seeds, hosts, robots = self._inputs()
        seen = spark.createDataFrame([], "url_hash long, canon_url string")
        _noop(
            crawl_round(
                seeds.limit(self.N_SEEDS // 10), seen, hosts, robots,
                default_budget=self.DEFAULT_BUDGET, bloom=empty_seen_bloom(spark),
            )
        )
        release_rank_caches()

    def unit(self) -> list[Op]:
        self.n_units += 1
        if self.ctx.tracer is not None:
            self.ctx.tracer.unit = self.n_units
            self.ctx.tracer.round = 0
        store_dir = os.path.join(self.dir, f"store-{self.n_units}")
        self._pending = self._crawl(store_dir, self.ROUNDS)
        return []

    def check(self, _ops: list[Op]) -> list[Op]:
        """The crawl's rounds as operations, checked against the committed
        fetch_log (outside the timed region: it reads the whole log)."""
        store, bounds, error = self._pending
        committed = store.latest_round()
        bad = self._check(store.base, committed) if committed else {}
        if self.candidates is None and committed == self.ROUNDS and not bad:
            self.candidates = self._candidates(store)
        ops = []
        for r in range(1, self.ROUNDS + 1):
            if r > committed:
                ops.append(Op("round", 0.0, 0, False, [error or "round not committed"]))
                continue
            # round r spans its commit and the previous round's tail
            # (compaction, reload); the last round also spans its own tail
            end = bounds[r] if r < committed else bounds[-1]
            items = self.candidates[r - 1] if self.candidates else 0
            ops.append(Op("round", end - bounds[r - 1], items, r not in bad, bad.get(r, [])))
        if self.first_store is None:
            self.first_store = store.base
        else:
            shutil.rmtree(store.base, ignore_errors=True)
        return ops

    def _check(self, base: str, committed: int) -> dict[int, list[str]]:
        from pyspark.sql import functions as F

        spark = self.ctx.spark
        fl = spark.read.parquet(os.path.join(base, "rounds", "r*", "fetch_log"))
        rows = fl.select("round", "fetch_order", "canon_url", "host").toArrow().to_pylist()
        fps = {
            r["round"]: r["fp"]
            for r in fl.groupBy("round")
            .agg(_fingerprint(fl.columns).alias("fp"))
            .collect()
        }
        bad = checks.check_crawl(rows, self.budgets, self.deny, committed)
        for r, fp in fps.items():
            want = self.round_fps.setdefault(r, fp)
            if fp != want:
                bad.setdefault(r, []).append(
                    f"round {r}: fetch_log fingerprint {fp} != {want} of an earlier crawl"
                )
        return bad

    def _candidates(self, store) -> list[int]:
        """Candidate URLs each round read: the seeds, then the frontier
        table the previous round committed."""
        spark = self.ctx.spark
        out = [spark.read.parquet(self.paths["seeds"]).count()]
        for r in range(1, self.ROUNDS):
            out.append(store.load(spark, "frontier", r).count())
        return out

    # -- traced figures ------------------------------------------------------

    def exact_counts(self) -> dict:
        """Per-round funnel counts of the first timed crawl, computed after
        the run from its committed tables, and the sketch false-positive
        rate over unseen candidates."""
        from pyspark.sql import functions as F

        from wbx.frontier import bloom_might_contain, with_canonical

        spark = self.ctx.spark
        store = CheckpointStore(self.first_store)
        seeds, _, _ = self._inputs()
        fl = spark.read.parquet(os.path.join(store.base, "rounds", "r*", "fetch_log"))
        cand_total = unseen_total = maybe_total = fp_base = 0
        for r in range(1, self.ROUNDS + 1):
            cand = seeds if r == 1 else store.load(spark, "frontier", r - 1)
            keys = with_canonical(cand.select("url")).select("url_hash", "canon_url").distinct()
            prior = fl.filter(F.col("round") < r).select("url_hash", "canon_url")
            unseen = keys.join(prior, ["url_hash", "canon_url"], "left_anti")
            cand_total += cand.count()
            if r == 1:
                unseen_total += unseen.count()
                continue
            sketch = store.load(spark, "seen_bloom", r - 1)
            row = (
                bloom_might_contain(unseen, sketch, 64, "broadcast")
                .agg(F.count("*").alias("n"), F.sum(F.col("_maybe_seen").cast("int")).alias("m"))
                .collect()[0]
            )
            unseen_total += row["n"]
            fp_base += row["n"]
            maybe_total += row["m"] or 0
        scheduled = fl.count()
        return {
            "frontier.candidates": cand_total,
            "frontier.unseen": unseen_total,
            "frontier.scheduled": scheduled,
            "frontier.scheduled_ratio": scheduled / cand_total if cand_total else 0.0,
            "frontier.sketch_fp_rate": maybe_total / fp_base if fp_base else 0.0,
            "checkpoint.bytes_per_key": tr.dir_bytes(store.base) / scheduled if scheduled else 0.0,
        }

    def layers(self, spans, executions, jobs) -> dict:
        rounds: dict = {}
        for s in spans:
            if isinstance(s["op"], str):
                rounds.setdefault(s["op"], []).append(s)
        ex_by_span = _ex_by_span(executions)
        jobs_by_span: dict = {}
        for j in jobs:
            jobs_by_span[j["span"]] = jobs_by_span.get(j["span"], 0) + 1

        def dur(s):
            return s["end"] - s["start"]

        keys = ("build", "exec", "jobs", "shuffle", "spill", "sketch", "commit", "load")
        per: dict[str, list] = {k: [] for k in keys}
        compact, compact_bytes = [], []
        for op, ss in rounds.items():
            by = lambda name: [s for s in ss if s["name"] == name]  # noqa: E731
            ids = {s["id"] for s in ss}
            exs = [e for sid in ids for e in ex_by_span.get(sid, [])]
            per["build"].append(sum(dur(s) for s in by("frontier.crawl_round")))
            per["exec"].append(sum(dur(s) for s in by("write:frontier")))
            per["sketch"].append(sum(dur(s) for s in by("write:seen_bloom")))
            per["commit"].append(
                sum(dur(s) for s in by("checkpoint.commit")) - per["exec"][-1] - per["sketch"][-1]
            )
            per["load"].append(
                sum(dur(s) for s in by("checkpoint.load_seen_split") + by("checkpoint.load"))
            )
            per["jobs"].append(sum(jobs_by_span.get(sid, 0) for sid in ids))
            per["shuffle"].append(tr.metric_sum(exs, "shuffle bytes written"))
            per["spill"].append(tr.metric_sum(exs, "spill size"))
            for s in by("checkpoint.compact_seen"):
                compact.append(dur(s))
                compact_bytes.append(s.get("bytes", 0))
        return {
            "frontier.build_s": median(per["build"]),
            "frontier.exec_s": median(per["exec"]),
            "frontier.jobs": median(per["jobs"]),
            "frontier.shuffle_bytes": median(per["shuffle"]),
            "frontier.spill_bytes": median(per["spill"]),
            "checkpoint.sketch_s": median(per["sketch"]),
            "checkpoint.commit_s": median(per["commit"]),
            "checkpoint.load_s": median(per["load"]),
            "checkpoint.compact_s": median(compact),
            "checkpoint.compact_bytes": median(compact_bytes),
            **self.exact_counts(),
        }

    def details(self) -> dict:
        return {"round_fingerprints": {str(k): v for k, v in sorted(self.round_fps.items())}}


class ClockedStore(CheckpointStore):
    """A CheckpointStore that records when each round's commit is
    published, the only round boundary run_crawl exposes."""

    def __init__(self, base_dir: str):
        super().__init__(base_dir)
        self.commit_ends: list[float] = []

    def commit(self, round_id, tables):
        out = super().commit(round_id, tables)
        self.commit_ends.append(time.perf_counter())
        return out


# ---------------------------------------------------------------------------
# extract
# ---------------------------------------------------------------------------


class Extract:
    """Byte-exact text extraction: plain .warc files through
    scan_files_to_text, record-per-member .warc.gz archives through the
    splittable index_gzip_splits -> scan_splits_to_text path; one
    operation is one full pass over both, ending in a whole-output
    fingerprint aggregate."""

    name = "extract"
    PLAIN_FILES = 16
    PLAIN_RECORDS = 500
    GZ_FILES = 2
    GZ_RECORDS = 2000
    SPLIT_TARGET = 128 << 10
    # after one warm-up pass the next still runs 10-30% slow (JIT)
    WARM_UNITS = 2

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.dir = os.path.join(ctx.work, "extract")
        self.fp_all: int | None = None
        self.decode_fail = 0
        self.texts = gen.load_texts()

    def land(self, rep: int) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        shutil.rmtree(self.dir, ignore_errors=True)
        self.corpus = gen.extract_corpus(
            self.ctx.seed,
            self.dir,
            self.PLAIN_FILES,
            self.PLAIN_RECORDS,
            self.GZ_FILES,
            self.GZ_RECORDS,
            texts=self.texts,
        )
        exp = self.corpus.pop("expected")
        self.expected_path = os.path.join(self.dir, "expected.parquet")
        pq.write_table(
            pa.table({"url": [u for u, _ in exp], "text": [t for _, t in exp]}),
            self.expected_path,
        )

    def warm(self) -> None:
        from pyspark.sql import functions as F

        row = (
            self.ctx.spark.read.parquet(self.expected_path)
            .agg(_fingerprint(["url", "text"]).alias("fp"), F.count("*").alias("n"))
            .collect()[0]
        )
        self.expected_fp, self.expected_n = row["fp"], row["n"]
        for _ in range(self.WARM_UNITS):
            op = self.unit()[0]
            if not op.ok:
                raise RuntimeError(f"warm-up extract pass failed: {op.problems}")

    def _gz_paths(self):
        d = self.corpus["gz_dir"]
        return self.ctx.spark.createDataFrame(
            [(os.path.join(d, f),) for f in sorted(os.listdir(d))], "path string"
        )

    def _splits(self):
        from wbx import warcio
        from wbx.schema import ARCHIVE_SPLITS

        rows = warcio.index_gzip_splits(self._gz_paths(), self.SPLIT_TARGET).collect()
        return self.ctx.spark.createDataFrame(rows, ARCHIVE_SPLITS)

    def unit(self) -> list[Op]:
        from wbx import warcio

        spark = self.ctx.spark
        t0 = time.perf_counter()
        try:
            with self.ctx.span("warcio.split_index"):
                splits = self._splits()
            files = _binary_files(spark, self.corpus["plain_dir"])
            text = warcio.scan_files_to_text(files).unionByName(warcio.scan_splits_to_text(splits))
            with self.ctx.span("extract.text_pass"):
                row = text_summary(text)
        except Exception as e:
            return [Op("pass", time.perf_counter() - t0, 0, False, [f"{type(e).__name__}: {e}"])]
        dt = time.perf_counter() - t0
        self.decode_fail += sum(row[f"null_{e}"] for e in gen.ENCODINGS)
        problems = checks.check_extract(row, self.expected_fp, self.expected_n, self.fp_all)
        if self.fp_all is None and not problems:
            self.fp_all = row["fp_all"]
        return [Op("pass", dt, row["n_text"], not problems, problems)]

    def check(self, ops: list[Op]) -> list[Op]:
        return ops

    def scan_prefix(self, splits):
        from wbx import warcio

        files = _binary_files(self.ctx.spark, self.corpus["plain_dir"])
        return warcio.scan_files_to_records(files, columns=OFFSET_COLUMNS).unionByName(
            warcio.scan_splits_to_records(splits, columns=OFFSET_COLUMNS)
        )

    def layers(self, spans, executions, jobs) -> dict:
        from pyspark.sql import functions as F

        from wbx import warcio

        # the split index is built once here: the text pass span it is
        # compared with does not contain it either
        splits = self._splits()
        scan_s = _timed_noop(self.ctx, lambda: self.scan_prefix(splits))
        counts = _record_counts(self.scan_prefix(splits))
        files = _binary_files(self.ctx.spark, self.corpus["plain_dir"])
        unparsable = warcio.scan_files_to_unparsable(files).agg(F.count("*")).collect()[0][0]
        passes = [s for s in spans if s["name"] == "extract.text_pass" and s["op"] is not None]
        ex_by_span = _ex_by_span(executions)
        py, boot, out = [], [], []
        for s in passes:
            exs = ex_by_span.get(s["id"], [])
            py.append(tr.metric_sum(exs, "time to run Python workers"))
            boot.append(tr.metric_sum(exs, "time to start Python workers"))
            out.append(tr.metric_sum(exs, "data returned from Python workers"))
        text_pass = median(s["end"] - s["start"] for s in passes)
        return {
            "warcio.scan_s": scan_s,
            "warcio.split_index_s": median(
                s["end"] - s["start"]
                for s in spans
                if s["name"] == "warcio.split_index" and s["op"] is not None
            ),
            "warcio.python_s": median(py),
            "warcio.python_boot_s": median(boot),
            "warcio.arrow_bytes_out": median(out),
            "warcio.records": counts["records"],
            "warcio.unparsable_lines": unparsable,
            "warcio.gz_members": counts["gz_members"],
            "extract.self_s": text_pass - scan_s,
            "extract.decode_fail": self.decode_fail,
        }

    def details(self) -> dict:
        return {
            "fp_all": self.fp_all,
            "expected_fp_text": self.expected_fp,
            "planted_junk_lines": self.corpus["junk_lines"],
            "records_per_encoding": self.corpus["per_encoding"],
        }


def text_summary(text) -> dict:
    """One aggregate over the whole extracted output: record counts, the
    fingerprint of every output column, the (url, text) fingerprint of the
    records that have text, and null-text counts per Content-Encoding (the
    encoding is planted in each URL)."""
    from pyspark.sql import functions as F

    enc = F.regexp_extract("target_uri", r"/(gzip|br|zstd)/", 1)
    aggs = [
        F.count("*").alias("n"),
        F.count("text").alias("n_text"),
        _fingerprint(text.columns).alias("fp_all"),
        F.bit_xor(F.when(F.col("text").isNotNull(), F.xxhash64("target_uri", "text"))).alias(
            "fp_text"
        ),
    ]
    aggs += [
        F.sum(F.when(F.col("text").isNull() & (enc == e), 1).otherwise(0)).alias(f"null_{e}")
        for e in gen.ENCODINGS
    ]
    return text.agg(*aggs).collect()[0].asDict()


def _ex_by_span(executions) -> dict:
    out: dict = {}
    for ex in executions:
        out.setdefault(ex["span"], []).append(ex)
    return out


def _timed_noop(ctx: Ctx, build, reps: int = 3) -> float:
    """Median wall time of a noop-sink write of ``build()``."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        _noop(build())
        times.append(time.perf_counter() - t0)
    return median(times)


def _record_counts(records) -> dict:
    from pyspark.sql import functions as F

    row = records.agg(
        F.count("*").alias("records"),
        F.count_distinct(
            F.when(F.col("member_start").isNotNull(), F.struct("source_file", "member_start"))
        ).alias("gz_members"),
    ).collect()[0]
    return {"records": row["records"], "gz_members": row["gz_members"]}


# ---------------------------------------------------------------------------
# archive
# ---------------------------------------------------------------------------


class Archive:
    """warcbench's query surface over a request/response corpus and a
    perturbed second version: summarize, match_pairs and compare_headers in
    rotation, each from a fresh full-row scan_files_to_records."""

    name = "archive"
    N_DOCS = 2_000
    N_FILES = 8
    KINDS = ("summarize", "pairs", "compare")
    # after one warm-up cycle the next still runs ~10% slow (JIT)
    WARM_UNITS = 2

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.dir = os.path.join(ctx.work, "archive")
        self.fps: dict[str, int] = {}
        self.texts = gen.load_texts()

    def land(self, rep: int) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)
        self.corpus = gen.archive_corpus(
            self.ctx.seed, self.dir, self.N_DOCS, self.N_FILES, texts=self.texts
        )

    def warm(self) -> None:
        for _ in range(self.WARM_UNITS):
            for op in self.unit():
                if not op.ok:
                    raise RuntimeError(f"warm-up {op.kind} failed: {op.problems}")

    def _records(self, version: str):
        from wbx import warcio

        return warcio.scan_files_to_records(
            _binary_files(self.ctx.spark, self.corpus[f"{version}_dir"])
        )

    def unit(self) -> list[Op]:
        """One cycle of the three queries, so every run has as many
        operations of each kind and op_p50_s stays the same statistic."""
        return [self._op(kind) for kind in self.KINDS]

    def _op(self, kind: str) -> Op:
        from pyspark.sql import functions as F

        from wbx import analytics

        t0 = time.perf_counter()
        try:
            with self.ctx.span(f"archive.{kind}", kind=kind):
                if kind == "summarize":
                    parts = analytics.summarize(self._records("v1"))
                    got = {"record_count": parts["record_count"].collect()[0][0]}
                    for key in ("record_types", "domains", "content_types"):
                        got[key] = {r[0]: r[1] for r in parts[key].collect()}
                    items = self.corpus["v1_records"]
                    problems = checks.check_summary(got, self.corpus["summary"])
                else:
                    if kind == "pairs":
                        out, col = analytics.match_pairs(self._records("v1")), "pair_type"
                        want = self.corpus["pairs"]
                        items = self.corpus["v1_records"]
                    else:
                        out = analytics.compare_headers(
                            self._records("v1"),
                            self._records("v2"),
                            near_match_fields=["WARC-Payload-Digest"],
                        )
                        col, want = "status", self.corpus["compare"]
                        items = self.corpus["v1_records"] + self.corpus["v2_records"]
                    counts = out.groupBy(col).agg(
                        F.count("*").alias("n"), _fingerprint(out.columns).alias("fp")
                    ).collect()
                    got = {r[0]: r["n"] for r in counts}
                    fp = 0
                    for r in counts:
                        fp ^= r["fp"]
                    problems = checks.check_counts(kind, got, want)
                    prev = self.fps.setdefault(kind, fp)
                    if fp != prev:
                        problems.append(
                            f"{kind}: output fingerprint {fp} != {prev} of an earlier operation"
                        )
        except Exception as e:
            return Op(kind, time.perf_counter() - t0, 0, False, [f"{type(e).__name__}: {e}"])
        return Op(kind, time.perf_counter() - t0, items, not problems, problems)

    def check(self, ops: list[Op]) -> list[Op]:
        return ops

    def scan_prefix(self, version: str):
        from wbx import warcio

        return warcio.scan_files_to_records(
            _binary_files(self.ctx.spark, self.corpus[f"{version}_dir"]), columns=OFFSET_COLUMNS
        )

    def layers(self, spans, executions, jobs) -> dict:
        from pyspark.sql import functions as F

        from wbx import warcio

        scan1 = _timed_noop(self.ctx, lambda: self.scan_prefix("v1"))
        scan2 = _timed_noop(self.ctx, lambda: self.scan_prefix("v2"))
        c1 = _record_counts(self.scan_prefix("v1"))
        c2 = _record_counts(self.scan_prefix("v2"))
        unparsable = 0
        for v in ("v1", "v2"):
            files = _binary_files(self.ctx.spark, self.corpus[f"{v}_dir"])
            unparsable += warcio.scan_files_to_unparsable(files).agg(F.count("*")).collect()[0][0]
        ops = [s for s in spans if s["name"].startswith("archive.") and s["op"] is not None]
        ex_by_span = _ex_by_span(executions)
        nested = {s["id"]: tr.under(spans, {s["id"]}) for s in ops}

        def exs(s):
            return [e for sid in nested[s["id"]] for e in ex_by_span.get(sid, [])]

        kind_t = {k: [] for k in self.KINDS}
        cycles: dict = {}
        arrow = []
        for s in ops:
            kind_t[s["kind"]].append(s["end"] - s["start"])
            e = exs(s)
            arrow.append(tr.metric_sum(e, "data returned from Python workers"))
            cyc = cycles.setdefault(s["op"], [0.0, 0, 0])
            cyc[0] += tr.metric_sum(e, "shuffle bytes written")
            cyc[1] += tr.node_count(e, "Exchange")
            cyc[2] += 1
        full = [c for c in cycles.values() if c[2] == len(self.KINDS)]
        return {
            "warcio.scan_s": scan1,
            "warcio.arrow_bytes_out": median(arrow),
            "warcio.records": c1["records"] + c2["records"],
            "warcio.unparsable_lines": unparsable,
            "warcio.gz_members": c1["gz_members"] + c2["gz_members"],
            "analytics.summarize_s": median(kind_t["summarize"]) - scan1,
            "analytics.pairs_s": median(kind_t["pairs"]) - scan1,
            "analytics.compare_s": median(kind_t["compare"]) - scan1 - scan2,
            "analytics.shuffle_bytes": median(c[0] for c in full),
            "analytics.exchanges": median(c[1] for c in full),
        }

    def details(self) -> dict:
        return {
            "fingerprints": self.fps,
            "expected": {k: self.corpus[k] for k in ("pairs", "compare")},
        }


WORKLOADS = {"crawl": Crawl, "extract": Extract, "archive": Archive}
