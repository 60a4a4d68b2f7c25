"""Tests of the benchmark itself: seeded inputs, output checks, metric names.

Run from the root of a wbx checkout:

    python3 -m pytest perfbench/tests -q

The Spark-backed test (a planted wrong byte in extracted text) starts one
local session; the rest are plain Python.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import checks, gen, run  # noqa: E402


def _tree_digest(path: str) -> str:
    h = hashlib.sha256()
    for dirpath, dirs, files in sorted(os.walk(path)):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _inputs(seed: int, out: str) -> str:
    texts = gen.load_texts()
    gen.land_crawl(gen.crawl_spec(seed, 500), os.path.join(out, "crawl"))
    gen.extract_corpus(seed, os.path.join(out, "extract"), 2, 40, 1, 40, texts=texts)
    gen.archive_corpus(seed, os.path.join(out, "archive"), 200, 4, texts=texts)
    return _tree_digest(out)


class TestSeededInputs:
    def test_same_seed_same_bytes(self, tmp_path):
        assert _inputs(7, str(tmp_path / "a")) == _inputs(7, str(tmp_path / "b"))

    def test_other_seed_other_bytes(self, tmp_path):
        a = str(tmp_path / "a")
        b = str(tmp_path / "b")
        _inputs(7, a)
        _inputs(8, b)
        for part in ("crawl", "extract", "archive"):
            assert _tree_digest(os.path.join(a, part)) != _tree_digest(os.path.join(b, part))

    def test_archive_plants_every_status(self, tmp_path):
        c = gen.archive_corpus(3, str(tmp_path), 400, 4)
        assert set(c["compare"]) == {"matching", "near_matching", "unique", "skipped"}
        assert set(c["pairs"]) == {"pair", "lone_request", "lone_response"}
        assert c["summary"]["record_count"] == c["v1_records"]


def _fetch_log():
    """A valid two-round fetch log over three hosts."""
    rows = []
    rounds = (
        (1, ["http://a/p/2", "http://b/p/3", "http://a/p/4"]),
        (2, ["http://b/p/5", "http://c/x"]),
    )
    for rnd, urls in rounds:
        for i, u in enumerate(urls, 1):
            rows.append({"round": rnd, "fetch_order": i, "canon_url": u, "host": u.split("/")[2]})
    return rows


BUDGETS = {"a": 2, "b": 1, "c": 1}
DENY = checks.deny_rules([("c", "deny", "/p/1")])


class TestCrawlCheck:
    def test_valid_log_passes(self):
        assert checks.check_crawl(_fetch_log(), BUDGETS, DENY, 2) == {}

    def test_dropped_row(self):
        rows = [r for r in _fetch_log() if not (r["round"] == 1 and r["fetch_order"] == 2)]
        assert 1 in checks.check_crawl(rows, BUDGETS, DENY, 2)

    def test_url_scheduled_twice(self):
        rows = _fetch_log()
        rows.append({"round": 2, "fetch_order": 3, "canon_url": "http://a/p/2", "host": "a"})
        bad = checks.check_crawl(rows, {**BUDGETS, "a": 5}, DENY, 2)
        assert list(bad) == [2] and "again" in bad[2][0]

    def test_budget_exceeded(self):
        assert 1 in checks.check_crawl(_fetch_log(), {**BUDGETS, "a": 1}, DENY, 2)

    def test_robots_denied(self):
        rows = _fetch_log()
        rows[-1] = {**rows[-1], "canon_url": "http://c/p/17"}
        bad = checks.check_crawl(rows, BUDGETS, DENY, 2)
        assert list(bad) == [2] and "robots" in bad[2][0]

    def test_empty_round(self):
        rows = [r for r in _fetch_log() if r["round"] == 1]
        assert 2 in checks.check_crawl(rows, BUDGETS, DENY, 2)


class TestArchiveCheck:
    def test_counts(self):
        want = {"pair": 3, "lone_request": 1}
        assert checks.check_counts("pairs", dict(want), want) == []
        assert checks.check_counts("pairs", {"pair": 2, "lone_request": 1}, want)
        summary = {"record_count": 4, "record_types": {"request": 2}}
        assert checks.check_summary(dict(summary), summary) == []
        assert checks.check_summary({**summary, "record_count": 3}, summary)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    pytest.importorskip("pyspark")
    paths = (ROOT, os.environ.get("PYTHONPATH"))
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in paths if p)
    return run.start_session(2, str(tmp_path_factory.mktemp("spark")))


class TestExtractCheck:
    def test_changed_text_byte_and_dropped_row(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from perfbench import workloads
        from wbx import warcio

        c = gen.extract_corpus(5, str(tmp_path), 2, 30, 1, 30)
        exp = c.pop("expected")
        files = workloads._binary_files(spark, c["plain_dir"])
        gz = [(os.path.join(c["gz_dir"], f),) for f in sorted(os.listdir(c["gz_dir"]))]
        splits = warcio.index_gzip_splits(spark.createDataFrame(gz, "path string"), 1 << 12)
        out = warcio.scan_files_to_text(files).unionByName(warcio.scan_splits_to_text(splits))
        fp = (
            spark.createDataFrame(exp, "url string, text string")
            .agg(F.bit_xor(F.xxhash64("url", "text")))
            .collect()[0][0]
        )
        row = workloads.text_summary(out)
        assert checks.check_extract(row, fp, len(exp), None) == []
        assert checks.check_extract(row, fp, len(exp), row["fp_all"] ^ 1)

        url = F.col("target_uri") == exp[3][0]
        flipped = F.expr("overlay(text placing 'X' from 1 for 1)")
        changed = out.withColumn("text", F.when(url, flipped).otherwise(F.col("text")))
        assert checks.check_extract(workloads.text_summary(changed), fp, len(exp), None)
        dropped = out.filter(~url)
        assert checks.check_extract(workloads.text_summary(dropped), fp, len(exp), None)


class TestMetricNames:
    def test_printed_names_match_benchmark_json(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
        assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
        assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOAD_NAMES)
        for units in (run.END_TO_END, run.PER_LAYER):
            printed = run._metrics({}, units)
            assert set(printed) == set(units)
            assert all(set(v) == {"value", "unit"} for v in printed.values())
