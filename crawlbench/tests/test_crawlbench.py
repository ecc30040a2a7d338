"""The benchmark's own tests: a tiny-scale smoke run of every workload,
traced and untraced, and the output check's failure path.

    python3 -m pytest crawlbench/tests -q

The smoke runs start one Spark session each (a few minutes in total).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from crawlbench import checks, run
from crawlbench.workloads import SIZES, Outcome

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _leftovers() -> list[str]:
    """Command lines of processes a benchmark run starts, if any still run."""
    marks = ("crawlbench/run.py", "SparkSubmit", "pyspark.daemon", "multiprocessing")
    mine, pid = set(), os.getpid()  # this test and the processes above it
    while pid > 0:
        mine.add(str(pid))
        with open(f"/proc/{pid}/stat") as f:
            pid = int(f.read().rsplit(")", 1)[1].split()[1])
    out = []
    for pid in set(filter(str.isdigit, os.listdir("/proc"))) - mine:
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        if any(m in cmd for m in marks):
            out.append(cmd)
    return out


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_matches_runner():
    spec = _bench_json()
    assert {w["name"] for w in spec["workloads"]} <= set(SIZES)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.LAYER_UNITS


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(SIZES))
def test_smoke_prints_every_metric_with_unit(workload, trace):
    proc = subprocess.run(
        [sys.executable, "crawlbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert _leftovers() == []
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1 + trace
    spec = _bench_json()["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))


def test_runner_refuses_a_tree_without_the_engine(tmp_path):
    (tmp_path / "crawlbench").mkdir()
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "crawlbench", "run.py"), "--workload",
         "corpus_prep", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def _tiny_crawl_inputs():
    from basic_common_crawl_pipeline_spark.plans.config import CrawlConfig

    from crawlbench import inputs

    c = inputs.synth_crawl_corpus(seed=3, n_pages=120, n_hosts=6, n_seeds=5)
    return c, CrawlConfig(wave_seconds=16.0, max_waves=3)


def test_crawl_check_accepts_the_oracle_and_rejects_a_corrupted_digest():
    c, config = _tiny_crawl_inputs()
    expected = checks.oracle_crawl_digests(c.pages, c.seeds, c.robots, config)
    assert checks.compare(expected, checks.oracle_crawl_digests(c.pages, c.seeds, c.robots, config)) == []
    corrupted = dict(expected, text="0" * 32)
    assert checks.compare(corrupted, expected) == ["text"]


def test_prep_reference_drops_duplicates_repeats_and_contamination():
    docs = [
        {"doc_id": 1, "text": "alpha beta gamma delta epsilon zeta eta theta"},
        {"doc_id": 2, "text": "  alpha beta  gamma delta epsilon zeta eta theta"},
        {"doc_id": 3, "text": " ".join(["spam", "ham"] * 10)},
        {"doc_id": 4, "text": "one two three four five six seven"},
        {"doc_id": 5, "text": "clean words that stay in the corpus today"},
    ]
    bench = [{"bid": 0, "text": "x one two three four five y"}]
    assert [d["doc_id"] for d in checks.reference_kept(docs, bench)] == [1, 5]


class _FakeWorkload:
    """Returns a fixed output; the check decides."""

    name = "fake"

    def __init__(self, digests: dict) -> None:
        self.digests = digests

    def call(self, i, traced):
        return Outcome(0.0, 1.0, [1.0], [0.0, 1.0, 1.0], urls=1, docs=1)

    def actual(self, out):
        return self.digests

    def discard(self, i):
        pass


def test_loop_counts_a_corrupted_expected_digest_as_failed():
    c, config = _tiny_crawl_inputs()
    good = checks.oracle_crawl_digests(c.pages, c.seeds, c.robots, config)
    ok = run.Loop(_FakeWorkload(good), dict(good))
    ok.once(False)
    assert (ok.attempted, ok.failed) == (1, 0)
    bad = run.Loop(_FakeWorkload(good), dict(good, crawl_order="f" * 32))
    bad.once(False)
    assert (bad.attempted, bad.failed) == (1, 1)
