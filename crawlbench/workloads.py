"""The four workloads: seeded inputs, the timed user-facing call, and the
output check.

Each workload has the same life cycle, driven by ``run.py``:

- ``build(dir)``: generate the seeded inputs and write them (set-up,
  repeated so set-up time has a median);
- ``load()``: hand the inputs to the engine (set-up, once);
- ``expected()``: the single-node reference digests (outside any clock);
- ``call(i, traced)``: the user-facing call, timed; returns an ``Outcome``.
  The first call of a process runs cold, as a ``spark-submit`` of
  ``main.py crawl`` or ``main.py prep`` does;
- ``actual(outcome)``: digests of what the call produced (outside any
  clock);
- ``replays(...)``: the traced run's single-layer replays (``layers``).
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import shutil
import time
from dataclasses import dataclass, field

from . import checks, inputs

# sizes per scale: "full" is what BENCHMARK.json runs, "tiny" is the
# smoke-test scale of crawlbench/tests
SIZES = {
    "frontier_smallwaves": {
        # few hosts and many seeds: per-host budgets bind in every wave
        # (120 URLs), so the URLs a call crawls hardly depend on the seed
        "full": {"pages": 3000, "hosts": 8, "seeds": 2000, "waves": 3},
        "tiny": {"pages": 200, "hosts": 8, "seeds": 6, "waves": 2},
    },
    "frontier_bigwave": {
        "full": {"pages": 16000, "threshold": 8000},
        "tiny": {"pages": 400, "threshold": 100},
    },
    "warc_fetch_extract": {
        "full": {"pages": 6000, "hosts": 150, "batches": 4},
        "tiny": {"pages": 200, "hosts": 8, "batches": 2},
    },
    "corpus_prep": {
        "full": {"docs": 2500},
        "tiny": {"docs": 120},
    },
}


@dataclass
class Outcome:
    start: float
    end: float
    marks: list[float]  # one timestamp per progress unit (wave or batch)
    cpu: list[float]    # CpuClock at start, at each mark, at end
    urls: int           # URLs fetched and extracted
    docs: int           # input documents
    data: dict = field(default_factory=dict)

    @property
    def run_s(self) -> float:
        return self.end - self.start

    @property
    def cpu_s(self) -> float:
        return self.cpu[-1] - self.cpu[0]

    def unit_cpu_s(self) -> list[float]:
        return [b - a for a, b in zip(self.cpu[:-2], self.cpu[1:-1])]

    def unit_spans(self) -> list[tuple[float, float]]:
        edges = [self.start] + self.marks
        return list(zip(edges, edges[1:]))


class Workload:
    name = ""

    def __init__(self, spark, work_dir: str, seed: int, scale: str) -> None:
        from .tracing import CpuClock

        self.spark = spark
        self.cpu = CpuClock(spark.sparkContext._gateway.proc.pid)
        self.work = work_dir
        self.seed = seed
        self.size = SIZES[self.name][scale]
        self.input_dir: str | None = None

    def out_dir(self, i: int) -> str:
        return os.path.join(self.work, f"out-{i}")

    def discard(self, i: int) -> None:
        shutil.rmtree(self.out_dir(i), ignore_errors=True)


# ---------------------------------------------------------------------------
# crawl workloads
# ---------------------------------------------------------------------------


class _Crawl(Workload):
    def build(self, d: str) -> None:
        self.pages, self.seeds, self.robots = self._rows()
        inputs.write_table(os.path.join(d, "pages"), self.pages, inputs.PAGES_SCHEMA, files=8)
        inputs.write_table(os.path.join(d, "seeds"), self.seeds, inputs.SEEDS_SCHEMA)
        inputs.write_table(os.path.join(d, "robots"), self.robots, inputs.ROBOTS_SCHEMA)
        self.input_dir = d

    def load(self) -> None:
        from pyspark.sql.pandas.types import from_arrow_schema

        def read(name, schema):
            return self.spark.read.schema(from_arrow_schema(schema)).parquet(
                os.path.join(self.input_dir, name)
            )

        self.pages_df = read("pages", inputs.PAGES_SCHEMA)
        self.seeds_df = read("seeds", inputs.SEEDS_SCHEMA)
        self.robots_df = read("robots", inputs.ROBOTS_SCHEMA)

    def expected(self) -> dict:
        return checks.oracle_crawl_digests(self.pages, self.seeds, self.robots, self.config)

    def call(self, i: int, traced: bool) -> Outcome:
        from basic_common_crawl_pipeline_spark.plans.crawl import run_crawl
        from basic_common_crawl_pipeline_spark.sources.snapshots import SnapshotStore

        from .tracing import TracingStore

        root = self.out_dir(i)
        store = TracingStore(root) if traced else SnapshotStore(root)
        marks: list[float] = []
        cpu = [self.cpu()]

        def progress(_metrics) -> None:
            marks.append(time.time())
            cpu.append(self.cpu())

        start = time.time()
        state = run_crawl(
            self.spark, self.pages_df, self.seeds_df, self.robots_df, self.config,
            store=store, progress=progress,
        )
        end = time.time()
        cpu.append(self.cpu())
        return Outcome(
            start, end, marks, cpu,
            urls=sum(m["selected"] for m in state.metrics),
            docs=len(self.pages),
            data={"store": store, "metrics": state.metrics},
        )

    def actual(self, out: Outcome) -> dict:
        return checks.store_crawl_digests(out.data["store"].root, out.data["metrics"])

    def replays(self, spark, status, tracer, parent, last: Outcome) -> dict:
        from basic_common_crawl_pipeline_spark.sources.warc import write_warc_corpus

        from . import layers

        m = layers.functions_layer(spark, status, tracer, parent, self.pages)
        m.update(layers.operators_layer(
            spark, tracer, parent, last.data["store"], self.robots_df, self.config
        ))
        # the crawl's own pages as WARC files + CDX: the ingestion path
        cdx = write_warc_corpus(spark, self.pages_df, os.path.join(self.work, "warc"),
                                status_col="status")
        m.update(layers.warc_layer(spark, tracer, parent, cdx))
        return m


class FrontierSmallWaves(_Crawl):
    """run_crawl as ``main.py crawl`` runs it: snapshot store on,
    per-wave metrics on, join strategy "auto"; every wave stays far
    under the broadcast threshold."""

    name = "frontier_smallwaves"

    def _rows(self):
        from basic_common_crawl_pipeline_spark.plans.config import CrawlConfig

        s = self.size
        self.config = CrawlConfig(
            wave_seconds=16.0, max_waves=s["waves"], collect_metrics=True,
            broadcast_frontier="auto",
        )
        c = inputs.synth_crawl_corpus(self.seed, s["pages"], s["hosts"], s["seeds"])
        return c.pages, c.seeds, c.robots


class FrontierBigWave(_Crawl):
    """One wave over a frontier above the broadcast threshold: shuffle
    joins, salted politeness, range-partitioned sequencer, then one
    large commit."""

    name = "frontier_bigwave"

    def _rows(self):
        from basic_common_crawl_pipeline_spark.plans.config import CrawlConfig

        s = self.size
        self.config = CrawlConfig(
            wave_seconds=float(1 << 20), max_waves=1, collect_metrics=True,
            broadcast_frontier="auto", broadcast_threshold=s["threshold"],
        )
        return inputs.bigwave_corpus(self.seed, s["pages"])


# ---------------------------------------------------------------------------
# warc_fetch_extract: the reference worker loop over CDX batches
# ---------------------------------------------------------------------------


class WarcFetchExtract(Workload):
    """CDX batch → range fetch → response extraction → per-host text
    aggregate, one batch after another like the reference worker."""

    name = "warc_fetch_extract"

    def build(self, d: str) -> None:
        s = self.size
        c = inputs.synth_crawl_corpus(self.seed, s["pages"], s["hosts"], 1)
        self.pages = c.pages
        inputs.write_table(os.path.join(d, "pages"), self.pages, inputs.PAGES_SCHEMA, files=4)
        self.input_dir = d

    def load(self) -> None:
        import pyarrow.parquet as pq

        from basic_common_crawl_pipeline_spark.sources.warc import write_warc_corpus

        warc_dir = os.path.join(self.input_dir, "warc")
        pages = self.spark.read.parquet(os.path.join(self.input_dir, "pages"))
        write_warc_corpus(self.spark, pages, warc_dir, status_col="status")
        cdx = pq.read_table(os.path.join(warc_dir, "_cdx.parquet")).to_pylist()
        cdx.sort(key=lambda r: (r["filename"], r["offset"]))
        k = self.size["batches"]
        self.batches = []
        for b in range(k):
            path = os.path.join(self.input_dir, f"cdx-batch-{b}")
            inputs.write_table(path, cdx[b * len(cdx) // k : (b + 1) * len(cdx) // k],
                               inputs.CDX_SCHEMA)
            self.batches.append(path)
        self.n_records = len(cdx)

    def expected(self) -> dict:
        return checks.oracle_warc_digests(self.pages)

    def call(self, i: int, traced: bool) -> Outcome:
        from pyspark.sql import functions as F

        from basic_common_crawl_pipeline_spark.sources.warc import (
            extract_responses,
            fetch_warc_records,
        )

        marks: list[float] = []
        cpu = [self.cpu()]
        totals: dict[str, list[int]] = {}
        start = time.time()
        for path in self.batches:
            resp = extract_responses(fetch_warc_records(self.spark.read.parquet(path)))
            keyed = F.concat(F.col("url"), F.lit("\t"), F.col("text"))
            rows = (
                resp.groupBy(F.regexp_extract("url", r"^https?://([^/]+)", 1).alias("host"))
                .agg(
                    F.count("*").alias("records"),
                    F.count("text").alias("extracted"),
                    F.coalesce(F.sum(F.length("text")), F.lit(0)).alias("chars"),
                    F.coalesce(
                        F.sum(F.conv(F.substring(F.md5(keyed), 1, 8), 16, 10).cast("long")),
                        F.lit(0),
                    ).alias("key_sum"),
                )
                .collect()
            )
            for r in rows:
                t = totals.setdefault(r["host"], [0, 0, 0, 0])
                for j, c in enumerate(("records", "extracted", "chars", "key_sum")):
                    t[j] += int(r[c])
            marks.append(time.time())
            cpu.append(self.cpu())
        end = time.time()
        cpu.append(cpu[-1])
        return Outcome(
            start, end, marks, cpu,
            urls=sum(t[1] for t in totals.values()),
            docs=self.n_records,
            data={"totals": totals},
        )

    def actual(self, out: Outcome) -> dict:
        return checks.warc_digests((h, *v) for h, v in out.data["totals"].items())

    def replays(self, spark, status, tracer, parent, last: Outcome) -> dict:
        from . import layers

        m = layers.functions_layer(spark, status, tracer, parent, self.pages)
        m.update(layers.warc_layer(spark, tracer, parent, spark.read.parquet(*self.batches)))
        return m


# ---------------------------------------------------------------------------
# corpus_prep: the ``main.py prep`` chain
# ---------------------------------------------------------------------------

PREP_MERGES = 6
PREP_BUDGET = 512


class CorpusPrep(Workload):
    """exact dedup → repetition gate → decontaminate → BPE train/encode
    → pack → shard write, through ``main._run_prep``."""

    name = "corpus_prep"

    def build(self, d: str) -> None:
        self.docs, self.bench = inputs.prep_corpus(self.seed, self.size["docs"])
        inputs.write_table(os.path.join(d, "documents"), self.docs, inputs.DOCS_SCHEMA, files=4)
        inputs.write_table(os.path.join(d, "benchmark"), self.bench, inputs.BENCH_SCHEMA)
        self.input_dir = d

    def load(self) -> None:
        pass  # _run_prep reads its parquet inputs itself

    def expected(self) -> dict:
        return checks.oracle_prep_digests(self.docs, self.bench, PREP_MERGES, PREP_BUDGET)

    def call(self, i: int, traced: bool) -> Outcome:
        import main

        args = argparse.Namespace(
            documents=os.path.join(self.input_dir, "documents"),
            out=self.out_dir(i),
            benchmark=os.path.join(self.input_dir, "benchmark"),
            merges=PREP_MERGES,
            budget=PREP_BUDGET,
            seqs_per_shard=1024,
        )
        buf = io.StringIO()
        cpu0, start = self.cpu(), time.time()
        with contextlib.redirect_stdout(buf):
            main._run_prep(self.spark, args)
        end, cpu1 = time.time(), self.cpu()
        summary = json.loads(buf.getvalue().strip().splitlines()[-1])
        # the chain reports no progress of its own: the call is its one unit
        return Outcome(
            start, end, [end], [cpu0, cpu1, cpu1],
            urls=summary["docs_kept"],
            docs=summary["docs_in"],
            data={"summary": summary, "shards": args.out},
        )

    def actual(self, out: Outcome) -> dict:
        return checks.shard_prep_digests(out.data["summary"], out.data["shards"], PREP_BUDGET)

    def replays(self, spark, status, tracer, parent, last: Outcome) -> dict:
        from . import layers

        return layers.prep_layer(
            spark, tracer, parent, os.path.join(self.input_dir, "documents"),
            os.path.join(self.input_dir, "benchmark"), PREP_MERGES, PREP_BUDGET,
        )


WORKLOADS = {
    w.name: w for w in (FrontierSmallWaves, FrontierBigWave, WarcFetchExtract, CorpusPrep)
}
