"""Per-layer replays for the traced run.

Each function times calls into one module's public functions from
outside, on the workload's own inputs, and returns ``{metric: value}``.
Spark-side replays end in the ``noop`` sink, so they time the layer and
not a write.
"""

from __future__ import annotations

import time
from collections.abc import Iterator

import pandas as pd


def _timed(tracer, parent, name: str, fn):
    t0 = time.time()
    with tracer.span(name, parent):
        out = fn()
    return time.time() - t0, out


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# functions.extract / functions.links / functions.urls
# ---------------------------------------------------------------------------


def _extract_udf(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from basic_common_crawl_pipeline_spark.functions.links import extract_page

    for batch in batches:
        n = 0
        for url, html in zip(batch["url"].tolist(), batch["html"].tolist()):
            extract_page(html, url)
            n += 1
        yield pd.DataFrame({"n": [n]})


def functions_layer(spark, status, tracer, parent, pages: list[dict], target: int = 4000) -> dict:
    """Sequential in-process ``links.extract_page`` over the workload's
    pages, the fast-path pass rates, and the same pages through a Spark
    ``mapInPandas`` stage (the Arrow crossing)."""
    from basic_common_crawl_pipeline_spark.functions.extract import _fast_scan, decode_lossy
    from basic_common_crawl_pipeline_spark.functions.links import (
        _ABS_HREF_RE,
        _LinkCollector,
        extract_page,
    )
    from basic_common_crawl_pipeline_spark.functions.urls import _simple_triple

    sample = [(p["url"], p["html"]) for p in pages if p["html"] is not None]
    sample = (sample * (target // max(len(sample), 1) + 1))[:target]

    def sequential():
        for url, html in sample:
            extract_page(html, url)

    seq_s, _ = _timed(tracer, parent, "replay.extract_sequential", sequential)
    distinct = list(dict.fromkeys(sample))
    fast = hrefs = fast_hrefs = 0
    for _url, html in distinct:
        decoded = decode_lossy(html)
        if decoded and "<!--" not in decoded and _fast_scan(decoded) is not None:
            fast += 1
        collector = _LinkCollector()
        collector.feed(decoded or "")
        for h in collector.hrefs:
            h = h.strip()
            hrefs += 1
            if _simple_triple(h) is not None or _ABS_HREF_RE.match(h) is not None:
                fast_hrefs += 1

    df = spark.createDataFrame(
        pd.DataFrame({"url": [u for u, _ in sample], "html": [h for _, h in sample]}),
        "url string, html binary",
    ).repartition(status.cores).localCheckpoint()
    since = time.time()
    _timed(
        tracer, parent, "replay.extract_spark",
        lambda: _noop(df.mapInPandas(_extract_udf, "n long")),
    )
    stages = status.stages()
    run_s = sum(
        stages[s]["run_ms"] for j in status.jobs(since) for s in j["stages"] if s in stages
    ) / 1000.0
    return {
        "extract.page_us": seq_s / len(sample) * 1e6,
        "extract.fast_scan_ratio": fast / len(distinct),
        "urls.fast_tier_ratio": fast_hrefs / hrefs if hrefs else 0.0,
        # per-core Spark rate / sequential rate = seq time / Σ task time
        "extract.crossing_ratio": seq_s / run_s if run_s > 0 else 0.0,
    }


# ---------------------------------------------------------------------------
# sources.warc
# ---------------------------------------------------------------------------


def warc_layer(spark, tracer, parent, cdx) -> dict:
    """``fetch_warc_records`` and ``extract_responses`` over a CDX table,
    each into the noop sink."""
    from pyspark.sql import functions as F

    from basic_common_crawl_pipeline_spark.sources.warc import (
        extract_responses,
        fetch_warc_records,
    )

    fetch_s, _ = _timed(tracer, parent, "replay.warc_fetch", lambda: _noop(fetch_warc_records(cdx)))
    records = fetch_warc_records(cdx).persist()
    n_records = records.count()
    extract_s, _ = _timed(
        tracer, parent, "replay.warc_extract", lambda: _noop(extract_responses(records))
    )
    kept = extract_responses(records).filter(F.col("text").isNotNull()).count()
    records.unpersist()
    return {
        "warc.fetch_s": fetch_s,
        "warc.extract_s": extract_s,
        "warc.bytes_read": cdx.agg(F.sum("length")).collect()[0][0],
        "warc.records": n_records,
        "warc.kept_ratio": kept / n_records if n_records else 0.0,
    }


# ---------------------------------------------------------------------------
# operators.politeness / operators.ordering / operators.seen
# ---------------------------------------------------------------------------


def _surt_udf(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from basic_common_crawl_pipeline_spark.functions.urls import surt

    for batch in batches:
        batch = batch.copy()
        batch["surt"] = batch["canon_url"].map(surt)
        yield batch


def operators_layer(spark, tracer, parent, store, robots_df, config) -> dict:
    """Replays on the traced crawl's committed snapshot: the selected
    URLs (crawl_order, with surt and per-host budget) through the
    politeness top-k and the sequencer, and the seen set through the
    partitioned bloom."""
    from pyspark.sql import functions as F

    from basic_common_crawl_pipeline_spark.operators.ordering import (
        global_seq_assign,
        global_seq_sorted,
    )
    from basic_common_crawl_pipeline_spark.operators.politeness import rank_per_host_topk
    from basic_common_crawl_pipeline_spark.operators.seen import BloomSeen

    order = store.read_table(spark, "crawl_order").select(
        F.col("url").alias("canon_url"), "host", "priority"
    )
    eligible = (
        order.mapInPandas(
            _surt_udf, "canon_url string, host string, priority int, surt string"
        )
        .join(F.broadcast(robots_df.select("host", "crawl_delay")), "host", "left")
        .withColumn(
            "budget",
            F.greatest(
                F.lit(1),
                F.floor(
                    F.lit(config.wave_seconds)
                    / F.coalesce("crawl_delay", F.lit(config.default_crawl_delay))
                ),
            ),
        )
        .drop("crawl_delay")
        .localCheckpoint()
    )
    n = eligible.count()
    small = n <= config.broadcast_threshold
    topk_s, _ = _timed(
        tracer, parent, "replay.politeness_topk",
        lambda: _noop(
            rank_per_host_topk(eligible, salt_partitions=1 if small else config.salt_partitions)
        ),
    )

    def sequence():
        cache: list = []
        sorted_df = global_seq_sorted(
            eligible.drop("budget"), ["priority", "surt", "canon_url"],
            cache=cache, single_partition=small,
        )
        counts = {r["__pid"]: r["count"] for r in sorted_df.groupBy("__pid").count().collect()}
        _noop(global_seq_assign(sorted_df, counts))
        for c in cache:
            c.unpersist()

    sort_s, _ = _timed(tracer, parent, "replay.ordering_sort", sequence)

    seen = store.read_table(spark, "seen").localCheckpoint()
    n_seen = seen.count()
    bloom = BloomSeen()
    blobs = bloom.add(bloom.empty(spark), seen).localCheckpoint()
    unseen = seen.select(F.concat("canon_url", F.lit("?unseen")).alias("canon_url"))
    probe = seen.unionByName(unseen)
    contains_s, _ = _timed(
        tracer, parent, "replay.bloom_contains", lambda: _noop(bloom.contains(blobs, probe))
    )
    fp = bloom.contains(blobs, unseen).filter("bloom_hit").count()
    return {
        "politeness.topk_s": topk_s,
        "ordering.sort_s": sort_s,
        "seen.bloom_contains_s": contains_s,
        "seen.bloom_fp_ratio": fp / n_seen if n_seen else 0.0,
    }


# ---------------------------------------------------------------------------
# corpus_prep stages, each into the noop sink
# ---------------------------------------------------------------------------


def prep_layer(spark, tracer, parent, docs_path: str, bench_path: str, merges: int,
               budget: int) -> dict:
    from pyspark.sql import functions as F

    from basic_common_crawl_pipeline_spark.functions.textstats import repetition_stats
    from basic_common_crawl_pipeline_spark.operators.dedup import exact_dedup
    from basic_common_crawl_pipeline_spark.operators.tokenizer import bpe_encode, bpe_train
    from basic_common_crawl_pipeline_spark.operators.training import (
        decontaminate,
        pack_token_ids,
    )

    held: list = []

    def hold(df):
        df = df.persist()
        df.count()
        held.append(df)
        return df

    out: dict = {}
    docs = hold(spark.read.parquet(docs_path).select("doc_id", "text"))
    bench = hold(spark.read.parquet(bench_path))

    out["dedup.exact_s"], _ = _timed(
        tracer, parent, "replay.dedup_exact", lambda: _noop(exact_dedup(docs))
    )
    keep = exact_dedup(docs).select(F.col("keep_id").alias("doc_id"))
    docs = hold(docs.join(keep, "doc_id", "left_semi"))

    gated = docs.withColumn("__r", repetition_stats("text")).filter(
        ~((F.col("__r.n_grams") >= 10) & (F.col("__r.top_count") * 10 >= F.col("__r.n_grams")))
    ).drop("__r")
    out["textstats.repetition_s"], _ = _timed(
        tracer, parent, "replay.repetition", lambda: _noop(gated)
    )
    docs = hold(gated)

    flags = decontaminate(docs, bench).select("doc_id", "contaminated")
    out["training.decontaminate_s"], _ = _timed(
        tracer, parent, "replay.decontaminate", lambda: _noop(flags)
    )
    docs = hold(
        docs.join(flags, "doc_id", "left")
        .filter(~F.coalesce(F.col("contaminated"), F.lit(False)))
        .drop("contaminated")
    )

    cache: list = []
    out["tokenizer.bpe_train_s"], (_merges, words) = _timed(
        tracer, parent, "replay.bpe_train",
        lambda: bpe_train(docs, num_merges=merges, cache=cache),
    )
    dictionary = words.select("word", "syms").localCheckpoint()
    held.extend(cache)

    out["tokenizer.bpe_encode_s"], _ = _timed(
        tracer, parent, "replay.bpe_encode", lambda: _noop(bpe_encode(docs, dictionary))
    )
    enc = hold(bpe_encode(docs, dictionary))

    pack_cache: list = []
    out["training.pack_s"], _ = _timed(
        tracer, parent, "replay.pack",
        lambda: _noop(pack_token_ids(enc, ["doc_id"], budget=budget, cache=pack_cache)),
    )
    for df in held + pack_cache:
        df.unpersist()
    return out
