#!/usr/bin/env python3
"""Round-6 optimization harness (guide §1): per-entry isolation timings
with the SAME materialization shapes as the frozen bench.py, plus
``.explain("formatted")`` capture for the plan evidence in plans/r06/.

Usage:
    python3 bench_extra.py time  [names...]    # best-of-N timings, JSON line
    python3 bench_extra.py plan  <tag> [names] # write plans/r06/<name>_<tag>.txt
    python3 bench_extra.py noop  [names...]    # noop-sink isolation timing

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS,
BENCH_EXTRA_TRIALS (default 3).

This file is NOT part of the driver contract; bench.py stays frozen.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
TRIALS = int(os.environ.get("BENCH_EXTRA_TRIALS", "3"))


def get_session():
    from basic_common_crawl_pipeline_spark.session import (
        get_spark,
        heap_from_available,
    )

    os.environ.setdefault("SPARK_DRIVER_MEMORY", heap_from_available())

    spark = get_spark(
        app_name="bench_extra", master=f"local[{CPUS}]",
        shuffle_partitions=max(int(CPUS), 8),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def materializers(spark):
    """name -> (df_fn, action_fn) mirroring bench.py's timed shapes.

    df_fn() returns the catalog DataFrame; action_fn(df) materializes it
    exactly the way the frozen bench does (so isolation timings are
    comparable with the driver's numbers).
    """
    from pyspark.sql import functions as F

    from basic_common_crawl_pipeline_spark.plans import catalog

    q = catalog.queries()

    def count(df):
        return df.count()

    def agg(*cols):
        def run(df):
            return df.agg(*cols).collect()

        return run

    shapes = {
        "j4_asof_join": agg(F.sum("policy_value"), F.max("policy_event")),
        "text_decontaminate": agg(
            F.sum("n_matched"), F.sum(F.col("contaminated").cast("int"))
        ),
        "text_repetition": agg(F.sum("top_count"), F.sum("n_distinct")),
        "emb_semantic_dedup": agg(F.sum(F.col("kept").cast("int"))),
        "text_sequence_packing": agg(F.sum("start_off"), F.max("pack_id")),
        "text_line_dedup": agg(
            F.sum(F.length("text_deduped")), F.sum("n_kept")
        ),
        "text_lm_quality": agg(F.sum("sum_freq"), F.sum("n_oov")),
        "text_quality_classifier": agg(
            F.sum("score_int"), F.sum("n_hits"), F.sum("predict")
        ),
        "text_span_dedup": agg(
            F.sum(F.length("text_deduped")),
            F.sum("n_spans"),
            F.sum("n_dup_tokens"),
        ),
        "dedup_incremental": agg(
            F.sum("keep"), F.sum("n_near"), F.sum("best_jaccard")
        ),
        "text_pii_redact": agg(
            F.sum(F.length("text_redacted")), F.sum("n_emails")
        ),
        "text_bpe_tokenize": agg(F.sum("n_pieces"), F.max("max_word_pieces")),
        "text_bm25_topk": lambda df: df.collect(),
        "text_token_budget_sample": agg(
            F.sum("cum_before"), F.sum(F.col("kept").cast("int"))
        ),
        "w2_session_window": agg(
            F.sum("n_events"), F.sum("sum_cents"), F.max("span_us")
        ),
        "emb_kmeans": agg(F.sum("cluster"), F.count("*")),
    }

    out = {}
    for name, fn in q.items():
        action = shapes.get(name, count)
        out[name] = (lambda n=name, f=fn: f(spark, SF_DIR), action)
    return out


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "time"
    args = sys.argv[2:]
    spark = get_session()
    mats = materializers(spark)

    if mode == "plan":
        tag = args[0]
        names = args[1:] or list(mats)
        os.makedirs("plans/r06", exist_ok=True)
        for name in names:
            if name not in mats:
                print(f"skip unknown {name}", file=sys.stderr)
                continue
            df_fn, _ = mats[name]
            df = df_fn()
            import io
            from contextlib import redirect_stdout

            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
            path = f"plans/r06/{name}_{tag}.txt"
            with open(path, "w") as fh:
                fh.write(plan)
            print(f"wrote {path}")
        return

    names = args or list(mats)
    timings = {}
    for name in names:
        if name not in mats:
            print(f"skip unknown {name}", file=sys.stderr)
            continue
        df_fn, action = mats[name]
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        best = None
        for _ in range(TRIALS):
            t0 = time.time()
            df = df_fn()
            if mode == "noop":
                df.write.format("noop").mode("overwrite").save()
            else:
                action(df)
            sec = time.time() - t0
            best = sec if best is None else min(best, sec)
        spark.sparkContext.setJobDescription(None)
        timings[name] = round(best, 3)
        print(f"{name}: {timings[name]}", file=sys.stderr)
    print(json.dumps({"mode": mode, "sf_dir": SF_DIR, "cpus": int(CPUS),
                      "trials": TRIALS, "queries": timings}))


if __name__ == "__main__":
    main()
