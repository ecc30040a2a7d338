"""Seeded input generators for the crawl-engine benchmark.

Every input a workload hands the engine is a pure function of
``(workload, seed, size)``; nothing here reads the clock. Inputs are
written as parquet with pyarrow (no Spark job), in several files so the
engine's scans split across cores the way a real many-file crawl table
does.
"""

from __future__ import annotations

import datetime
import hashlib
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("status", pa.int32()),
        ("mime", pa.string()),
        ("digest", pa.string()),
    ]
)
SEEDS_SCHEMA = pa.schema(
    [("url", pa.string()), ("priority", pa.int32()), ("seed_rank", pa.int64())]
)
ROBOTS_SCHEMA = pa.schema(
    [
        ("host", pa.string()),
        ("crawl_delay", pa.float64()),
        ("disallow", pa.list_(pa.string())),
    ]
)
CDX_SCHEMA = pa.schema(
    [("url", pa.string()), ("filename", pa.string()),
     ("offset", pa.int64()), ("length", pa.int64())]
)
DOCS_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])
BENCH_SCHEMA = pa.schema([("bid", pa.int64()), ("text", pa.string())])


def write_table(path: str, rows: list[dict], schema: pa.Schema, files: int = 1) -> None:
    """``rows`` as ``files`` parquet files (contiguous row ranges) under
    the directory ``path``."""
    os.makedirs(path, exist_ok=True)
    n = len(rows)
    for f in range(files):
        part = rows[f * n // files : (f + 1) * n // files]
        table = pa.Table.from_pylist(part, schema=schema)
        pq.write_table(table, os.path.join(path, f"part-{f:05d}.parquet"))


# ---------------------------------------------------------------------------
# frontier_smallwaves / warc_fetch_extract: the engine's synthetic corpus
# ---------------------------------------------------------------------------


def synth_crawl_corpus(seed: int, n_pages: int, n_hosts: int, n_seeds: int):
    """``sources.pages.synth_corpus``: skewed hosts (host 0 holds 40% of
    pages, crawl-delay 2), disallow rules, dead links, ~15%
    comment-bearing pages and ~5% invalid UTF-8."""
    from basic_common_crawl_pipeline_spark.sources.pages import synth_corpus

    return synth_corpus(
        n_pages=n_pages, n_hosts=n_hosts, seed=seed, n_seeds=n_seeds
    )


# ---------------------------------------------------------------------------
# frontier_bigwave: pages shaped like plans.catalog.pages_from_documents
# ---------------------------------------------------------------------------

_DOC_WORDS = (
    "the of and to in is was for on that with as by at from his her they "
    "crawl web page index fetch parse link host text data wave spark "
    "frontier queue batch filter extract token corpus engine shard river "
    "market school garden winter summer history music science letter"
).split()

_BASE_TS = datetime.datetime(2024, 7, 22, 12, 0, 0, tzinfo=datetime.timezone.utc)


def bigwave_corpus(seed: int, n_pages: int, n_hosts: int = 20):
    """ASCII, comment-free ~3 KB pages: 8 distinct sections around one
    document text, three out-links to other pages, a script block. Every
    page is a seed. Returns ``(pages, seeds, robots)`` row lists."""
    rng = random.Random(seed)

    def url(d: int) -> str:
        return f"http://src{d % n_hosts}.test/doc/{d}"

    pages, seeds = [], []
    for d in range(n_pages):
        text = " ".join(rng.choice(_DOC_WORDS) for _ in range(rng.randrange(30, 60)))
        sections = "".join(f"<p>section {j} {text}</p>" for j in range(8))
        links = [url((d + 1) % n_pages), url((d * 13 + 7) % n_pages),
                 url((d * 31 + 3) % n_pages)]
        html = (
            f"<html><head><title>doc</title></head><body><h1>Doc {d}</h1>"
            f"{sections}<p><a href=\"{links[0]}\">n1</a> "
            f"<a href=\"{links[1]}\">n2</a> <a href=\"{links[2]}\">n3</a></p>"
            "<script>var x=1;</script></body></html>"
        ).encode("ascii")
        pages.append(
            {
                "url": url(d),
                "warc_ts": _BASE_TS,
                "html": html,
                "text": None,
                "lang": "eng" if rng.random() < 0.9 else "deu",
                "status": 200 if rng.random() < 0.8 else 404,
                "mime": "text/html",
                "digest": hashlib.md5(text.encode()).hexdigest(),
            }
        )
        seeds.append({"url": url(d), "priority": 0, "seed_rank": d})
    robots = [
        {
            "host": f"src{h}.test",
            "crawl_delay": 2.0 if h == 0 else 1.0,
            "disallow": ["/private/"],
        }
        for h in range(n_hosts)
    ]
    return pages, seeds, robots


# ---------------------------------------------------------------------------
# corpus_prep: documents with exact duplicates, repetitive and
# contaminated documents, plus the benchmark text set
# ---------------------------------------------------------------------------


def _vocabulary(rng: random.Random, n: int) -> list[str]:
    letters = "etaoinshrdlucmfwypvbgkqjxz"
    words = set()
    while len(words) < n:
        k = rng.randrange(2, 9)
        # skew towards frequent letters so BPE merges have real pairs
        words.add("".join(letters[min(int(rng.expovariate(0.25)), 25)] for _ in range(k)))
    return sorted(words)


def prep_corpus(seed: int, n_docs: int, n_bench: int = 24):
    """``(documents, benchmark)`` row lists. About a third of the
    documents are exact duplicates of an earlier one up to whitespace,
    ~4% repeat one bigram (the repetition gate drops them) and ~3% embed
    a benchmark passage (decontamination drops them)."""
    rng = random.Random(seed)
    vocab = _vocabulary(rng, 600)
    weights = [1.0 / (i + 1) for i in range(len(vocab))]

    def sentence(k: int) -> list[str]:
        return rng.choices(vocab, weights=weights, k=k)

    bench = [" ".join(sentence(rng.randrange(12, 24))) for _ in range(n_bench)]
    docs: list[dict] = []
    originals: list[str] = []
    for i in range(n_docs):
        doc_id = i * 7 + rng.randrange(7)  # sparse, increasing ids
        r = rng.random()
        if originals and r < 0.33:
            # exact duplicate after whitespace normalisation
            base = rng.choice(originals).split(" ")
            text = "".join(
                w + (" " if rng.random() < 0.9 else "  ") for w in base
            ).rstrip(" ")
            text = ("  " + text) if rng.random() < 0.3 else text
        elif r < 0.37:
            a, b = rng.choice(vocab), rng.choice(vocab)
            text = " ".join([a, b] * rng.randrange(8, 16) + sentence(4))
        elif r < 0.40:
            passage = rng.choice(bench).split(" ")
            cut = rng.randrange(0, len(passage) - 6)
            text = " ".join(sentence(20) + passage[cut : cut + 6] + sentence(20))
        else:
            text = " ".join(sentence(rng.randrange(40, 120)))
            originals.append(text)
        docs.append({"doc_id": doc_id, "text": text})
    return docs, [{"bid": j, "text": t} for j, t in enumerate(bench)]
