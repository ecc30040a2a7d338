"""Output checks: every timed run's output against a single-node
reference computed outside the timed region.

Each check reduces both sides to a dict of named digests; ``compare``
lists the names that differ. A run whose list is non-empty counts as
failed.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
from collections import Counter

import pyarrow.parquet as pq


def md5_hex(s: str) -> str:
    return hashlib.md5(s.encode("utf-8", "surrogatepass")).hexdigest()


def digest_lines(lines) -> str:
    h = hashlib.md5()
    for line in lines:
        h.update(line.encode("utf-8", "surrogatepass"))
        h.update(b"\n")
    return h.hexdigest()


def compare(expected: dict, actual: dict) -> list[str]:
    """Names whose digests differ (or are missing on either side)."""
    return sorted(k for k in expected.keys() | actual.keys() if expected.get(k) != actual.get(k))


# ---------------------------------------------------------------------------
# crawl workloads: plans.oracle.run_oracle vs the committed snapshot
# ---------------------------------------------------------------------------


def crawl_digests(crawl_order: list[dict], seen, texts: dict, metrics: list[dict]) -> dict:
    order = sorted(crawl_order, key=lambda r: r["seq"])
    return {
        "crawl_order": digest_lines(
            f"{r['seq']}\t{r['wave']}\t{r['url']}\t{r['host']}\t{r['priority']}" for r in order
        ),
        "seen": digest_lines(sorted(seen)),
        "text": digest_lines(f"{u}\t{md5_hex(t)}" for u, t in sorted(texts.items())),
        "metrics": digest_lines(json.dumps(m, sort_keys=True) for m in metrics),
    }


def oracle_crawl_digests(pages, seeds, robots, config) -> dict:
    from basic_common_crawl_pipeline_spark.plans.oracle import run_oracle

    o = run_oracle(pages, seeds, robots, config)
    return crawl_digests(o.crawl_order, o.seen, o.extracted, o.metrics)


def _read_snapshot_table(root: str, manifest: dict, name: str) -> list[dict]:
    entry = manifest["tables"][name]
    rows: list[dict] = []
    for path in entry.get("paths") or [entry["path"]]:
        rows.extend(pq.read_table(path).to_pylist())
    return rows


def store_crawl_digests(store_root: str, metrics: list[dict]) -> dict:
    """Digests of the CURRENT snapshot, read with pyarrow (no Spark job)."""
    with open(os.path.join(store_root, "CURRENT")) as f:
        snap = int(f.read().strip())
    with open(os.path.join(store_root, f"manifest-{snap}.json")) as f:
        manifest = json.load(f)
    order = _read_snapshot_table(store_root, manifest, "crawl_order")
    seen = {r["canon_url"] for r in _read_snapshot_table(store_root, manifest, "seen")}
    texts = {r["canon_url"]: r["text"] for r in _read_snapshot_table(store_root, manifest, "results")}
    return crawl_digests(order, seen, texts, metrics)


# ---------------------------------------------------------------------------
# warc_fetch_extract: per-host aggregates of per-URL text digests
# ---------------------------------------------------------------------------

_HOST_RE = re.compile(r"^https?://([^/]+)")


def url_host(url: str) -> str:
    m = _HOST_RE.match(url)
    return m.group(1) if m else ""


def text_key32(url: str, text: str) -> int:
    """First 32 bits of md5(url TAB text) — the Spark side computes the
    same value with ``conv(substr(md5(...), 1, 8), 16, 10)``."""
    return int(md5_hex(url + "\t" + text)[:8], 16)


def warc_digests(rows) -> dict:
    """``rows``: (host, records, extracted, text_chars, text_key_sum)."""
    return {
        "per_host": digest_lines(
            "\t".join(str(v) for v in r) for r in sorted(tuple(r) for r in rows)
        )
    }


def oracle_warc_digests(pages: list[dict]) -> dict:
    """Per-URL text = ``functions.extract.extract_text`` of the source
    html, folded into the same per-host aggregate the timed call makes."""
    from basic_common_crawl_pipeline_spark.functions.extract import extract_text

    agg: dict[str, list[int]] = {}
    for p in pages:
        a = agg.setdefault(url_host(p["url"]), [0, 0, 0, 0])
        a[0] += 1
        text = extract_text(p["html"])
        if text is not None:
            a[1] += 1
            a[2] += len(text)
            a[3] += text_key32(p["url"], text)
    return warc_digests((h, *v) for h, v in agg.items())


# ---------------------------------------------------------------------------
# corpus_prep: kept-document set and token-stream digest
# ---------------------------------------------------------------------------

_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def norm_text(text: str) -> str:
    """Spark ``regexp_replace(trim(t), '\\s+', ' ')``: trim strips spaces
    only; Java ``\\s`` is the ASCII whitespace set."""
    return _JAVA_WS.sub(" ", text.strip(" "))


def word_tokens(text: str) -> list[str]:
    return norm_text(text).split(" ")


def word_ngrams(text: str, n: int) -> list[str]:
    toks = word_tokens(text)
    return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]


def reference_kept(docs: list[dict], bench: list[dict]) -> list[dict]:
    """exact dedup (min id per md5 of normalised text) → repetition gate
    (drop when ≥10 bigrams and the top bigram is ≥10% of them) →
    decontamination (drop docs sharing any word 5-gram with the
    benchmark)."""
    keep_id: dict[str, int] = {}
    for d in docs:
        fp = md5_hex(norm_text(d["text"]))
        if fp not in keep_id or d["doc_id"] < keep_id[fp]:
            keep_id[fp] = d["doc_id"]
    keep = set(keep_id.values())
    bench_grams = {md5_hex(g) for b in bench for g in word_ngrams(b["text"], 5)}
    kept = []
    for d in docs:
        if d["doc_id"] not in keep:
            continue
        grams = word_ngrams(d["text"], 2)
        top = max(Counter(grams).values(), default=0)
        if len(grams) >= 10 and top * 10 >= len(grams):
            continue
        if any(md5_hex(g) in bench_grams for g in word_ngrams(d["text"], 5)):
            continue
        kept.append(d)
    return sorted(kept, key=lambda d: d["doc_id"])


def _merge(syms: list[str], a: str, b: str) -> list[str]:
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def reference_token_stream(kept: list[dict], merges: int) -> list[int]:
    """Frequency-weighted BPE (top pair by count desc, then pair asc;
    greedy left-to-right merge) trained on ``kept``, then every kept
    document's piece ids (lexicographic vocabulary) in doc_id order."""
    doc_words = [
        [w.lower() for w in word_tokens(d["text"]) if w != ""] for d in kept
    ]
    freq = Counter(w for ws in doc_words for w in ws)
    table = {w: list(w) for w in freq}
    for _ in range(merges):
        pairs: Counter = Counter()
        for w, syms in table.items():
            for x, y in zip(syms, syms[1:]):
                pairs[(x, y)] += freq[w]
        if not pairs:
            break
        (a, b), _cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        table = {w: _merge(syms, a, b) for w, syms in table.items()}
    vocab = {p: i for i, p in enumerate(sorted({s for syms in table.values() for s in syms}))}
    return [vocab[p] for ws in doc_words for w in ws for p in table[w]]


def prep_digests(docs_kept: int, stream: list[int], budget: int) -> dict:
    packs = [stream[i : i + budget] for i in range(0, len(stream), budget)]
    return {
        "docs_kept": str(docs_kept),
        "token_stream": digest_lines(" ".join(map(str, p)) for p in packs),
    }


def oracle_prep_digests(docs, bench, merges: int, budget: int) -> dict:
    kept = reference_kept(docs, bench)
    return prep_digests(len(kept), reference_token_stream(kept, merges), budget)


def shard_prep_digests(summary: dict, shard_dir: str, budget: int) -> dict:
    """Digests of the written shards: sequences in pack_id order, each
    exactly ``budget`` ids except the last."""
    table = pq.read_table(shard_dir).to_pylist()
    rows = sorted(table, key=lambda r: r["pack_id"])
    stream: list[int] = []
    for i, r in enumerate(rows):
        ids = [int(x) for x in r["ids_csv"].split(" ")] if r["ids_csv"] else []
        if len(ids) != r["n_ids"] or (i < len(rows) - 1 and len(ids) != budget):
            return {"docs_kept": str(summary["docs_kept"]), "token_stream": "bad-pack"}
        stream.extend(ids)
    return prep_digests(summary["docs_kept"], stream, budget)
