"""Partitioned Bloom-filter URL-seen set (north_rule: "partitioned
Bloom/cuckoo URL-seen set (hash-partitioned by canonicalized-URL 64-bit
hash)"; SURVEY.md §4 + §7 Step 5).

Why not Spark's built-ins: ``df.stat.bloomFilter`` collects one filter to
the driver and the runtime bloom-join (``spark.sql.optimizer.runtime.
bloomFilter.enabled``) builds per-query transient filters — the crawl
needs a *persistent, mergeable, partitioned* structure that lives in the
snapshot store across waves and resumes.

Layout: a DataFrame ``(part int, bits binary)`` with P rows; URL u
belongs to partition ``url_hash64(u) mod P`` and sets ``k`` bit
positions derived from splitting its 64-bit hash (Kirsch-Mitzenmacher
double hashing: pos_i = h1 + i·h2 mod m). All updates/tests run inside
``applyInPandas`` over candidates *cogrouped with their partition's
blob* — numpy bitset ops, never a driver-side collect of the data.

Blobs are OR-mergeable (partial/final pattern); false positives would
drop never-seen URLs, so the engine uses the bloom as a *prefilter* in
front of the exact anti-join (accelerator at scale: the exact join's
probe side shrinks to bloom-positive candidates only) — byte-exact
semantics preserved, verified by the oracle tests. Sizing: with
m = 2^27 bits/partition × 1024 partitions ≈ 16 GiB total, k=7,
a 10^10-URL seen set runs at ~6% fill → FP ≈ 2e-9 per probe; at test
scale (m=2^20) FP ≈ 0 (documented in tests).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    IntegerType,
    StructField,
    StructType,
)

from ..session import local_frame

BLOB_SCHEMA = StructType(
    [StructField("part", IntegerType()), StructField("bits", BinaryType())]
)


def _positions(h: np.ndarray, m_bits: int, k: int) -> np.ndarray:
    """Kirsch-Mitzenmacher: k positions from one 64-bit hash (vectorized).
    Returns array of shape (len(h), k)."""
    u = h.astype(np.uint64)
    h1 = (u >> np.uint64(32)).astype(np.int64)
    h2 = (u & np.uint64(0xFFFFFFFF)).astype(np.int64) | 1  # odd → full cycle
    i = np.arange(k, dtype=np.int64)
    return (h1[:, None] + i[None, :] * h2[:, None]) % m_bits


class BloomSeen:
    """Factory/ops for the partitioned bloom. Stateless — the state is
    the (part, bits) DataFrame, snapshot-committed like any table."""

    def __init__(self, partitions: int = 16, m_bits: int = 1 << 20, k: int = 7):
        self.partitions = partitions
        self.m_bits = m_bits
        self.k = k

    # -- construction / update ---------------------------------------

    def empty(self, spark: SparkSession) -> DataFrame:
        rows = [(p, bytearray(self.m_bits // 8)) for p in range(self.partitions)]
        return local_frame(spark, rows, BLOB_SCHEMA)

    def _with_part(self, urls: DataFrame, url_col: str) -> DataFrame:
        h = F.xxhash64(F.col(url_col))
        return urls.withColumn("__h", h).withColumn(
            "__part", F.pmod(h, F.lit(self.partitions)).cast("int")
        )

    def add(self, blobs: DataFrame, urls: DataFrame, url_col: str = "canon_url") -> DataFrame:
        """New blobs DataFrame with all urls inserted. One shuffle of the
        urls by partition; blob bytes never leave executors."""
        m_bits, k = self.m_bits, self.k
        tagged = self._with_part(urls.select(url_col), url_col)

        def update(key, blob_pdf: pd.DataFrame, urls_pdf: pd.DataFrame) -> pd.DataFrame:
            part = int(key[0])
            if len(blob_pdf) > 0:
                bits = np.frombuffer(bytes(blob_pdf["bits"].iloc[0]), dtype=np.uint8).copy()
            else:
                bits = np.zeros(m_bits // 8, dtype=np.uint8)
            if len(urls_pdf) > 0:
                pos = _positions(urls_pdf["__h"].to_numpy(np.int64), m_bits, k)
                flat = pos.reshape(-1)
                np.bitwise_or.at(bits, flat // 8, (1 << (flat % 8)).astype(np.uint8))
            return pd.DataFrame({"part": [part], "bits": [bits.tobytes()]})

        return (
            blobs.groupBy("part")
            .cogroup(tagged.groupBy("__part"))
            .applyInPandas(update, schema=BLOB_SCHEMA)
        )

    # -- membership --------------------------------------------------

    def contains(
        self, blobs: DataFrame, urls: DataFrame, url_col: str = "canon_url"
    ) -> DataFrame:
        """urls + boolean ``bloom_hit`` column. Cogroup-shaped: each url
        partition meets exactly its blob row."""
        m_bits, k = self.m_bits, self.k
        tagged = self._with_part(urls, url_col)
        out_schema = StructType(
            list(urls.schema.fields)
            + [StructField("bloom_hit", BooleanType())]
        )
        names = [f.name for f in urls.schema.fields]

        def probe(key, blob_pdf: pd.DataFrame, urls_pdf: pd.DataFrame) -> pd.DataFrame:
            if len(urls_pdf) == 0:
                return pd.DataFrame(columns=names + ["bloom_hit"])
            if len(blob_pdf) == 0:
                out = urls_pdf[names].copy()
                out["bloom_hit"] = False
                return out
            bits = np.frombuffer(bytes(blob_pdf["bits"].iloc[0]), dtype=np.uint8)
            pos = _positions(urls_pdf["__h"].to_numpy(np.int64), m_bits, k)
            hit = np.all(
                (bits[pos // 8] >> (pos % 8).astype(np.uint8)) & 1 == 1, axis=1
            )
            out = urls_pdf[names].copy()
            out["bloom_hit"] = hit
            return out

        return (
            blobs.groupBy("part")
            .cogroup(tagged.groupBy("__part"))
            .applyInPandas(probe, schema=out_schema)
        )

    # -- merge (partial/final pattern) ---------------------------------

    def merge(self, a: DataFrame, b: DataFrame) -> DataFrame:
        """OR-merge two blob sets (e.g. per-executor partials, or resuming
        from two snapshot lineages)."""

        def orjoin(key, pa: pd.DataFrame, pb: pd.DataFrame) -> pd.DataFrame:
            part = int(key[0])
            arrs = []
            for pdf in (pa, pb):
                for blob in pdf["bits"]:
                    arrs.append(np.frombuffer(bytes(blob), dtype=np.uint8))
            if not arrs:
                return pd.DataFrame(columns=["part", "bits"])
            acc = arrs[0].copy()
            for other in arrs[1:]:
                acc |= other
            return pd.DataFrame({"part": [part], "bits": [acc.tobytes()]})

        return (
            a.groupBy("part").cogroup(b.groupBy("part")).applyInPandas(
                orjoin, schema=BLOB_SCHEMA
            )
        )
