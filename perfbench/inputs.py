"""Seeded input generation. The seed picks every input; the engine only
receives the generated frames.

Doc ids are a seeded block ``offset + perm(i)``, with ``perm`` an affine
bijection of ``[0, n)``. URLs keep the ``/<id>.html`` form that
``plans.crawl.simulated_fetch`` parses, and page content comes from
``sources.pages.page_record``, so a doc id fully determines its page.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from python_web_scraper_cleaner_spark.sources.pages import (
    PAGES_SCHEMA, page_record, page_url)


class IdBlock:
    """A seeded permutation of ``n`` consecutive doc ids starting at a
    seeded offset. ``stream`` separates independent draws of one seed."""

    def __init__(self, seed: int, stream: int, n: int) -> None:
        rng = np.random.default_rng([seed, stream])
        self.n = n
        self.offset = 1_000_000 + int(rng.integers(0, 1_000_000_000))
        a = int(rng.integers(1, max(n, 2)))
        while math.gcd(a, n) != 1:
            a += 1
        self.a = a
        self.c = int(rng.integers(0, max(n, 1)))

    def ids(self, start: int = 0, stop: int | None = None) -> np.ndarray:
        i = np.arange(start, self.n if stop is None else stop, dtype=np.int64)
        return self.offset + (self.a * i + self.c) % self.n

    def id_col(self, i):
        """The same mapping as :meth:`ids` as a Spark expression on ``i``."""
        return (F.lit(self.offset)
                + F.pmod(F.lit(self.a) * i + F.lit(self.c), F.lit(self.n)))


def seed_urls(spark: SparkSession, block: IdBlock) -> DataFrame:
    """Crawl seeds (url, priority, discovered_ts) for every id of ``block``
    — the input ``CrawlEngine.bootstrap`` takes."""
    ids = block.ids()
    pdf = pd.DataFrame({
        "url": [page_url(int(i)) for i in ids],
        "priority": (np.arange(len(ids)) % 10).astype(np.int32),
        "discovered_ts": pd.Timestamp("2026-01-01", tz="UTC"),
    })
    return spark.createDataFrame(
        pdf, "url string, priority int, discovered_ts timestamp")


def pages_frame(spark: SparkSession, block: IdBlock, start: int, stop: int,
                *, partitions: int, with_batch: int | None = None
                ) -> DataFrame:
    """Pages-table rows (``sources.pages.PAGES_SCHEMA``) for block ids
    ``[start, stop)``, generated in parallel. With ``with_batch`` set, an
    int ``batch`` column numbers consecutive runs of that many rows."""
    ids = (spark.range(start, stop, numPartitions=partitions)
           .select(F.col("id").alias("i"),
                   block.id_col(F.col("id")).alias("doc_id")))
    cols = [f.name for f in PAGES_SCHEMA.fields]

    def gen(batches):
        for pdf in batches:
            recs = pd.DataFrame.from_records(
                [page_record(int(d)) for d in pdf["doc_id"]], columns=cols)
            recs["doc_id"] = pdf["doc_id"].to_numpy()
            if with_batch is not None:
                recs["batch"] = ((pdf["i"].to_numpy() - start)
                                 // with_batch).astype(np.int32)
            yield recs

    extra = [T.StructField("doc_id", T.LongType(), nullable=False)]
    if with_batch is not None:
        extra.append(T.StructField("batch", T.IntegerType(), nullable=False))
    return ids.mapInPandas(
        gen, schema=T.StructType(list(PAGES_SCHEMA.fields) + extra))


def zipf_queries(seed: int, stream: int, vocab: list[str], n: int, *,
                 exponent: float = 1.1, max_terms: int = 3) -> list[list[str]]:
    """``n`` queries of 1..max_terms distinct terms; term rank r (0 = most
    frequent in ``vocab`` order) is drawn with weight 1/(r+1)^exponent."""
    rng = np.random.default_rng([seed, stream])
    w = 1.0 / np.arange(1, len(vocab) + 1, dtype=np.float64) ** exponent
    w /= w.sum()
    out = []
    for _ in range(n):
        k = min(int(rng.integers(1, max_terms + 1)), len(vocab))
        picks = rng.choice(len(vocab), size=k, replace=False, p=w)
        out.append([vocab[int(r)] for r in picks])
    return out
