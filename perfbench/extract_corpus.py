"""extract_corpus: one large batch through the north-star slice. Scan a
seeded 50k-page parquet ``pages`` table (10 HTML templates, ~10% built
to fail extraction), run ``with_clean_text``, canonicalize URLs and build
the per-host manifest. Frontier, bloom and TableIO are not on this path.
"""

from __future__ import annotations

import os
import time
from collections import Counter

import numpy as np
from pyspark.sql import functions as F

from python_web_scraper_cleaner_spark.functions import kernel as K
from python_web_scraper_cleaner_spark.functions.udfs import with_clean_text
from python_web_scraper_cleaner_spark.plans.queries import _canonicalize
from python_web_scraper_cleaner_spark.session import tune_for_binary_scan
from python_web_scraper_cleaner_spark.sources.pages import (
    page_host_section, page_record, page_url)

from . import checks
from .harness import Op, Workload
from .inputs import IdBlock, pages_frame
from .measure import dir_bytes, median
from .tracing import time_clean_html


def manifest_of(cleaned):
    """Per-host manifest of cleaned pages (the north-star slice's output)."""
    return (_canonicalize(cleaned).groupBy("host")
            .agg(F.count("*").alias("n_pages"),
                 F.sum(F.col("ok").cast("int")).alias("n_ok"),
                 F.countDistinct("canonical_url").alias("n_unique_urls"),
                 F.sum("extracted_chars").alias("sum_chars")))


def clean_outcome(html: bytes) -> tuple:
    out = K.clean_html(html, output_format="txt")
    return out.text, out.ok


class ExtractCorpus(Workload):
    setups = 2

    def __init__(self, spark, workdir, seed, *, tiny=False):
        super().__init__(spark, workdir, seed)
        # 50k pages (a pass takes ~4 s on 4 vCPUs) rather than 100k, so a
        # run fits four passes: the first still pays some first-touch cost
        # and a busy host slows some; op_ms_p50 is their median
        self.n_pages = 600 if tiny else 50_000
        self.min_ops, self.max_ops = (2, 2) if tiny else (4, 12)
        self.trace_ops = None if tiny else 2
        self.n_setups = 0

    def kind_of(self, i):
        return "pass"

    def prepare(self):
        # the slice's split size for tables with a binary html column
        tune_for_binary_scan(self.spark, 8 * 1024 * 1024)
        self.block = IdBlock(self.seed, 2, self.n_pages)
        ids = self.block.ids()
        self.expected_hosts = dict(Counter(page_host_section(int(i))[0]
                                           for i in ids))
        rng = np.random.default_rng([self.seed, 5])
        sample = rng.choice(ids, size=min(64, len(ids)), replace=False)
        self.sample = {page_url(int(i)): clean_outcome(
            page_record(int(i))["html"]) for i in sample}
        self.kernel_html = [page_record(int(i))["html"] for i in
                            rng.choice(ids, size=min(500, len(ids)),
                                       replace=False)]
        # first-touch costs (worker imports, code generation) on a small
        # throwaway table
        warm = os.path.join(self.workdir, "pages-warm")
        pages_frame(self.spark, IdBlock(self.seed, 6, 4000), 0, 4000,
                    partitions=4).drop("doc_id").write.parquet(warm)
        self._pass(warm)

    def setup(self):
        self.n_setups += 1
        self.path = os.path.join(self.workdir, f"pages-{self.n_setups}")
        parts = 4 * self.spark.sparkContext.defaultParallelism
        (pages_frame(self.spark, self.block, 0, self.n_pages,
                     partitions=parts)
         .drop("doc_id").write.parquet(self.path))
        self.sample_checked = False

    def step(self, i):
        t0 = time.perf_counter()
        rows, cleaned = self._pass(self.path)
        dt = time.perf_counter() - t0
        if self.tracer is not None:
            self.tracer.diagnose(self._trace_counts, cleaned)
        return Op("pass", dt, sum(r["n_pages"] for r in rows),
                  output=sorted(tuple(sorted(r.items())) for r in rows))

    def _pass(self, path):
        pages = self.call("sources.pages.scan", self.spark.read.parquet, path)
        cleaned = self.call("functions.udfs.with_clean_text",
                            with_clean_text, pages, output_format="txt")
        manifest = self.call("plans.queries.manifest", manifest_of, cleaned)
        return [r.asDict() for r in manifest.collect()], cleaned

    def _trace_counts(self, cleaned):
        self.tracer.add("udfs.pages", cleaned.count())
        self.tracer.add("udfs.ok", cleaned.filter(F.col("ok")).count())
        time_clean_html(self.tracer, self.kernel_html)

    def check(self, op):
        errs = checks.check_manifest([dict(r) for r in op.output],
                                     self.expected_hosts)
        if not self.sample_checked:
            self.sample_checked = True
            got = (with_clean_text(
                self.spark.read.parquet(self.path)
                .filter(F.col("url").isin(list(self.sample))),
                output_format="txt")
                   .select("url", "text", "ok").collect())
            errs += checks.check_text_sample(
                {r["url"]: (r["text"], r["ok"]) for r in got}, self.sample)
        return errs

    def e2e(self, ops):
        timed = [op for op in ops if not op.errors]
        secs = sum(op.seconds for op in timed)
        table_bytes, _ = dir_bytes(self.path)
        metrics = {
            "items_per_s": sum(op.items for op in timed) / secs
            if secs else 0.0,
            "op_ms_p50": 1000 * median([op.seconds for op in timed]),
            "disk_bytes_per_item": table_bytes / self.n_pages,
        }
        named = {
            "extract.pages_per_s": {"value": metrics["items_per_s"],
                                    "unit": "1/s"},
            "extract.pass_s_p50": {"value": metrics["op_ms_p50"] / 1000,
                                   "unit": "s", "n": len(timed)},
        }
        return metrics, named
