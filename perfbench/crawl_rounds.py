"""crawl_rounds: consecutive ``CrawlEngine.run_round`` calls with link
discovery and the near-dup signature index on, over 5k seeded seed URLs
on the 48 skewed synthetic hosts (``/private`` disallowed by robots).

The per-host budget is small enough that every host still has pending
URLs in every round the run reaches, so each round admits a batch of the
same size (48 hosts x budget): per-round fixed cost dominates.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from python_web_scraper_cleaner_spark.operators import bloom as B
from python_web_scraper_cleaner_spark.operators import dedup as D
from python_web_scraper_cleaner_spark.operators import frontier as FR
from python_web_scraper_cleaner_spark.plans import crawl as C
from python_web_scraper_cleaner_spark.sources.pages import page_record

from . import checks
from .harness import Op, Workload
from .inputs import IdBlock, seed_urls
from .measure import dir_bytes, median
from .tracing import patch_tableio, time_clean_html


class CrawlRounds(Workload):
    def __init__(self, spark, workdir, seed, *, tiny=False):
        super().__init__(spark, workdir, seed)
        # A round costs ~17 s at 5k seeds and ~23 s at 20k (4 vCPUs): its
        # fixed cost dominates either way, and 5k leaves room in the time
        # budget of a run for two measured rounds.
        self.n_seeds = 600 if tiny else 5_000
        # thin hosts hold ~1% of the seeds: budget x rounds stays below it
        self.budget = 2 if tiny else 10
        self.min_ops, self.max_ops = (2, 2) if tiny else (2, 3)
        # a traced run: one untraced and one traced round
        self.trace_ops = None if tiny else 1
        self.n_setups = 0

    def kind_of(self, i):
        return "round"

    def prepare(self):
        block = IdBlock(self.seed, 1, self.n_seeds)
        self.seeds = seed_urls(self.spark, block)
        self.kernel_html = [page_record(int(i))["html"]
                            for i in block.ids(0, min(500, self.n_seeds))]

    def setup(self):
        self.n_setups += 1
        self.root = os.path.join(self.workdir, f"crawl-{self.n_setups}")
        self.engine = C.CrawlEngine(
            self.spark, self.root, per_host_budget=self.budget,
            discover_links=True, dedup_index=True)
        self.engine.bootstrap(self.seeds, C.default_robots(self.spark))
        self.fetched: set[str] = set()
        self.n_fetched = 0

    def _round(self, r: int) -> Op:
        if self.tracer is not None:
            io = self.engine.io
            self.tracer.diagnose(lambda: self.tracer.add(
                "frontier.pending_rows", io.read("frontier").count()))
        t0 = time.perf_counter()
        stats = self.engine.run_round(r)
        dt = time.perf_counter() - t0
        self.n_fetched += stats["n_fetched"]
        if self.tracer is not None:
            self.tracer.add("dedup.near_dup", stats["n_near_dup"])
            self.tracer.add("dedup.fetched", stats["n_fetched"])
            self.tracer.diagnose(time_clean_html, self.tracer,
                                 self.kernel_html)
        return Op("round", dt, stats["n_fetched"], info={"round": r})

    def warmup(self):
        return [self._round(0)]

    def step(self, i):
        return self._round(i + 1)

    def check(self, op):
        io = self.engine.io
        rows = (io.read("pages").filter(F.col("round") == op.info["round"])
                .select("canonical_url", "host").collect())
        fetched = [(r["canonical_url"], r["host"]) for r in rows]
        seen = {r["canonical_url"] for r in
                io.read("url_seen").select("canonical_url").collect()}
        errs = checks.check_crawl_round(fetched, self.fetched, seen,
                                        self.budget)
        self.fetched |= {u for u, _ in fetched}
        op.output = (op.info["round"], op.items, sorted(fetched))
        return errs

    def e2e(self, ops):
        timed = [op for op in ops if not op.errors]
        secs = sum(op.seconds for op in timed)
        items = sum(op.items for op in timed)
        table_bytes, _ = dir_bytes(self.root)
        metrics = {
            "items_per_s": items / secs if secs else 0.0,
            "op_ms_p50": 1000 * median([op.seconds for op in timed]),
            "disk_bytes_per_item": table_bytes / max(self.n_fetched, 1),
        }
        named = {
            "crawl.fetched_urls_per_s": {"value": metrics["items_per_s"],
                                         "unit": "1/s"},
            "crawl.round_s_p50": {"value": metrics["op_ms_p50"] / 1000,
                                  "unit": "s", "n": len(timed)},
            "crawl.bytes_per_url": {"value": metrics["disk_bytes_per_item"],
                                    "unit": "B"},
            "crawl.urls_per_round": {"value": median([op.items
                                                      for op in timed]),
                                     "unit": "count"},
        }
        return metrics, named

    # -- tracing -------------------------------------------------------------
    def install_trace(self, tr):
        def bloom_diag(rows, out, candidates, seen, bloom, **kw):
            probed = B.bloom_probe(candidates, bloom,
                                   n_buckets=kw.get("n_buckets", 64))
            n, maybe = probed.agg(
                F.count(F.lit(1)),
                F.sum(F.col("maybe_seen").cast("long"))).first()
            truly = candidates.join(seen.select("url_hash"), "url_hash",
                                    "left_semi").count()
            tr.add("bloom.candidates", n)
            tr.add("bloom.maybe_seen", maybe or 0)
            tr.add("bloom.negatives", n - truly)
            tr.add("bloom.false_pos", (maybe or 0) - truly)

        def batch_rows(rows, out, *a, **kw):
            tr.add("frontier.batch_rows", rows)

        def clean_ok(rows, out, *a, **kw):
            tr.add("udfs.pages", rows)
            tr.add("udfs.ok", out.filter(F.col("ok")).count())

        tr.patch(B, "bloom_dedup", "operators.bloom.bloom_dedup", bloom_diag)
        tr.patch(B, "build_bloom", "operators.bloom.build_merge")
        tr.patch(B, "merge_blooms", "operators.bloom.build_merge")
        tr.patch(FR, "apply_robots", "operators.frontier.robots")
        tr.patch(FR, "select_round_batch", "operators.frontier.select",
                 batch_rows)
        tr.patch(FR, "politeness_schedule", "operators.frontier.politeness")
        tr.patch(C, "simulated_fetch", "plans.crawl.simulated_fetch")
        tr.patch(C, "with_clean_text", "functions.udfs.with_clean_text",
                 clean_ok)
        tr.patch(D, "minhash_lsh_probe_index", "operators.dedup.probe")
        tr.patch(D, "banded_signatures", "operators.dedup.band")
        patch_tableio(tr)
