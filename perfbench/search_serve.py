"""search_serve: BM25 queries served from stored posting heads, with index
folds in between. Set-up builds ``posting_heads`` over a seeded extracted
corpus and commits it as the serving table. Ops are Zipf-sampled queries
of 1-3 terms through ``postings_lookup_bm25``; every ``FOLD_EVERY``
queries a fresh delta batch is folded in (``posting_heads``, then
``merge_posting_heads``, then a TableIO overwrite of the serving table).
Extraction and the crawl layers are not on this path.
"""

from __future__ import annotations

import os
import time

import duckdb
from pyspark.sql import functions as F

from python_web_scraper_cleaner_spark.functions.udfs import with_clean_text
from python_web_scraper_cleaner_spark.operators.dedup import tokens
from python_web_scraper_cleaner_spark.operators.search import (
    merge_posting_heads, posting_heads, postings_lookup_bm25)
from python_web_scraper_cleaner_spark.sources.tableio import TableIO

from . import checks
from .harness import Op, Workload
from .inputs import IdBlock, pages_frame, zipf_queries
from .layers import LAYERS, SEARCH_LAYERS
from .measure import dir_bytes, median, percentile
from .tracing import patch_tableio

FOLD_EVERY = 10
TOP_K = 10

# postings_lookup_bm25's fixed-point RSJ scoring over the same heads table
ORACLE_SQL = """
SELECT id, CAST(SUM(tf * ((1000000 * (2 * CAST(? AS BIGINT) - 2 * df + 1))
                          // (2 * df + 1))) AS BIGINT) AS score
FROM (SELECT df, p.id AS id, -p.ntf AS tf
      FROM (SELECT df, UNNEST(top) AS p FROM heads
            WHERE list_contains(?, tok)))
GROUP BY id ORDER BY score DESC, id LIMIT 10
"""


class SearchServe(Workload):
    layers = LAYERS + SEARCH_LAYERS

    def __init__(self, spark, workdir, seed, *, tiny=False):
        super().__init__(spark, workdir, seed)
        self.n_docs = 400 if tiny else 20_000
        self.delta_docs = 40 if tiny else 500
        self.n_deltas = 2 if tiny else 40
        self.max_ops = self.n_deltas * (FOLD_EVERY + 1)
        self.min_ops = self.max_ops if tiny else 3 * (FOLD_EVERY + 1)
        self.n_setups = 0
        self.db = duckdb.connect()
        self.queries = None

    def kind_of(self, i):
        return "fold" if i % (FOLD_EVERY + 1) == FOLD_EVERY else "query"

    def prepare(self):
        spark = self.spark
        block = IdBlock(self.seed, 3, self.n_docs
                        + self.n_deltas * self.delta_docs)
        parts = 2 * spark.sparkContext.defaultParallelism
        self.corpus_path = os.path.join(self.workdir, "corpus")
        self.delta_path = os.path.join(self.workdir, "deltas")
        corpus = with_clean_text(pages_frame(spark, block, 0, self.n_docs,
                                             partitions=parts))
        (corpus.filter("ok").select("doc_id", "text")
         .write.parquet(self.corpus_path))
        deltas = with_clean_text(pages_frame(
            spark, block, self.n_docs, block.n, partitions=parts,
            with_batch=self.delta_docs))
        (deltas.filter("ok").select("doc_id", "text", "batch")
         .write.partitionBy("batch").parquet(self.delta_path))
        self.n0 = spark.read.parquet(self.corpus_path).count()
        # per batch: docs, and distinct (token, doc) pairs = the df mass a
        # fold adds to the index
        per_batch = (spark.read.parquet(self.delta_path)
                     .select("batch", "doc_id",
                             F.explode(F.array_distinct(tokens(F.col("text"))))
                             .alias("tok"))
                     .filter(F.col("tok") != "")
                     .groupBy("batch")
                     .agg(F.countDistinct("doc_id").alias("docs"),
                          F.count("*").alias("pairs")).collect())
        self.delta_stats = {r["batch"]: (r["docs"], r["pairs"])
                            for r in per_batch}

    def setup(self):
        self.n_setups += 1
        self.io = TableIO(self.spark,
                          os.path.join(self.workdir, f"search-{self.n_setups}"))
        heads = posting_heads(self.spark.read.parquet(self.corpus_path),
                              k=TOP_K, id_col="doc_id", text_col="text")
        self.io.overwrite(heads, "heads", 0)
        self.heads = self.io.read("heads")
        self._set_n(self.n0)
        self.oracle_snapshot = None
        self.df_sum = None

    def _set_n(self, n: int) -> None:
        """The corpus size, and the 1-row stats frame the lookup takes."""
        self.n = n
        self.stats = self.spark.createDataFrame([(n,)], "n long")

    # -- DuckDB oracle over the serving table's parquet files -------------
    def _sync_oracle(self) -> None:
        snap = self.io.snapshots("heads")[-1]
        if snap["snapshot"] == self.oracle_snapshot:
            return
        files = ", ".join(
            "'" + os.path.join(self.io.root, "heads", d, "*.parquet")
            .replace("'", "''") + "'" for d in snap["dirs"])
        self.db.execute("CREATE OR REPLACE TABLE heads AS SELECT tok, df, "
                        f"top FROM read_parquet([{files}])")
        self.oracle_snapshot = snap["snapshot"]
        self.prev_df_sum = self.df_sum
        self.df_sum, self.index_tokens = self.db.execute(
            "SELECT sum(df), count(*) FROM heads").fetchone()
        if self.queries is None:
            vocab = [r[0] for r in self.db.execute(
                "SELECT tok FROM heads ORDER BY df DESC, tok").fetchall()]
            self.queries = zipf_queries(self.seed, 7, vocab, self.max_ops)
            self.warm_queries = zipf_queries(self.seed, 8, vocab, 5)

    # -- ops ---------------------------------------------------------------
    def warmup(self):
        self._sync_oracle()
        return [self._query(terms) for terms in self.warm_queries]

    def step(self, i):
        self._sync_oracle()
        n_folds = i // (FOLD_EVERY + 1)
        if self.kind_of(i) == "fold":
            return self._fold(n_folds)
        return self._query(self.queries[i - n_folds])

    def _query(self, terms):
        if self.tracer is not None:
            self.tracer.diagnose(lambda: self.tracer.add(
                "search.head_rows", self.db.execute(
                    "SELECT coalesce(sum(len(top)), 0) FROM heads "
                    "WHERE list_contains(?, tok)", [terms]).fetchone()[0]))
        t0 = time.perf_counter()
        res = self.call("operators.search.lookup", postings_lookup_bm25,
                        self.heads, terms, self.stats, k=TOP_K)
        rows = [(r["id"], r["score"]) for r in res.collect()]
        dt = time.perf_counter() - t0
        return Op("query", dt, 1, output=rows, info={"terms": terms})

    def _fold(self, j):
        t0 = time.perf_counter()
        delta = (self.spark.read.parquet(self.delta_path)
                 .filter(F.col("batch") == j).select("doc_id", "text"))
        delta_heads = self.call("operators.search.posting_heads",
                                posting_heads, delta, k=TOP_K,
                                id_col="doc_id", text_col="text")
        merged = self.call("operators.search.merge_posting_heads",
                           merge_posting_heads, self.heads, delta_heads,
                           k=TOP_K)
        if self.tracer is not None:
            self.tracer.diagnose(lambda: self.tracer.add(
                "search.index_tokens", merged.count()))
        self.io.overwrite(merged, "heads", j + 1)
        self.heads = self.io.read("heads")
        self._set_n(self.n + self.delta_stats[j][0])
        dt = time.perf_counter() - t0
        return Op("fold", dt, self.delta_stats[j][0], info={"batch": j})

    def check(self, op):
        self._sync_oracle()
        if op.kind == "query":
            want = [tuple(r) for r in self.db.execute(
                ORACLE_SQL, [self.n, op.info["terms"]]).fetchall()]
            return checks.check_query(op.output, want)
        op.output = (op.info["batch"], self.index_tokens, self.df_sum)
        added = self.df_sum - self.prev_df_sum
        want = self.delta_stats[op.info["batch"]][1]
        if added != want:
            return [f"fold added df mass {added}, batch has {want} "
                    f"(token, doc) pairs"]
        return []

    def e2e(self, ops):
        ok = [op for op in ops if not op.errors]
        queries = [op.seconds for op in ok if op.kind == "query"]
        folds = [op.seconds for op in ok if op.kind == "fold"]
        secs = sum(queries) + sum(folds)
        snap = self.io.snapshots("heads")[-1]
        heads_bytes = sum(dir_bytes(os.path.join(self.io.root, "heads", d))[0]
                          for d in snap["dirs"])
        metrics = {
            "items_per_s": len(queries) / secs if secs else 0.0,
            "op_ms_p50": 1000 * median(queries),
            "disk_bytes_per_item": heads_bytes / max(self.index_tokens, 1),
        }
        named = {
            "search.queries_per_s": {"value": metrics["items_per_s"],
                                     "unit": "1/s"},
            "search.query_ms_p50": {"value": metrics["op_ms_p50"],
                                    "unit": "ms", "n": len(queries)},
            "search.query_ms_p95": {"value": 1000 * percentile(queries, 0.95),
                                    "unit": "ms", "n": len(queries)},
            "search.fold_s_p50": {"value": median(folds), "unit": "s",
                                  "n": len(folds)},
            "search.index_tokens": {"value": self.index_tokens,
                                    "unit": "count"},
        }
        return metrics, named

    def install_trace(self, tr):
        patch_tableio(tr)
