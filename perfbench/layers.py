"""The per-layer metrics of the traced run, for every workload.

Times are self times in seconds; each metric is the median, over the ops
that reached the layer, of that op's total (0 when no op reached it: the
workload bypasses the layer). Ratios are medians of per-op ratios. The
``spark.*`` counts come from the untraced pass of the same run.
"""

from __future__ import annotations

from .measure import median


def _spark(field: str, kind: str):
    def get(tracer, untraced):
        return median([op.jobs[field] for op in untraced
                       if op.kind == kind and op.jobs])
    return get


def _self(span: str):
    return lambda tracer, untraced: tracer.self_s(span)


def _ratio(num: str, den: str):
    return lambda tracer, untraced: tracer.ratio(num, den)


def _count(key: str):
    return lambda tracer, untraced: tracer.count(key)


# (metric, unit, how it is computed)
LAYERS = [
    ("operators.bloom.bloom_dedup_s", "s", _self("operators.bloom.bloom_dedup")),
    ("operators.bloom.build_merge_s", "s", _self("operators.bloom.build_merge")),
    ("operators.bloom.maybe_seen_ratio", "ratio",
     _ratio("bloom.maybe_seen", "bloom.candidates")),
    ("operators.bloom.false_positive_ratio", "ratio",
     _ratio("bloom.false_pos", "bloom.negatives")),
    ("operators.frontier.robots_s", "s", _self("operators.frontier.robots")),
    ("operators.frontier.select_s", "s", _self("operators.frontier.select")),
    ("operators.frontier.politeness_s", "s",
     _self("operators.frontier.politeness")),
    ("operators.frontier.admitted_ratio", "ratio",
     _ratio("frontier.batch_rows", "frontier.pending_rows")),
    ("plans.crawl.simulated_fetch_s", "s", _self("plans.crawl.simulated_fetch")),
    ("operators.dedup.probe_s", "s", _self("operators.dedup.probe")),
    ("operators.dedup.band_s", "s", _self("operators.dedup.band")),
    ("operators.dedup.near_dup_ratio", "ratio",
     _ratio("dedup.near_dup", "dedup.fetched")),
    ("sources.tableio.append_s", "s", _self("sources.tableio.append")),
    ("sources.tableio.overwrite_s", "s", _self("sources.tableio.overwrite")),
    ("sources.tableio.read_s", "s", _self("sources.tableio.read")),
    ("sources.tableio.bytes_written", "B", _count("tableio.bytes_written")),
    ("sources.tableio.files_written", "count", _count("tableio.files_written")),
    ("sources.tableio.dirs_read", "count",
     _ratio("tableio.dirs_read", "tableio.reads")),
    ("spark.jobs_per_round", "count", _spark("jobs", "round")),
    ("spark.stages_per_round", "count", _spark("stages", "round")),
    ("spark.tasks_per_round", "count", _spark("tasks", "round")),
    ("functions.udfs.with_clean_text_s", "s",
     _self("functions.udfs.with_clean_text")),
    ("functions.udfs.ok_ratio", "ratio", _ratio("udfs.ok", "udfs.pages")),
    ("sources.pages.scan_s", "s", _self("sources.pages.scan")),
    ("plans.queries.manifest_s", "s", _self("plans.queries.manifest")),
    ("functions.kernel.clean_html_us_per_page", "us",
     _ratio("kernel.clean_html_us", "kernel.pages")),
]

# search_serve is runnable but not a workload of BENCHMARK.json, so these
# are printed only by its own traced runs
SEARCH_LAYERS = [
    ("operators.search.lookup_s", "s", _self("operators.search.lookup")),
    ("spark.jobs_per_query", "count", _spark("jobs", "query")),
    ("spark.tasks_per_query", "count", _spark("tasks", "query")),
    ("operators.search.head_rows_per_query", "count",
     _count("search.head_rows")),
    ("operators.search.posting_heads_s", "s",
     _self("operators.search.posting_heads")),
    ("operators.search.merge_posting_heads_s", "s",
     _self("operators.search.merge_posting_heads")),
    ("operators.search.index_tokens", "count", _count("search.index_tokens")),
]


def layer_metrics(layers, tracer, untraced) -> dict[str, dict]:
    return {name: {"value": float(fn(tracer, untraced)), "unit": unit}
            for name, unit, fn in layers}
