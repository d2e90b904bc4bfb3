"""Spans and counts recorded around calls into the engine's layers.

Spark is lazy, so a layer's call only builds a plan. Every traced call
therefore ends with a barrier: its DataFrame result is persisted and
counted, and the span runs from the call to the end of that count. Inputs
that came from another traced call are already materialised, so a span
holds the layer's own work. A span's self time is its duration minus the
time of the spans nested inside it. Extra counts taken only for the trace
run inside a ``trace.diagnostics`` span and are never part of a layer.

Spans are grouped into ops (one crawl round, extract pass, query or fold);
a per-layer metric is the median, over the ops that reached the layer, of
each op's total. Frames persisted by barriers are released at the end of
each op.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict

from pyspark.sql import DataFrame

from .measure import dir_bytes, median


class Tracer:
    def __init__(self) -> None:
        self.ops: list[dict] = []
        self._op: dict | None = None
        self._stack: list[dict] = []
        self._persisted: list[DataFrame] = []
        self._patches: list[tuple] = []

    # -- ops -------------------------------------------------------------
    def begin_op(self) -> None:
        self._op = {"self_s": defaultdict(float), "count": defaultdict(float)}

    def end_op(self) -> None:
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()
        self.ops.append(self._op)
        self._op = None

    def add(self, key: str, value: float) -> None:
        if self._op is not None:
            self._op["count"][key] += value

    def active(self) -> bool:
        """True inside an op and outside diagnostics."""
        return self._op is not None and not any(
            f["name"] == "trace.diagnostics" for f in self._stack)

    # -- spans -----------------------------------------------------------
    def call(self, name: str, fn, *args, barrier: bool = True, **kwargs):
        """Run ``fn`` as a span; returns (result, rows) where rows is the
        barrier count of a DataFrame result, else None."""
        frame = {"name": name, "child": 0.0}
        self._stack.append(frame)
        start = time.perf_counter()
        rows = None
        try:
            out = fn(*args, **kwargs)
            if barrier and isinstance(out, DataFrame):
                out = out.persist()
                self._persisted.append(out)
                rows = out.count()
        finally:
            end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self._stack[-1]["child"] += end - start
            if self._op is not None:
                self._op["self_s"][name] += end - start - frame["child"]
        return out, rows

    def diagnose(self, fn, *args, **kwargs) -> None:
        """Run a trace-only measurement outside every layer's self time."""
        self.call("trace.diagnostics", fn, *args, barrier=False, **kwargs)

    # -- patching module attributes and methods --------------------------
    def patch(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` with a traced wrapper while an op is
        open (outside ops the original runs untouched). ``after(rows,
        result, *args, **kwargs)`` runs as a diagnostics span."""
        original = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            if not tracer.active():
                return original(*args, **kwargs)
            out, rows = tracer.call(name, original, *args, **kwargs)
            if after is not None:
                tracer.diagnose(after, rows, out, *args, **kwargs)
            return out

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, original))

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    # -- summaries: medians over the ops that reached a layer (0 if none) ----
    def self_s(self, name: str) -> float:
        return median([op["self_s"][name] for op in self.ops
                       if name in op["self_s"]])

    def count(self, key: str) -> float:
        return median([op["count"][key] for op in self.ops
                       if key in op["count"]])

    def ratio(self, num: str, den: str) -> float:
        return median([op["count"].get(num, 0.0) / op["count"][den]
                       for op in self.ops if op["count"].get(den)])


def patch_tableio(tr: Tracer) -> None:
    """Trace the TableIO commits and reads, with bytes and files written
    per commit and data directories per read."""
    from python_web_scraper_cleaner_spark.sources.tableio import TableIO

    def written(rows, out, io, df, name, *args, **kwargs):
        d = io.snapshots(name)[-1]["dirs"][-1]
        size, files = dir_bytes(os.path.join(io.root, name, d))
        tr.add("tableio.bytes_written", size)
        tr.add("tableio.files_written", files)

    def dirs_read(rows, out, io, name):
        tr.add("tableio.reads", 1)
        tr.add("tableio.dirs_read", len(io.snapshots(name)[-1]["dirs"]))

    tr.patch(TableIO, "append_round", "sources.tableio.append", written)
    tr.patch(TableIO, "overwrite", "sources.tableio.overwrite", written)
    tr.patch(TableIO, "read", "sources.tableio.read", dirs_read)


def time_clean_html(tr: Tracer, htmls: list[bytes]) -> None:
    """Single-process ``functions.kernel.clean_html`` over ``htmls``: the
    single-thread baseline of the extraction UDF's payload."""
    from python_web_scraper_cleaner_spark.functions import kernel as K

    t0 = time.perf_counter()
    for html in htmls:
        K.clean_html(html, output_format="txt")
    tr.add("kernel.clean_html_us", 1e6 * (time.perf_counter() - t0))
    tr.add("kernel.pages", len(htmls))
