"""The measurement loop shared by every workload.

A workload is a closed loop with one client: it runs one op (a crawl
round, an extract pass, a query or a fold), checks its output outside the
timed span, then runs the next, until the run's seconds are spent.

Untraced run (``--trace 0``): K timed set-ups, an untimed warm-up, then
the measured ops; end-to-end metrics come from here only.

Traced run (``--trace 1``): set-up and warm-up, an untraced pass that also
counts Spark jobs per op, a fresh set-up and warm-up, then a traced pass
over the same number of ops. Per-layer metrics come from the traced pass;
``trace.overhead_s`` is its timed total minus the untraced pass's. Both
passes must produce the same outputs.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from .layers import LAYERS, layer_metrics
from .measure import JobCounter, median, steal_seconds, tree_cpu_seconds
from .tracing import Tracer


@dataclass
class Op:
    kind: str
    seconds: float = 0.0
    items: int = 0
    output: object = None
    errors: list = field(default_factory=list)
    jobs: dict | None = None
    info: dict = field(default_factory=dict)
    cpu_s: float = 0.0
    steal_s: float = 0.0


class Workload:
    """Subclasses define the inputs, one op, its check and the metrics."""

    setups = 3       # timed set-ups per run; setup_s is their median
    min_ops = 3
    max_ops = 10_000
    trace_ops: int | None = None  # ops per pass of a traced run; None:
    # as many as seconds/2 of loop time allows (at least min_ops)
    layers = LAYERS  # the per-layer metrics its traced run prints

    def __init__(self, spark, workdir: str, seed: int) -> None:
        self.spark = spark
        self.workdir = workdir
        self.seed = seed
        self.tracer: Tracer | None = None

    def prepare(self) -> None:
        """One-time input generation and first-touch warm-up (not part of
        setup_s)."""

    def setup(self) -> None:
        """Build fresh engine state from the prepared inputs."""
        raise NotImplementedError

    def warmup(self) -> list[Op]:
        """Untimed ops that pay first-touch costs; they are checked."""
        return []

    def step(self, i: int) -> Op:
        raise NotImplementedError

    def check(self, op: Op) -> list[str]:
        raise NotImplementedError

    def call(self, name: str, fn, *args, **kwargs):
        """Call into the engine; a traced span in the traced pass."""
        if self.tracer is None:
            return fn(*args, **kwargs)
        return self.tracer.call(name, fn, *args, **kwargs)[0]

    def kind_of(self, i: int) -> str:
        """The kind of op ``i`` (round, pass, query or fold)."""
        raise NotImplementedError

    def install_trace(self, tracer: Tracer) -> None:
        """Patch the engine entry points this workload reaches."""

    def e2e(self, ops: list[Op]) -> tuple[dict, dict]:
        """(generic end-to-end metrics, workload-named metrics)."""
        raise NotImplementedError


def _run_op(wl: Workload, i: int, tracer, jobs) -> Op:
    if tracer is not None:
        tracer.begin_op()
    c0, s0 = tree_cpu_seconds(os.getpid()), steal_seconds()
    try:
        op = wl.step(i)
    except Exception as e:  # an op that raises is a failed op
        op = Op(kind=wl.kind_of(i),
                errors=[f"raised {type(e).__name__}: {e}"[:300]])
    finally:
        if tracer is not None:
            tracer.end_op()
    op.cpu_s = tree_cpu_seconds(os.getpid()) - c0
    op.steal_s = steal_seconds() - s0
    if jobs is not None:
        op.jobs = jobs.take()
    _check(wl, op)
    if jobs is not None:
        jobs.take()  # drop the check's jobs from the next op's window
    return op


def _check(wl: Workload, op: Op) -> None:
    if op.errors:
        return
    try:
        op.errors = wl.check(op)
    except Exception as e:  # a check that raises fails its op
        op.errors = [f"check raised {type(e).__name__}: {e}"[:300]]


def run_ops(wl: Workload, *, seconds: float | None = None,
            n: int | None = None, tracer: Tracer | None = None,
            jobs: JobCounter | None = None) -> list[Op]:
    """Run ops until ``seconds`` of loop time (at least ``min_ops``) or
    exactly ``n`` ops."""
    ops: list[Op] = []
    t0 = time.perf_counter()
    while len(ops) < wl.max_ops:
        if n is not None:
            if len(ops) >= n:
                break
        elif (len(ops) >= wl.min_ops
              and time.perf_counter() - t0 >= seconds):
            break
        ops.append(_run_op(wl, len(ops), tracer, jobs))
    return ops


def _checked(wl: Workload, ops: list[Op]) -> list[Op]:
    for op in ops:
        _check(wl, op)
    return ops


def run_untraced(wl: Workload, seconds: float) -> dict:
    t0 = time.perf_counter()
    wl.prepare()
    t1 = time.perf_counter()
    setup_s = []
    for _ in range(wl.setups):
        t = time.perf_counter()
        wl.setup()
        setup_s.append(time.perf_counter() - t)
    t2 = time.perf_counter()
    warm = _checked(wl, wl.warmup())
    t3 = time.perf_counter()
    ops = run_ops(wl, seconds=seconds)
    t4 = time.perf_counter()
    metrics, named = wl.e2e(ops)
    metrics["setup_s"] = median(setup_s)
    named["setup_s"] = {"value": metrics["setup_s"], "unit": "s",
                        "n": len(setup_s)}
    named["phases_s"] = {"prepare": t1 - t0, "setups": t2 - t1,
                         "warmup": t3 - t2, "ops": t4 - t3,
                         "op_seconds": [op.seconds for op in ops],
                         "op_cpu_s": [op.cpu_s for op in ops],
                         "op_steal_s": [op.steal_s for op in ops]}
    return {"ops": warm + ops, "metrics": metrics, "named": named}


def mark_mismatches(untraced: list[Op], traced: list[Op]) -> None:
    """Fail every traced op whose output differs from the untraced one."""
    for a, b in zip(untraced, traced):
        if a.output != b.output:
            b.errors.append("traced output differs from untraced output")


def run_traced(wl: Workload, seconds: float) -> dict:
    wl.prepare()
    wl.setup()
    warm = _checked(wl, wl.warmup())
    untraced = run_ops(wl, seconds=seconds / 2, n=wl.trace_ops,
                       jobs=JobCounter(wl.spark))
    wl.setup()
    warm += _checked(wl, wl.warmup())
    tracer = Tracer()
    wl.tracer = tracer
    wl.install_trace(tracer)
    try:
        traced = run_ops(wl, n=len(untraced), tracer=tracer)
    finally:
        tracer.unpatch()
        wl.tracer = None
    mark_mismatches(untraced, traced)
    metrics = layer_metrics(wl.layers, tracer, untraced)
    metrics["trace.overhead_s"] = {
        "value": (sum(op.seconds for op in traced)
                  - sum(op.seconds for op in untraced)), "unit": "s"}
    return {"ops": warm + untraced + traced, "metrics": metrics,
            "named": {"trace.ops": {"value": len(traced), "unit": "count"}}}
