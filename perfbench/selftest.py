"""Self-test of the benchmark harness at tiny size.

    python3 perfbench/selftest.py

1. Every output check passes on a good result and trips on each kind of
   corrupted result, and a traced op whose output differs from its
   untraced twin is failed.
2. Every workload runs untraced and traced at tiny size with no failed op
   (so the traced pass reproduced the untraced outputs), printing every
   end-to-end metric or every per-layer metric respectively.

Exits 0 when everything holds, 1 otherwise.
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check_the_checks() -> list[str]:
    from perfbench import checks
    from perfbench.harness import Op, mark_mismatches

    bad = []

    def expect(name, errs, trips):
        if bool(errs) != trips:
            bad.append(f"{name}: expected {'a failure' if trips else 'pass'}"
                       f", got {errs}")

    a, b, c = ("https://host1.example/news/1.html", "host1.example"), \
        ("https://host2.example/tech/2.html", "host2.example"), \
        ("https://host1.example/sports/3.html", "host1.example")
    prior = {"https://host3.example/news/9.html"}
    seen = prior | {a[0], b[0], c[0]}
    expect("crawl good", checks.check_crawl_round([a, b, c], prior, seen, 2),
           False)
    expect("crawl duplicate in round",
           checks.check_crawl_round([a, b, c, a], prior, seen, 3), True)
    expect("crawl refetch of an earlier round",
           checks.check_crawl_round([a, b, c], prior | {b[0]}, seen, 2), True)
    priv = ("https://host2.example/private/4.html", "host2.example")
    expect("crawl /private fetched",
           checks.check_crawl_round([a, b, c, priv], prior, seen | {priv[0]},
                                    3), True)
    expect("crawl url_seen missing a URL",
           checks.check_crawl_round([a, b, c], prior, seen - {c[0]}, 2), True)
    expect("crawl url_seen extra URL",
           checks.check_crawl_round([a, b], prior, seen, 2), True)
    expect("crawl host over budget",
           checks.check_crawl_round([a, b, c], prior, seen, 1), True)

    rows = [{"host": "h1", "n_pages": 3, "n_unique_urls": 3},
            {"host": "h2", "n_pages": 2, "n_unique_urls": 2}]
    hosts = {"h1": 3, "h2": 2}
    expect("manifest good", checks.check_manifest(rows, hosts), False)
    expect("manifest n_pages off by one",
           checks.check_manifest([dict(rows[0], n_pages=4), rows[1]], hosts),
           True)
    expect("manifest pages moved between hosts",
           checks.check_manifest([dict(rows[0], n_pages=2, n_unique_urls=2),
                                  dict(rows[1], n_pages=3, n_unique_urls=3)],
                                 hosts), True)
    expect("manifest duplicate canonical URLs",
           checks.check_manifest([dict(rows[0], n_unique_urls=2), rows[1]],
                                 hosts), True)

    texts = {"u1": ("Some text.", True), "u2": (None, False)}
    expect("text sample good", checks.check_text_sample(dict(texts), texts),
           False)
    expect("text sample one byte changed",
           checks.check_text_sample({"u1": ("Some text!", True),
                                     "u2": (None, False)}, texts), True)
    expect("text sample ok flag flipped",
           checks.check_text_sample({"u1": ("Some text.", True),
                                     "u2": (None, True)}, texts), True)
    expect("text sample page missing",
           checks.check_text_sample({"u1": texts["u1"]}, texts), True)

    got = [(7, 900), (3, 450)]
    expect("query good", checks.check_query(list(got), got), False)
    expect("query score changed", checks.check_query([(7, 901), (3, 450)],
                                                     got), True)
    expect("query order swapped", checks.check_query(got[::-1], got), True)
    expect("query row dropped", checks.check_query(got[:1], got), True)

    untraced = [Op("round", output=(1, [a])), Op("round", output=(2, [b]))]
    traced = [Op("round", output=(1, [a])), Op("round", output=(2, [c]))]
    mark_mismatches(untraced, traced)
    if traced[0].errors or not traced[1].errors:
        bad.append("traced/untraced comparison did not flag exactly the "
                   "differing op")
    return bad


def run_tiny_workloads(workdir: str) -> list[str]:
    from perfbench.harness import run_traced, run_untraced
    from perfbench.run import (
        E2E_UNITS, WORKLOAD_NAMES, start_spark, stop_spark, workload_class)

    bad = []
    spark, _ = start_spark(workdir)
    try:
        for name in WORKLOAD_NAMES:
            for traced in (False, True):
                wl = workload_class(name)(
                    spark, os.path.join(workdir, f"{name}-{int(traced)}"),
                    seed=11, tiny=True)
                res = (run_traced if traced else run_untraced)(wl, 0.1)
                errs = [e for op in res["ops"] for e in op.errors]
                want = ({n for n, _, _ in wl.layers} | {"trace.overhead_s"}
                        if traced else set(E2E_UNITS))
                missing = want - set(res["metrics"])
                tag = f"{name} {'traced' if traced else 'untraced'}"
                if errs:
                    bad.append(f"{tag}: {len(errs)} failed ops: {errs[:3]}")
                if missing:
                    bad.append(f"{tag}: metrics missing: {sorted(missing)}")
                print(f"selftest: {tag}: {len(res['ops'])} ops, "
                      f"{len(errs)} failed", flush=True)
    finally:
        stop_spark(spark)
    return bad


def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench.run import make_workdir, remove_workdir, use_root_paths
    use_root_paths()
    bad = check_the_checks()
    print(f"selftest: output checks: {len(bad)} problems", flush=True)
    workdir = make_workdir("selftest")
    try:
        bad += run_tiny_workloads(workdir)
    finally:
        remove_workdir(workdir)
    for b in bad:
        print(f"selftest FAIL: {b}")
    print("selftest: OK" if not bad else f"selftest: {len(bad)} failures")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
