"""The benchmark of record: one command, one workload per invocation.

    python3 perfbench/run.py --workload crawl_rounds --seed 1 --seconds 20 \\
        --trace 0

Workloads: crawl_rounds, extract_corpus, search_serve (see README.md).
Run from the repository root (any directory holding this package next to
``python_web_scraper_cleaner_spark``). Spark runs on ``local[nproc]`` in
this single driver process; all scratch files live under
``.perfbench_work/`` in the repository root and are removed at exit.

Output: the line before last is a JSON record of the run (machine, code
version, workload-named metrics with sample counts, failed ops); the last
line is ``{"correct", "attempted", "failed", "metrics"}`` with the
end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). Exit code 0 when the run completed, whether or not its
outputs were correct; 2 when the engine package is missing.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "python_web_scraper_cleaner_spark"
WORKLOAD_NAMES = ("crawl_rounds", "extract_corpus", "search_serve")

# end-to-end metrics, the same for every workload (README.md defines them)
E2E_UNITS = {"setup_s": "s", "items_per_s": "1/s", "op_ms_p50": "ms",
             "disk_bytes_per_item": "B"}


def use_root_paths() -> None:
    """Import this package from the repository root, never its modules
    from perfbench/; the Spark Python workers find both via PYTHONPATH."""
    sys.path[:] = [ROOT] + [p for p in sys.path
                            if os.path.abspath(p or ".") != HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])


def make_workdir(tag: str) -> str:
    """A fresh scratch directory under .perfbench_work/, also used as the
    temporary directory of this process and its children."""
    workdir = os.path.join(ROOT, ".perfbench_work", f"{tag}-{os.getpid()}")
    os.makedirs(os.path.join(workdir, "tmp"))
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    tempfile.tempdir = None  # re-read TMPDIR
    # Spark prefers this variable over spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    # every JVM (the spark-submit launcher too): no /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}")
    return workdir


def remove_workdir(workdir: str) -> None:
    shutil.rmtree(workdir, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(workdir))  # only when no other run uses it
    except OSError:
        pass


def workload_class(name: str):
    if name == "crawl_rounds":
        from perfbench.crawl_rounds import CrawlRounds
        return CrawlRounds
    if name == "extract_corpus":
        from perfbench.extract_corpus import ExtractCorpus
        return ExtractCorpus
    from perfbench.search_serve import SearchServe
    return SearchServe


def start_spark(workdir: str):
    from python_web_scraper_cleaner_spark.session import build_session

    nproc = len(os.sched_getaffinity(0))
    spark = build_session(
        app_name="perfbench", master=f"local[{nproc}]",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        })
    spark.sparkContext.setLogLevel("ERROR")
    warm_python_workers(spark, nproc)
    return spark, nproc


def warm_python_workers(spark, cores: int) -> None:
    """Start the Python worker pool before anything is timed."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def ident(s: pd.Series) -> pd.Series:
        return s

    (spark.range(cores * 4, numPartitions=cores * 4)
     .select(ident("id").alias("x")).groupBy().sum("x").collect())


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def code_version() -> dict:
    """The git commit when there is one, and a digest of the engine's
    source files either way."""
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(os.path.join(ROOT, ENGINE))):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(d, f)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    commit = None
    try:
        out = subprocess.run(
            ["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
            capture_output=True, text=True, timeout=10).stdout.split()
        # only this checkout's own repository, not one that encloses it
        if len(out) == 2 and os.path.samefile(out[0], ROOT):
            commit = out[1]
    except (OSError, subprocess.SubprocessError):
        pass
    return {"git_commit": commit, "engine_sha256": h.hexdigest()[:16]}


def versions() -> dict:
    import pandas
    import pyarrow
    import pyspark
    return {"python": sys.version.split()[0], "pyspark": pyspark.__version__,
            "pandas": pandas.__version__, "pyarrow": pyarrow.__version__}


def run(args, workdir: str) -> tuple[dict, dict]:
    from perfbench.harness import run_traced, run_untraced
    from perfbench.measure import RssSampler

    info = {"workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "loadavg_1m_start": os.getloadavg()[0]}
    with RssSampler() as rss:
        spark, info["nproc"] = start_spark(workdir)
        try:
            wl = workload_class(args.workload)(spark, workdir, args.seed)
            if args.trace:
                res = run_traced(wl, args.seconds)
            else:
                res = run_untraced(wl, args.seconds)
        finally:
            stop_spark(spark)
    res["named"]["peak_rss_mb"] = {"value": rss.peak / 2**20, "unit": "MB"}
    if args.trace:
        metrics = res["metrics"]
    else:
        metrics = {k: {"value": float(res["metrics"][k]), "unit": u}
                   for k, u in E2E_UNITS.items()}
    ops = res["ops"]
    failed = [op for op in ops if op.errors]
    info.update(code_version(), versions=versions(),
                loadavg_1m_end=os.getloadavg()[0], named=res["named"],
                failed_ops_ratio=len(failed) / max(len(ops), 1),
                errors=[e for op in failed for e in op.errors][:10])
    result = {"correct": not failed, "attempted": len(ops),
              "failed": len(failed), "metrics": metrics}
    return info, result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seed < 0 or args.seconds <= 0:
        ap.error("--seed must be >= 0 and --seconds > 0")
    if not os.path.isfile(os.path.join(ROOT, ENGINE, "__init__.py")):
        print(f"perfbench: the engine package {ENGINE}/ is not next to "
              f"perfbench/ in {ROOT}", file=sys.stderr)
        return 2
    use_root_paths()
    workdir = make_workdir("run")
    try:
        info, result = run(args, workdir)
    finally:
        remove_workdir(workdir)
    print(json.dumps(info, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
