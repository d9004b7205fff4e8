"""Run one benchmark workload and print its metrics.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload serve_light --seed 1 --seconds 10 --trace 0

``--trace 0`` measures the end-to-end metrics; ``--trace 1`` runs the
traced variant and prints the per-layer metrics (BENCHMARK.json lists
both). Human-readable lines come first; the last line of standard output
is one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
Working files (staged corpora, Spark spill, the span dump) go under
``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Raised whenever a workload's inputs, phases or metric definitions change,
# so that only figures of one version are compared.
VERSION = 1
HEAP = "1g"
# End-to-end figures a run prints that BENCHMARK.json does not gate:
# ingest_merge's own metrics (that workload is run by hand), and the
# latency tail, which needs more one-client samples than a run's 6 to 8.
EXTRA_UNITS = {"build_docs_per_s": "docs/s", "merge_s": "s", "query_tail_s": "s"}


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _source_digest() -> str:
    """Content hash of the library sources (the checkout has no git)."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "lucene_spark")
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames.sort()
        for name in sorted(f for f in files if f.endswith(".py")):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, pkg).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def _commit() -> str:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def _session(work: str, nproc: int):
    """A local Spark session on every core, writing only under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers import the library from the checkout and inherit these
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    # every JVM, the launcher's too: no hsperfdata files outside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    from pyspark.sql import SparkSession

    # the whole heap is committed and touched at start, so the JVM's share
    # of peak RSS does not depend on when garbage collection ran
    java_opts = f"-Xms{HEAP} -XX:+AlwaysPreTouch -Dderby.system.home={work}"
    spark = (
        SparkSession.builder.master(f"local[{nproc}]")
        .appName("perfbench")
        .config("spark.driver.memory", HEAP)
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(2 * nproc))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop the session and wait for the gateway JVM, which exits (and
    takes its Python workers with it) when its standard input closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "lucene_spark", "__init__.py")):
        print("perfbench: no lucene_spark package in this checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    spec = _spec()
    from perfbench.stats import TAIL_BEYOND
    from perfbench.tracing import RssSampler
    from perfbench.workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    nproc = os.cpu_count() or 1
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    meta = {
        "benchmark_version": VERSION, "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "commit": _commit(),
        "source_digest": _source_digest(),
        "nproc": nproc, "loadavg_start": os.getloadavg(), "python": platform.python_version(),
    }
    try:
        with RssSampler() as rss:
            t0 = time.perf_counter()
            spark = _session(work, nproc)
            meta["session_start_s"] = time.perf_counter() - t0
            import duckdb
            import numpy
            import pandas
            import pyarrow
            import pyspark

            meta["versions"] = {m.__name__: m.__version__
                                for m in (pyspark, pandas, numpy, pyarrow, duckdb)}
            try:
                run = Run(spark, work, args.seed, args.seconds, bool(args.trace), rss)
                WORKLOADS[args.workload](run)
                run.phase("done")
            finally:
                _stop(spark)
        if args.trace:
            for phase, mb in rss.peak_mb.items():
                if phase != "done":  # after the session stopped
                    run.layer[f"driver.rss_mb.{phase}"] = mb
            run.tracer.write(os.path.join(work, "..", f"trace-{args.workload}-{args.seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    meta.update(run.meta)
    meta["loadavg_end"] = os.getloadavg()
    meta["error_rate"] = len(run.failures) / max(1, run.attempted)
    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    got = run.layer if args.trace else run.e2e
    missing = [m["name"] for m in declared if m["name"] not in got]
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 1
    for f in run.failures:
        print(f"FAILED: {f}")
    print("meta " + json.dumps(meta, default=str))
    metrics = {m["name"]: {"value": float(got[m["name"]]), "unit": m["unit"]} for m in declared}
    for name, m in metrics.items():
        print(f"{name:40s} {m['value']:14.6g} {m['unit']}")
    # measured, but not gated: see EXTRA_UNITS
    for name in sorted(set(got) - set(metrics)):
        note = ""
        if name == "query_tail_s":
            note = "  p{pct} of n={n}".format(**meta["query_tail"])
        print(f"{name:40s} {got[name]:14.6g} {EXTRA_UNITS.get(name, '')}{note}")
    if not args.trace and "query_tail_s" not in got:
        print(f"{'query_tail_s':40s} {'-':>14s} s  n={meta['query_p50']['n']} leaves no "
              f"percentile with {TAIL_BEYOND} samples beyond it")
    print(f"{'error_rate':40s} {meta['error_rate']:14.6g} fraction")
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
