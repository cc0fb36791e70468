"""Benchmark entry point for the streaming medallion.

    python3 perfbench/run.py --workload medallion_steady --seed 1 \
        --seconds 15 --trace 0

Run from the repository root. Builds a Spark session on
``local[$SPARK_GRAFT_CPUS]`` (default: the machine's core count;
``SPARK_GRAFT_CPUS=1`` gives the single-threaded baseline) with a 2 GiB
driver heap, runs the workload, checks the outputs, and prints one JSON
line last: ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones, each
with the unit ``BENCHMARK.json`` declares for it. Every file the run
writes lives under ``.perfbench_work/`` and is removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _isolate(workdir: str) -> dict:
    """Point every scratch location of Python, the JVM and Spark inside
    ``workdir``; returns the Spark confs that do so."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Spark hands timestamps to Python in the local zone; the output checks
    # compare them with DuckDB's UTC-naive values.
    os.environ["TZ"] = "UTC"
    time.tzset()
    import tempfile

    tempfile.tempdir = tmp
    return {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
    }


def _shutdown_jvm() -> None:
    """Stop the JVM the session launched and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _declared_units(trace: bool) -> dict[str, str]:
    """Metric name -> unit, as ``BENCHMARK.json`` declares them for the
    end-to-end (``trace`` false) or per-layer metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import real_time_rides_data_pipeline_spark  # noqa: F401
    except ImportError as exc:
        print(f"program package not found under {ROOT}: {exc}", file=sys.stderr)
        return 2
    import medallion

    if args.workload not in medallion.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    units = _declared_units(bool(args.trace))

    workdir = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    os.makedirs(workdir)
    try:
        conf = _isolate(workdir)
        try:
            result = medallion.run(
                args.workload, args.seed, args.seconds, bool(args.trace),
                workdir, conf,
            )
        finally:
            from pyspark.sql import SparkSession

            active = SparkSession.getActiveSession()
            if active is not None:
                active.stop()
            _shutdown_jvm()
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(workdir))
    errors = result.pop("errors")
    for err in errors:
        print(f"CHECK FAILED: {err}", file=sys.stderr)
    print(f"diagnostics: {json.dumps(result.pop('diag'))}", file=sys.stderr)
    metrics = result.pop("metrics")
    if set(metrics) != set(units):
        print(
            "measured metrics differ from BENCHMARK.json: "
            f"undeclared {sorted(set(metrics) - set(units))}, "
            f"missing {sorted(set(units) - set(metrics))}",
            file=sys.stderr,
        )
        return 1
    print(json.dumps({
        "correct": not errors,
        **result,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
