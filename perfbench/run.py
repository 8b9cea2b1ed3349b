#!/usr/bin/env python3
"""Layered benchmark of the lucene_solr_spark engine.

    python3 perfbench/run.py --workload {ingest,search} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout. One driver process, one client, closed
loop, Spark ``local[nproc]``. Inputs come from ``--seed`` only. Every answer
is checked; a wrong answer or an exception counts as a failed operation.

stdout: one ``name value unit`` line per metric and per ``wall.*`` figure,
one ``perfbench-report`` JSON line (stamps, failures, raw operation times,
span summary), and as the last line the result
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer metrics. Scratch files live
in ``.perfbench_work/`` of the checkout and are removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEMORY = "2g"


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=("ingest", "search"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _prepare_env(work: str) -> None:
    """Keep Spark, the JVM and the Python workers inside ``work``, and let the
    workers import the engine from the checkout. Must run before the JVM
    starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    prev = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + prev if prev else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_GRAFT_UI"] = "0"
    # spark-submit first runs a short launcher JVM, which takes only these
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            # -Xms at the heap limit: the JVM's resident high-water mark then
            # tracks the fixed heap, not when garbage collections happen
            "--conf "
            + shlex.quote(
                f"spark.driver.defaultJavaOptions=-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            ),
            "pyspark-shell",
        ]
    )


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers) to
    exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    args = _parse(argv)
    t_start = time.perf_counter()
    sys.path.insert(0, ROOT)
    try:
        import lucene_solr_spark
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(lucene_solr_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: the engine does not come from {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        _prepare_env(work)
        import workloads
        from lucene_solr_spark.session import get_spark

        cpus = len(os.sched_getaffinity(0))
        spark = get_spark(cpus=cpus, app=f"perfbench-{args.workload}")
        try:
            spark.sparkContext.setLogLevel("ERROR")
            bench = workloads.Bench(spark, args.seed, args.seconds, bool(args.trace), work, t_start)
            result = workloads.WORKLOADS[args.workload](bench)
            report = bench.report(args.workload, result)
        finally:
            _stop(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass

    metrics = report["per_layer"] if args.trace else report["end_to_end"]
    for name, m in {**metrics, **report["wall"]}.items():
        print(f"{name} {m['value']} {m['unit']}")
    print(f"failed_frac {report['failed_frac']} ratio ({report['failed']}/{report['attempted']})")
    print("perfbench-report " + json.dumps(report, sort_keys=True))
    print(
        json.dumps(
            {
                "correct": report["failed"] == 0,
                "attempted": report["attempted"],
                "failed": report["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
