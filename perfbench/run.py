"""Benchmark of the engine's user surfaces, one workload per run.

    python3 perfbench/run.py --workload sql_service --seed 1 --seconds 12 --trace 0

Workloads (see perfbench/README.md for why each is here):
  sql_service      2 closed-loop HTTP clients -> service.serve -> api.query
  inventory_batch  relational and LLM-data inventory keys -> noop sink

Run from the repository root. The tables are the engine's sf0.1 test
fixtures, kept byte for byte under perfbench/data/sf0.1/; the seed picks
the service's request literals and the batch's key order. Every timed
output is checked against DuckDB after the timed window.

The last stdout line is one JSON object {"correct", "attempted",
"failed", "metrics"}: end-to-end metrics with --trace 0, per-layer
metrics from a traced run with --trace 1. The line before it is a JSON
record of the run (box, versions, calibration, per-operation detail,
failures by key or template). Exit code 0 means the run completed;
failures of operations are counted, not raised.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
DATA = os.path.join(HERE, "data", "sf0.1")
PACKAGE = "distributedqueryengine_spark"
WORKLOADS = ("sql_service", "inventory_batch")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_environment(run_dir: str) -> int:
    """Pin the engine to this box before Spark starts: all cores the
    process may use, private Spark/Java/Python scratch directories inside
    the checkout, and the checkout on the workers' import path."""
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    import tempfile

    tempfile.tempdir = None
    # Relative paths the engine or Spark may create (spark-warehouse,
    # checkpoints) land in the run directory.
    os.chdir(run_dir)
    return nproc


class Session:
    """Brings the engine up through ``api.bootstrap`` (session, fixture
    catalog, fragment views) and tears it down, JVM included."""

    def __init__(self, sf_dir: str) -> None:
        self.sf_dir = sf_dir
        self.spark = None

    def bring_up(self):
        from distributedqueryengine_spark import api

        spark = api.bootstrap(self.sf_dir)
        spark.sql("SELECT count(*) FROM nation").collect()
        spark.sparkContext.setLogLevel("ERROR")
        self.spark = spark
        return spark

    def close(self) -> None:
        """Stop Spark and the gateway JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:
            traceback.print_exc()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)


def stop_children(timeout: float = 30.0) -> None:
    """Terminate and reap any child process still running, such as a JVM
    whose launch a SIGTERM interrupted before Spark could own it."""
    me = str(os.getpid())
    children = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = f.read().rsplit(")", 1)[1].split()[1]
        except (OSError, IndexError):
            continue
        if ppid == me:
            children.append(int(entry))
    for pid in children:
        try:
            os.kill(pid, signal.SIGTERM)
        except ProcessLookupError:
            continue
    deadline = time.monotonic() + timeout
    for pid in children:
        while True:
            try:
                done, _ = os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                break
            if done or time.monotonic() > deadline:
                if not done:
                    os.kill(pid, signal.SIGKILL)
                    os.waitpid(pid, 0)
                break
            time.sleep(0.1)


def main(argv=None) -> int:
    started = time.perf_counter()
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(DATA, "lineitem.parquet")):
        print(f"perfbench: fixture tables not found under {DATA}", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # A terminated run still stops Spark and removes its directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    session = None
    try:
        nproc = pin_environment(run_dir)
        from perfbench import workloads

        session = Session(DATA)
        result, detail = workloads.run(args, session, nproc, WORK, started)
    finally:
        if session is not None:
            session.close()
        stop_children()
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(detail, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
