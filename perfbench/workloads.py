"""Set-up, warm-up, timed window, checks and metrics for each workload.

An operation is one service request (``sql_service``) or one inventory
key, constructed and forced to the noop sink (``inventory_batch``).
End-to-end metrics are the same four on every workload:

- ``setup_s``: from the start of ``run.py`` until the engine is up
  (``api.bootstrap`` in a fresh JVM: session, catalog, fragment views,
  plus a first query) and the workload's warm-up is done.
- ``op_mean_ms`` / ``op_p90_ms``: mean and 90th-percentile operation
  latency, as the client sees it for requests, construction plus
  execution for keys. The mean, not the median: with a handful of keys
  the median is one key's time, and as noisy as that key.
- ``ops_per_s``: operations completed per second of the timed window.

A traced run (``--trace 1``) runs the same timed window with tracing on
and reports the per-layer metrics ``BENCHMARK.json`` lists: layer spans
and Spark's recorded work, the tracing bookkeeping as a share of
operation time, and the traced window's end-to-end metrics, whose
difference from untraced runs is the tracing overhead.
"""

from __future__ import annotations

import json
import os
import platform
import statistics
import threading
import time
from collections import defaultdict

from perfbench import batch, oracle, sqlservice, tracing

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SQL_CLIENTS = 2
WARM_ROUNDS = 2
# Per-layer metrics only the other workload exercises; they read 0.
SQL_ONLY = ("service.overhead_ms", "service.response_kb", "api.query_ms",
            "api.sql_analyze_ms", "api.collect_ms", "api.rows_returned",
            "plans.extract_ms")


def batch_only() -> tuple[str, ...]:
    names = [f"builders.{p}" for p in ("construct_s", "construct_jobs", "execute_s", "execute_jobs")]
    for k in batch.NAMED_KEYS:
        names.append(f"q.{k}_s")
        names += [f"q.{k}.{p}" for p in ("construct_s", "construct_jobs", "execute_s", "execute_jobs")]
    return tuple(names)


def declared_metrics() -> tuple[dict, dict]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def as_metrics(values: dict, declared: dict) -> dict:
    """The result's metrics: exactly the declared ones, each measured."""
    missing = sorted(set(declared) - set(values))
    extra = sorted(set(values) - set(declared))
    if missing or extra:
        raise RuntimeError(f"metrics differ from BENCHMARK.json: missing={missing} extra={extra}")
    return {k: {"value": float(values[k]), "unit": u} for k, u in declared.items()}


MIB = 1024.0 * 1024.0


class Accumulator:
    """Per-layer totals collected while tracing, summed per unit."""

    def __init__(self, spark) -> None:
        self.reader = tracing.StatusReader(spark)
        self.lock = threading.Lock()
        self.exec = defaultdict(float)
        self.py = defaultdict(float)
        self.phases = defaultdict(float)
        self.intervals: list[tuple[int, int]] = []
        self.wall_ms = 0.0
        self.bookkeeping_s = 0.0  # time spent reading what Spark recorded

    def read_unit(self, group: str, cursor, wall_s: float) -> dict:
        t0 = time.perf_counter()
        ids = self.reader.job_ids(group)
        jobs = self.reader.jobs(ids)
        py = self.reader.python_boundary(ids, cursor)
        with self.lock:
            for k, v in jobs["totals"].items():
                self.exec[k] += v
            for k, v in py.items():
                self.py[k] += v
            self.intervals.extend(jobs["intervals"])
            self.wall_ms += wall_s * 1e3
            self.bookkeeping_s += time.perf_counter() - t0
        return {"jobs": len(ids), "intervals": jobs["intervals"]}

    def add_phases(self, jdfs) -> None:
        """Catalyst phases of the given Datasets' QueryExecutions."""
        t0 = time.perf_counter()
        phases = defaultdict(float)
        for jdf in jdfs:
            for k, v in tracing.phases_ms(jdf).items():
                phases[k] += v
        with self.lock:
            for k, v in phases.items():
                self.phases[k] += v
            self.bookkeeping_s += time.perf_counter() - t0


def exec_metrics(acc: Accumulator, ops: int, driver_only_s: float, nproc: int) -> dict:
    e = acc.exec
    return {
        "exec.jobs": e["jobs"] / ops,
        "exec.stages": e["stages"] / ops,
        "exec.skipped_stages": e["skipped_stages"] / ops,
        "exec.tasks": e["tasks"] / ops,
        "exec.failed_tasks": e["failed_tasks"] / ops,
        "exec.run_ms": e["run_ms"] / ops,
        "exec.cpu_ms": e["cpu_ms"] / ops,
        "exec.utilization": e["run_ms"] / (acc.wall_ms * nproc) if acc.wall_ms else 0.0,
        "exec.shuffle_read_mb": e["shuffle_read_b"] / MIB / ops,
        "exec.shuffle_write_mb": e["shuffle_write_b"] / MIB / ops,
        "exec.spill_mb": e["spill_b"] / MIB / ops,
        "exec.driver_only_s": driver_only_s / ops,
        "pyboundary.nodes": acc.py["nodes"] / ops,
        "pyboundary.rows_to_python": acc.py["rows"] / ops,
        "pyboundary.arrow_sent_mb": acc.py["sent_b"] / MIB / ops,
        "pyboundary.arrow_received_mb": acc.py["received_b"] / MIB / ops,
        "pyboundary.python_run_ms": acc.py["run_ms"] / ops,
        "catalyst.analysis_ms": acc.phases["analysis"] / ops,
        "catalyst.optimization_ms": acc.phases["optimization"] / ops,
        "catalyst.planning_ms": acc.phases["planning"] / ops,
    }


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def calibrate(spark, sf_dir: str, nproc: int) -> dict:
    """Fixed scan-aggregate over lineitem on DuckDB and on Spark:
    informational box-speed probes, median of 3 each."""
    sql = (
        "SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS q, "
        "sum(l_extendedprice * (1 - l_discount)) AS rev, avg(l_tax) AS tax "
        "FROM lineitem GROUP BY l_returnflag, l_linestatus"
    )
    con = oracle.duck_connect(sf_dir, ["lineitem"], nproc)
    duck, sp = [], []
    for _ in range(3):
        t0 = time.perf_counter()
        con.execute(sql).fetchall()
        duck.append((time.perf_counter() - t0) * 1e3)
    con.close()
    for _ in range(3):
        t0 = time.perf_counter()
        spark.sql(sql).collect()
        sp.append((time.perf_counter() - t0) * 1e3)
    return {"duckdb_ms": statistics.median(duck), "spark_ms": statistics.median(sp)}


def box_info(spark, nproc: int) -> dict:
    return {
        "nproc": nproc,
        "spark": spark.version,
        "java": str(spark.sparkContext._jvm.java.lang.System.getProperty("java.version")),
        "python": platform.python_version(),
        "platform": platform.platform(),
    }


def e2e(setup_s: float, latencies_s: list[float], window_s: float) -> dict:
    ms = [x * 1e3 for x in latencies_s]
    return {
        "setup_s": setup_s,
        "op_mean_ms": statistics.fmean(ms),
        "op_p90_ms": percentile(ms, 90),
        "ops_per_s": len(ms) / window_s,
    }


# ------------------------------------------------------------ sql_service


class SqlService:
    def __init__(self, spark, sf_dir: str, seed: int, nproc: int) -> None:
        from distributedqueryengine_spark import service

        self.spark = spark
        self.sf_dir = sf_dir
        self.nproc = nproc
        con = oracle.duck_connect(sf_dir, ["orders", "customer", "part", "events"], nproc)
        try:
            sizes = sqlservice.table_sizes(con)
        finally:
            con.close()
        self.stream = sqlservice.request_stream(seed, sizes, rounds=40)
        # Latency in a fresh JVM mostly settles after two rounds.
        self.warm_stream = sqlservice.request_stream(seed + 7919, sizes, rounds=WARM_ROUNDS)
        self.server = service.serve(spark)
        self.port = self.server.server_address[1]

    def warm_up(self) -> list[str]:
        """Untimed rounds of every template; returns the errors seen."""
        recs = sqlservice.closed_loop(self.port, self.warm_stream, SQL_CLIENTS, seconds=0,
                                      rounds=WARM_ROUNDS)
        return [f"{r['req']['template']}: {p}" for r in recs for p in _status_problems(r)]

    def window(self, seconds: float) -> dict:
        t0 = time.perf_counter()
        recs = sqlservice.closed_loop(self.port, self.stream, SQL_CLIENTS, seconds=seconds)
        window_s = time.perf_counter() - t0
        return {"records": recs, "window_s": window_s, "latencies": [r["rt"] for r in recs]}

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()

    def check(self, records: list[dict]) -> None:
        """Compare every response with DuckDB running the same SQL and
        arguments; sets ``rec["problems"]`` on each failing record."""
        con = oracle.duck_connect(self.sf_dir, _tables(), self.nproc)
        expected: dict[str, tuple] = {}
        try:
            for rec in records:
                rec["name"] = rec["req"]["template"]
                req = rec["req"]
                sig = json.dumps([req["sql"], req["args"]], sort_keys=True)
                if sig not in expected:
                    res = con.execute(oracle.to_duckdb_params(req["sql"]), req["args"])
                    cols = [d[0] for d in res.description]
                    rows = json.loads(json.dumps(res.fetchall(), default=str))
                    expected[sig] = (cols, rows)
                found = _response_problems(rec, *expected[sig])
                if found:
                    rec["problems"] = found
        finally:
            con.close()

    def trace(self, seconds: float, acc: Accumulator, tracer: tracing.Tracer) -> dict:
        """Timed window with spans around api/plans/SparkSession calls
        and one job group per request."""
        from pyspark.sql import SparkSession

        from distributedqueryengine_spark import api

        sc = self.spark.sparkContext
        local = threading.local()
        counter = iter(range(1, 1 << 62))
        lock = threading.Lock()
        per_req = defaultdict(float)

        def remember_df(args, result):
            local.__dict__.setdefault("dfs", []).append(result)

        def count_rows(args, result):
            local.__dict__.setdefault("dfs", []).append(args[0])
            with lock:
                per_req["rows"] += len(result)

        tracer.wrap(SparkSession, "sql", "api.sql_analyze", on_result=remember_df)
        # The concrete DataFrame class (pyspark.sql.DataFrame is its
        # abstract parent in Spark 4).
        tracer.wrap(type(self.spark.range(1)), "collect", "api.collect", on_result=count_rows)
        tracer.wrap(api, "plan_report", "plans.extract")
        tracer.wrap(api, "plan_tree", "plans.extract")
        orig_query = api.query

        def traced_query(*args, **kwargs):
            with lock:
                n = next(counter)
            group = f"req/{n}"
            sc.setJobGroup(group, group)
            cursor = acc.reader.cursor()
            local.dfs = []
            t0 = time.perf_counter()
            try:
                return orig_query(*args, **kwargs)
            finally:
                span = time.perf_counter() - t0
                tracer.record("api.query", span)
                acc.read_unit(group, cursor, span)
                acc.add_phases([df._jdf for df in local.dfs])
                local.dfs = []

        api.query = traced_query
        try:
            out = self.window(seconds)
        finally:
            api.query = orig_query
            tracer.unwrap_all()
        out["rows"] = per_req["rows"]
        return out


def _tables():
    from distributedqueryengine_spark.session import TABLES

    return TABLES


def _status_problems(rec: dict) -> list[str]:
    if rec["status"] != 200 or not isinstance(rec["payload"], dict):
        return [f"HTTP {rec['status']}: {str(rec['payload'])[:200]}"]
    if "error" in rec["payload"]:
        return [f"error: {rec['payload']['error'][:200]}"]
    return []


def _response_problems(rec: dict, ocols: list, orows: list) -> list[str]:
    found = _status_problems(rec)
    if found:
        return found
    cols = rec["payload"]["columns"]
    rows = [[r[c] for c in cols] for r in rec["payload"]["rows"]]
    return oracle.compare_rows(cols, rows, ocols, orows)


# ------------------------------------------------------------------ batch


class BatchHooks:
    """Job group per key and phase; status read right after each phase."""

    def __init__(self, spark, acc: Accumulator) -> None:
        self.sc = spark.sparkContext
        self.acc = acc
        self.n = 0
        self.units: list[dict] = []
        self._cursor = None
        self._group = None

    def begin(self, key: str, phase: str) -> None:
        self.n += 1
        self._group = f"{key}/{phase}/{self.n}"
        self.sc.setJobGroup(self._group, self._group)
        self._cursor = self.acc.reader.cursor()

    def end(self, key: str, phase: str, seconds: float, df) -> None:
        unit = self.acc.read_unit(self._group, self._cursor, seconds)
        busy = tracing.busy_ms(unit["intervals"]) / 1e3
        self.units.append(
            {"key": key, "phase": phase, "s": seconds, "jobs": unit["jobs"],
             "driver_only_s": max(0.0, seconds - busy)}
        )
        if phase == "execute":
            # Plan the key's final DataFrame once more so its tracker
            # records optimization and planning (the sink write planned
            # its own QueryExecution).
            t0 = time.perf_counter()
            df._jdf.queryExecution().executedPlan()
            self.acc.bookkeeping_s += time.perf_counter() - t0
            self.acc.add_phases([df._jdf])


class Batch:
    def __init__(self, spark, sf_dir: str, seed: int, nproc: int, work: str) -> None:
        from distributedqueryengine_spark.inventory import (
            BASELINE_ORACLE_OVERRIDES,
            INVENTORY,
            INVENTORY_ORACLES,
        )

        self.spark = spark
        self.sf_dir = sf_dir
        self.nproc = nproc
        self.inventory = INVENTORY
        self.passes = batch.key_passes(seed)
        self.oracles = dict(INVENTORY_ORACLES)
        self.oracles.update(BASELINE_ORACLE_OVERRIDES)
        self.cache = oracle.ExpectedCache(os.path.join(work, "expected"), sf_dir)

    def warm_up(self) -> list[str]:
        """One untimed pass over the keys at the workload's own scale:
        a key's first execution in a JVM pays for class loading, code
        generation and JIT that later executions do not. Returns the
        errors seen."""
        runner = batch.KeyRunner(self.spark, self.sf_dir, self.inventory)
        recs = [runner.run(key) for key in next(self.passes)]
        return [f"{r['key']}: {r['error'].strip().splitlines()[-1]}" for r in recs if "error" in r]

    def window(self, seconds: float, hooks=None) -> dict:
        """Whole passes over the keys until ``seconds`` have passed, at
        least one, so every key is timed equally often."""
        runner = batch.KeyRunner(self.spark, self.sf_dir, self.inventory, hooks)
        recs: list[dict] = []
        t0 = time.perf_counter()
        while not recs or time.perf_counter() - t0 < seconds:
            recs += [runner.run(key) for key in next(self.passes)]
        window_s = time.perf_counter() - t0
        lat = [r["seconds"] for r in recs if "seconds" in r]
        return {"records": recs, "window_s": window_s, "latencies": lat}

    def close(self) -> None:
        pass

    def check(self, records: list[dict]) -> None:
        """Fingerprint of every timed key's output vs its DuckDB oracle;
        sets ``rec["problems"]`` on each failing record."""
        con = oracle.duck_connect(self.sf_dir, _tables(), self.nproc)
        try:
            batch.check(self.spark, records, self.oracles, con, self.cache)
        finally:
            con.close()

    def trace(self, seconds: float, acc: Accumulator, tracer: tracing.Tracer) -> dict:
        hooks = BatchHooks(self.spark, acc)
        out = self.window(seconds, hooks)
        out["units"] = hooks.units
        return out


# ------------------------------------------------------------------- run


def run(args, session, nproc: int, work: str, started: float):
    from distributedqueryengine_spark import fragments
    from distributedqueryengine_spark import session as dqe_session
    from distributedqueryengine_spark.inventory import INVENTORY

    batch.check_partition(INVENTORY)
    e2e_units, layer_units = declared_metrics()
    tracer = tracing.Tracer() if args.trace else None
    if tracer:
        tracer.wrap(dqe_session, "get_spark", "session.start")
        tracer.wrap(dqe_session, "register_tables", "session.catalog")
        tracer.wrap(fragments, "register_fragment_views", "session.catalog")
    spark = session.bring_up()
    bring_up_s = time.perf_counter() - started
    if tracer:
        tracer.unwrap_all()

    if args.workload == "sql_service":
        w = SqlService(spark, session.sf_dir, args.seed, nproc)
    else:
        w = Batch(spark, session.sf_dir, args.seed, nproc, work)
    acc = Accumulator(spark) if tracer else None
    try:
        t0 = time.perf_counter()
        warmup_failures = w.warm_up()
        warmup_s = time.perf_counter() - t0
        setup_s = time.perf_counter() - started
        detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                  "box": box_info(spark, nproc), "bring_up_s": bring_up_s,
                  "warmup_s": warmup_s, "calibration": calibrate(spark, session.sf_dir, nproc)}
        measured = w.trace(args.seconds, acc, tracer) if tracer else w.window(args.seconds)
    finally:
        w.close()

    records = measured["records"]
    w.check(records)
    failed = [r for r in records if r.get("problems")]
    metrics = e2e(setup_s, measured["latencies"], measured["window_s"])
    detail.update(
        ops=len(records),
        window_s=measured["window_s"],
        e2e=metrics,
        failures=_failures_by_name(failed),
        warmup_failures=warmup_failures,
        per_op=_per_op_detail(records),
    )
    if tracer is None:
        out = as_metrics(metrics, e2e_units)
    else:
        layer = _layer_metrics(args.workload, measured, acc, tracer, nproc)
        layer.update({f"traced.{k}": v for k, v in metrics.items() if k != "setup_s"})
        layer.update({
            "session.start_s": tracer.total["session.start"],
            "session.catalog_s": tracer.total["session.catalog"],
            "session.warmup_s": warmup_s,
            "calib.duckdb_ms": detail["calibration"]["duckdb_ms"],
            "calib.spark_ms": detail["calibration"]["spark_ms"],
            "box.nproc": nproc,
            "trace.overhead_pct": 100.0 * acc.bookkeeping_s / sum(measured["latencies"]),
        })
        detail["trace_bookkeeping_s"] = acc.bookkeeping_s
        out = as_metrics(layer, layer_units)
    result = {"correct": not failed and not warmup_failures, "attempted": len(records),
              "failed": len(failed), "metrics": out}
    return result, detail


def _failures_by_name(failed: list[dict]) -> dict:
    out: dict = {}
    for rec in failed:
        entry = out.setdefault(rec["name"], {"count": 0, "first": rec["problems"][0]})
        entry["count"] += 1
    return out


def _per_op_detail(records: list[dict]) -> dict:
    by = defaultdict(list)
    for r in records:
        t = r.get("rt", r.get("seconds"))
        if t is not None:
            by[r["name"]].append(t)
    return {k: {"n": len(v), "median_s": statistics.median(v)} for k, v in sorted(by.items())}


def _layer_metrics(workload, traced, acc, tracer, nproc) -> dict:
    recs = traced["records"]
    ops = max(1, len(recs))
    out: dict = {}
    if workload == "sql_service":
        busy = tracing.busy_ms(acc.intervals) / 1e3
        driver_only = max(0.0, traced["window_s"] - busy)
        rt = sum(r["rt"] for r in recs)
        out["service.overhead_ms"] = 1e3 * (rt - tracer.total["api.query"] - acc.bookkeeping_s) / ops
        out["service.response_kb"] = sum(r["bytes"] for r in recs) / 1024.0 / ops
        for span, name in (("api.query", "api.query_ms"), ("api.sql_analyze", "api.sql_analyze_ms"),
                           ("api.collect", "api.collect_ms"), ("plans.extract", "plans.extract_ms")):
            out[name] = 1e3 * tracer.total[span] / ops
        out["api.rows_returned"] = traced["rows"] / ops
        out.update(dict.fromkeys(batch_only(), 0.0))
    else:
        out.update(dict.fromkeys(SQL_ONLY, 0.0))
        units = traced["units"]
        driver_only = sum(u["driver_only_s"] for u in units)
        for phase in ("construct", "execute"):
            us = [u for u in units if u["phase"] == phase]
            out[f"builders.{phase}_s"] = sum(u["s"] for u in us) / ops
            out[f"builders.{phase}_jobs"] = sum(u["jobs"] for u in us) / ops
        for key in batch.NAMED_KEYS:
            ks = [r["seconds"] for r in recs if r["key"] == key and "seconds" in r]
            if not ks:
                continue
            out[f"q.{key}_s"] = statistics.median(ks)
            for phase in ("construct", "execute"):
                us = [u for u in units if u["key"] == key and u["phase"] == phase]
                out[f"q.{key}.{phase}_s"] = statistics.median(u["s"] for u in us)
                out[f"q.{key}.{phase}_jobs"] = statistics.median(u["jobs"] for u in us)
    out.update(exec_metrics(acc, ops, driver_only, nproc))
    return out
