"""operators.windows.segmented_prefix — the one in-plan prefix/rank
primitive behind every budget, mixture, rank, pack layout, AUC and
percentile — against a driver reference (a Python sort plus cumsum over
the collected rows), and the zero-construction-job contract of every
caller."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from distributedqueryengine_spark.operators.windows import (
    _segments,
    segmented_prefix,
)


def _reference(rows, nulls_first, with_measure):
    """(key, tie, order, w) rows -> {tie: inclusive running measure}
    per key in (order, tie) order."""
    out = {}
    for k in {r[0] for r in rows}:
        def sort_key(r):
            null = r[2] is None
            return (null != nulls_first, 0.0 if null else r[2], r[1])

        run = 0
        for r in sorted((r for r in rows if r[0] == k), key=sort_key):
            run += r[3] if with_measure else 1
            out[r[1]] = run
    return out


def _rows(n, frac_tied, seed, keys=("a", "b", None), null_frac=0.05):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        if rng.random() < null_frac:
            o = None
        elif rng.random() < frac_tied:
            o = 5.0
        else:
            o = rng.randint(0, 40) / 4
        rows.append((rng.choice(keys), i, o, rng.randint(1, 9)))
    return rows


@pytest.mark.parametrize("nulls_first", [True, False])
def test_matches_reference_with_null_keys_and_null_orders(spark, nulls_first):
    rows = _rows(1500, 0.3, 1)
    df = spark.createDataFrame(rows, "k string, id long, o double, w long")
    for measure in (None, "w"):
        got = {
            r["id"]: r["cum"]
            for r in segmented_prefix(
                df, ["k"], "o", tie="id", measure=measure, n_buckets=16,
                nulls_first=nulls_first, out="cum",
            ).collect()
        }
        assert got == _reference(rows, nulls_first, measure is not None)


def test_limit_and_total_with_null_key(spark):
    """A per-key limit (keys missing from the limit frame select
    nothing, the NULL key matches a NULL limit row) keeps exactly the
    reference rows whose running measure fits; `total` is the key's
    whole measure."""
    rows = _rows(1200, 0.2, 2, keys=("a", "b", "c", None))
    df = spark.createDataFrame(rows, "k string, id long, o double, w long")
    limits = {"a": 300, None: 150, "b": 0}
    lim = spark.createDataFrame(list(limits.items()), "k string, __limit long")
    got = {
        r["id"]: (r["cum"], r["tot"])
        for r in segmented_prefix(
            df, ["k"], "o", tie="id", measure="w", limit=lambda _t: lim,
            n_buckets=8, out="cum", total="tot",
        ).collect()
    }
    ref = _reference(rows, True, True)
    tot = {}
    for k, _i, _o, w in rows:
        tot[k] = tot.get(k, 0) + w
    want = {
        i: (ref[i], tot[k]) for k, i, _o, _w in rows
        if k in limits and ref[i] <= limits[k]
    }
    assert got == want and any(rows[i][0] is None for i in got)


def test_empty_input(spark):
    df = spark.createDataFrame([], "k string, id long, o double, w long")
    out = segmented_prefix(
        df, ["k"], "o", tie="id", measure="w", limit=10, out="cum", total="t"
    )
    assert out.collect() == []
    assert set(out.columns) == {"k", "id", "o", "w", "cum", "t"}


@pytest.mark.parametrize("tie_type", ["long", "string"])
def test_tie_heavy_matches_reference_and_balances(spark, tie_type):
    """>= 90% of rows on ONE order value: the running measure still
    equals the reference, and no (keys, segment) window holds more than
    max(4·n/n_buckets, 64) rows — the tied value splits by tie ranges
    instead of ranking through one window."""
    n, n_buckets = 5000, 16
    rows = _rows(n, 0.95, 7, keys=("all",), null_frac=0.0)
    assert sum(r[2] == 5.0 for r in rows) >= 0.9 * n
    if tie_type == "string":
        rows = [(k, f"doc-{i:06d}", o, w) for k, i, o, w in rows]
    df = spark.createDataFrame(
        rows, f"k string, id {tie_type}, o double, w long"
    )
    got = {
        r["id"]: r["cum"]
        for r in segmented_prefix(
            df, ["k"], "o", tie="id", measure="w", n_buckets=n_buckets,
            out="cum",
        ).collect()
    }
    assert got == _reference(rows, True, True)
    seg_rows, stats, cols = _segments(
        df, ["k"], "o", "id", F.lit(1), None, n_buckets, True
    )
    sizes = [r["count"] for r in seg_rows.groupBy("k", *cols).count().collect()]
    assert sum(sizes) == n
    assert max(sizes) <= max(4 * n / n_buckets, 64), sorted(sizes)[-5:]
    assert stats.agg(F.sum("__c")).collect()[0][0] == n


# --------------------------------------------------------------------------
# every caller builds its plan without running a Spark job
# --------------------------------------------------------------------------

def _callers(spark):
    from distributedqueryengine_spark.functions import packing, sampling
    from distributedqueryengine_spark.operators.aggregates import (
        exact_percentiles_grouped,
    )
    from distributedqueryengine_spark.operators.mleval import roc_auc_df
    from distributedqueryengine_spark.operators.windows import (
        distributed_global_rank,
    )

    rows = [(i, f"g{i % 3}", (i * 7 % 11) / 10, 1 + i % 4, f"t {i}")
            for i in range(200)]
    df = spark.createDataFrame(
        rows, "id long, g string, score double, w long, text string"
    )
    rates = spark.createDataFrame(
        [("g0", 0.5), ("g1", 1.0)], "group string, rate double"
    )
    callers = {
        "budget": lambda: sampling.select_until_budget(df, 50),
        "grouped_budget": lambda: sampling.select_until_budget_grouped(
            df, {"g0": 20, "g1": 5}, group_col="g"),
        "mixture_rates": lambda: sampling.apply_mixture_rates(
            df, rates, "g", "id"),
        "temperature_mixture": lambda: sampling.apply_temperature_mixture(
            df, "g", "id", temperature=0.5),
        "training_order": lambda: sampling.training_order(
            df, "id", n_epochs=2),
        "curriculum_order": lambda: sampling.training_order(
            df, "id", n_epochs=2, curriculum_col="score",
            curriculum_epochs=1),
        "pack_layout": lambda: packing.concat_pack_layout(
            df, tokens=F.col("w"), id_col="id", seq_len=8),
        "roc_auc_df": lambda: roc_auc_df(
            df.withColumn("y", F.col("id") % 2), "score", "y"),
        "percentiles": lambda: exact_percentiles_grouped(
            df, "g", "score", [0.5, 0.9]),
        "global_rank": lambda: distributed_global_rank(df, "score", "id"),
    }
    # the two caller-input checks that run a bounded job by design —
    # the duplicate-rates check and the non-numeric curriculum probe —
    # replayed alone, so a caller may run exactly their jobs and no more
    checks = {
        "mixture_rates": lambda: rates.groupBy("group")
        .agg(F.count(F.lit(1)).alias("c")).filter(F.col("c") > 1)
        .limit(1).collect(),
        "curriculum_order": lambda: df.filter(
            F.col("score").isNotNull()
            & F.col("score").try_cast("double").isNull()
        ).select("score").limit(1).collect(),
    }
    return callers, checks


def _jobs(spark, name, build):
    sc = spark.sparkContext
    group = f"construct-{name}"
    sc.setJobGroup(group, "construction-job probe")
    try:
        build()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_callers_run_no_construction_jobs(spark):
    callers, checks = _callers(spark)
    jobs = {name: _jobs(spark, name, build) for name, build in callers.items()}
    want = {
        name: _jobs(spark, f"{name}-check", checks[name]) if name in checks else 0
        for name in callers
    }
    assert jobs == want, jobs
