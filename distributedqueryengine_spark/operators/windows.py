"""Window functions: ranking, offsets, frames, top-k per group.

Not present in the reference (closed operator enum, RPC.cs:20-28).
Implemented over Spark's WindowExec: one shuffle on partitionBy keys,
then a per-partition sort — at scale the partition key choice IS the
cost model, so every helper takes explicit partition keys and the
top-k helper filters on row_number instead of collecting (no driver
materialization, unlike the reference's whole-result pulls
RPC.cs:225-246).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F


def _spec(partition_by: Sequence[str], order_by: Sequence[Column | str]) -> WindowSpec:
    return Window.partitionBy(*partition_by).orderBy(*order_by)


def top_k_per_group(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column | str],
    k: int,
    rank_col: str = "rn",
) -> DataFrame:
    """Top-k rows per group via row_number + filter.

    The canonical scale-safe top-k: the window sort happens inside each
    hash partition and the filter drops everything past k before any
    further stage. order_by must be tie-free (include a unique key) for
    deterministic results.
    """
    w = _spec(partition_by, order_by)
    return df.withColumn(rank_col, F.row_number().over(w)).filter(F.col(rank_col) <= k)


def with_rank(df: DataFrame, partition_by: Sequence[str], order_by: Sequence[Column | str], kind: str = "rank", out: str = "rk") -> DataFrame:
    """rank / dense_rank / row_number / ntile / percent_rank over one spec."""
    fns = {
        "rank": F.rank,
        "dense_rank": F.dense_rank,
        "row_number": F.row_number,
        "percent_rank": F.percent_rank,
        "cume_dist": F.cume_dist,
    }
    if kind not in fns:
        raise ValueError(f"rank kind {kind!r} not in {sorted(fns)}")
    return df.withColumn(out, fns[kind]().over(_spec(partition_by, order_by)))


def with_offset(df: DataFrame, partition_by: Sequence[str], order_by: Sequence[Column | str], col: str, offset: int = 1) -> DataFrame:
    """lag/lead in one: negative offset = lag, positive = lead."""
    fn = F.lag(col, -offset) if offset < 0 else F.lead(col, offset)
    name = f"{'lag' if offset < 0 else 'lead'}_{col}"
    return df.withColumn(name, fn.over(_spec(partition_by, order_by)))


def running_agg(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column | str],
    agg_col: str,
    fn: str = "sum",
    preceding: int | None = None,
    out: str | None = None,
) -> DataFrame:
    """Running / moving aggregate with a rowsBetween frame.

    preceding=None → unbounded (running total); preceding=n → moving
    window of the last n+1 rows (moving average etc.).
    """
    fns = {"sum": F.sum, "avg": F.avg, "min": F.min, "max": F.max, "count": F.count}
    lo = Window.unboundedPreceding if preceding is None else -preceding
    w = _spec(partition_by, order_by).rowsBetween(lo, Window.currentRow)
    return df.withColumn(out or f"{fn}_{agg_col}_running", fns[fn](agg_col).over(w))


def groups_frame_agg(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: str,
    agg_exprs: dict[str, Column],
    preceding: int = 1,
    following: int = 1,
) -> DataFrame:
    """SQL-standard GROUPS window frame (…GROUPS BETWEEN n PRECEDING
    AND m FOLLOWING), which Spark's window exec does not implement —
    emulated exactly as a RANGE frame over dense_rank: peer rows (ties
    on the order key) share a dense_rank value, so a range of ±n over
    that rank is precisely a frame of ±n PEER GROUPS.

    Both windows share one (partition, order) spec, so the plan carries
    ONE shuffle and one sort — the dense_rank pass and the range-frame
    pass pipeline inside the same WindowExec chain. `agg_exprs` maps
    output name → aggregate over a column, e.g.
    {"s": F.sum("v"), "n": F.count(F.lit(1))}.

    Differential-tested against DuckDB computing the same semantics in
    tests/test_relational.py (this DuckDB build rejects native GROUPS
    too, so the oracle is its independent dense_rank+RANGE form).
    """
    w_rank = Window.partitionBy(*partition_by).orderBy(order_by)
    ranked = df.withColumn("_dr", F.dense_rank().over(w_rank))
    w_groups = (
        Window.partitionBy(*partition_by)
        .orderBy("_dr")
        .rangeBetween(-preceding, following)
    )
    out = ranked
    for name, expr in agg_exprs.items():
        out = out.withColumn(name, expr.over(w_groups))
    return out.drop("_dr")


def null_safe_join(
    left: DataFrame, right: DataFrame, on: Sequence[str], how: str = "inner"
) -> DataFrame:
    """Broadcast equi-join of a small `right` frame on `on` where NULL
    keys match NULL keys (``<=>``); `right`'s copies of the key columns
    are dropped, so the result reads like ``left.join(right, on)``.
    Spark rewrites ``<=>`` keys into hashable pairs, so this still plans
    as a broadcast hash join. No keys: a broadcast cross join."""
    if not on:
        return left.crossJoin(F.broadcast(right))
    r = F.broadcast(
        right.select(
            *[F.col(c).alias(f"__r_{c}") for c in on],
            *[c for c in right.columns if c not in on],
        )
    )
    cond = [F.col(c).eqNullSafe(F.col(f"__r_{c}")) for c in on]
    return left.join(r, cond, how).drop(*[f"__r_{c}" for c in on])


_FINE = 16  # finer value ranges with a tie column, to isolate a tied value


def _segments(
    df: DataFrame,
    keys: list[str],
    order: str,
    tie: str | None,
    m: Column,
    bucket: str | None,
    n_buckets: int,
    nulls_first: bool,
) -> tuple[DataFrame, DataFrame, list[str]]:
    """Cut each key's rows into segments that are monotone in
    (order, tie) order. Returns (rows, stats, cols): `rows` carry the
    segment columns `cols`, and `stats` holds one row per (keys…,
    cols…) with the row count `__c` and measure total `__m`.

    A caller-supplied `bucket` is the segment. Otherwise segments are
    fixed-width ranges of `order` between each key's min and max, with
    NULL order values in their own first or last segment. With a tie
    column the ranges are `_FINE` times finer, so a value tied across
    many rows tends to own its range, and a range that holds ONE order
    value (or only NULLs) and more than cap = max(4·n_key/n_buckets,
    64) rows splits into about 4·rows/cap tie ranges. Ties order by
    the tie column, so tie ranges stay monotone. Their boundaries are
    quantiles of an id-hash sample of the range's tie values, taken by
    the stats aggregate itself, so they balance for any orderable id
    type (fixed-width ranges of a numeric projection of string ids do
    not: ASCII digits fill 10 of every 16 hex values). All of it is in
    plan: the stats aggregate, plus one sub-total aggregate over the
    rows of split ranges."""
    aggs = [F.count(F.lit(1)).alias("__c"), F.sum(m).alias("__m")]
    if bucket is not None:
        return df, df.groupBy(*keys, bucket).agg(*aggs), [bucket]
    nf = n_buckets * (_FINE if tie is not None else 1)
    bounds = df.groupBy(*keys).agg(
        F.min(order).alias("__lo"),
        F.max(order).alias("__hi"),
        F.count(F.lit(1)).alias("__n"),
    )
    width = (F.col("__hi") - F.col("__lo")) / F.lit(float(nf))
    seg = (
        F.when(F.col(order).isNull(), F.lit(-1 if nulls_first else nf))
        .when(
            F.col("__hi") > F.col("__lo"),
            F.least(
                F.floor((F.col(order) - F.col("__lo")) / width), F.lit(nf - 1)
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
    )
    joined = null_safe_join(df, bounds, keys).withColumn("__seg", seg)
    rows = joined.drop("__lo", "__hi", "__n")
    if tie is None:
        return rows, rows.groupBy(*keys, "__seg").agg(*aggs), ["__seg"]
    # cap and sample rate depend only on the key's row count, so each
    # row knows them: ~128 sampled ids per cap rows, chosen by id hash
    # (deterministic), gives a split range ~32 samples per tie range
    cap = F.greatest(
        F.lit(4.0) * F.col("__n") / F.lit(float(n_buckets)), F.lit(64.0)
    )
    mod = F.greatest(F.lit(1), F.floor(cap / F.lit(128))).cast("long")
    cells = joined.groupBy(*keys, "__seg").agg(
        *aggs,
        F.min(order).alias("__klo"),
        F.max(order).alias("__khi"),
        F.first(cap).alias("__cap"),
        F.collect_list(
            F.when(F.pmod(F.xxhash64(F.col(tie)), mod) == 0, F.col(tie))
        ).alias("__ids"),
    )
    hot = (F.col("__c") > F.col("__cap")) & F.col("__klo").eqNullSafe(
        F.col("__khi")
    )
    nsub = F.ceil(F.lit(4.0) * F.col("__c") / F.col("__cap"))
    cell = keys + ["__seg"]
    # the sorted sample's quantiles are the tie-range boundaries
    cuts = (
        cells.filter(hot & (F.size("__ids") > 0))
        .withColumn("__ids", F.sort_array("__ids"))
        .select(
            *cell,
            F.transform(
                F.sequence(F.lit(1), nsub - 1),
                lambda j: F.element_at(
                    "__ids", (j * F.size("__ids") / nsub).cast("int") + 1
                ),
            ).alias("__bnds"),
        )
    )
    rows = null_safe_join(rows, cuts, cell, "left").withColumn(
        "__sub",
        F.coalesce(
            F.size(F.filter("__bnds", lambda x: x < F.col(tie))), F.lit(0)
        ).cast("long"),
    )
    whole = cells.filter(~(hot & (F.size("__ids") > 0))).select(
        *cell, F.lit(0).cast("long").alias("__sub"), "__c", "__m"
    )
    parts = (
        rows.filter(F.col("__bnds").isNotNull())
        .groupBy(*cell, "__sub")
        .agg(*aggs)
    )
    return rows.drop("__bnds"), whole.unionByName(parts), ["__seg", "__sub"]


def segmented_prefix(
    df: DataFrame,
    keys: Sequence[str],
    order: str,
    *,
    tie: str | None = None,
    measure: str | None = None,
    limit=None,
    bucket: str | None = None,
    n_buckets: int = 1024,
    nulls_first: bool = True,
    out: str = "__cum",
    total: str | None = None,
) -> DataFrame:
    """Exact running measure per `keys` in (`order` asc, `tie` asc)
    order, as one lazy plan with no single-task corpus window and no
    construction-time job — the shared engine of every prefix sum,
    rank and budget in the package.

    Adds `out`: the INCLUSIVE running row count (`measure=None`) or
    running sum of `measure`; callers wanting the exclusive value
    subtract the row's own measure. Keys are NULL-safe (a NULL key is
    one group); NULL `order` values sort first (`nulls_first`) or last.
    No keys means one global order: the stats frame then ranks in one
    task (it holds at most a few rows per segment), while the rows
    still rank in parallel per segment.

    Shape: :func:`_segments` cuts each key's rows into segments that
    are monotone in the order (fixed-width ranges of a numeric
    `order`, or the caller's `bucket` column when the order key is
    md5-uniform and needs no ranges; tied hot segments split by the
    tie column) and aggregates one stats row per segment; ONE bounded
    exclusive window over the stats frame turns segment totals into
    bases; a broadcast ``<=>`` join puts the bases back on the rows;
    and one window per (keys, segment) finishes the running measure.

    `limit` (a number, or a function from the per-key totals frame
    (keys…, `__total`) to a (keys…, `__limit`) frame — keys missing
    from it select nothing) keeps only rows whose running measure is
    <= the key's limit and drops segments whose base is already past
    it before the final window. `total` names an optional output column
    with the key's total measure. `tie` must be unique and non-null
    within a key; `order` must hold no NaN/±Inf (range arithmetic)."""
    keys = list(keys)
    m = F.lit(1) if measure is None else F.col(measure)
    rows, stats, cols = _segments(
        df, keys, order, tie, m, bucket, n_buckets, nulls_first
    )
    before = (
        Window.partitionBy(*keys)
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bases = stats.withColumn(
        "__base", F.coalesce(F.sum("__m").over(before), F.lit(0))
    )
    if callable(limit) or total is not None:
        totals = stats.groupBy(*keys).agg(F.sum("__m").alias("__total"))
    if total is not None:
        bases = null_safe_join(
            bases, totals.withColumnRenamed("__total", total), keys
        )
    if callable(limit):
        bases = null_safe_join(bases, limit(totals), keys)
    elif limit is not None:
        bases = bases.withColumn("__limit", F.lit(limit))
    if limit is not None:
        bases = bases.filter(F.col("__base") <= F.col("__limit"))
    bases = bases.drop("__c", "__m")
    o = F.col(order)
    w = Window.partitionBy(*keys, *cols).orderBy(
        o.asc_nulls_first() if nulls_first else o.asc_nulls_last(),
        *([F.col(tie).asc()] if tie is not None else []),
    )
    run = (
        F.row_number().over(w)
        if measure is None
        else F.sum(m).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
    )
    res = null_safe_join(rows, bases, keys + cols).withColumn(
        out, F.col("__base") + run
    )
    if limit is not None:
        res = res.filter(F.col(out) <= F.col("__limit")).drop("__limit")
    return res.drop("__base", *[c for c in cols if c != bucket])


def distributed_global_rank(
    df: DataFrame,
    value_col: str,
    id_col: str,
    ascending: bool = True,
    n_buckets: int = 1024,
    out: str = "rnk",
    percentile: str | None = None,
    nulls_first: bool | None = None,
) -> DataFrame:
    """Exact global row_number over (value, id) WITHOUT the
    single-partition window Spark plans for an unpartitioned
    ``row_number().over(Window.orderBy(...))`` — the shape that
    silently serializes a 100 TB rank through one task.

    One :func:`segmented_prefix` over the (signed) value with the id as
    tie-break: value-range segments rank in parallel, and a value
    owning most of the rows splits by id ranges, so a corpus where one
    value holds 90% of the rows still ranks through balanced windows.
    Ties on value break by id asc (both directions), so the rank is
    total and deterministic on any cluster layout.

    With ``percentile=<name>``, also emits (rank-1)/(n-1) — the exact
    percentile_rank, same semantics as F.percent_rank over the global
    window (0 for the first row, 1 for the last; 0.0 when n == 1).

    NULL ordering: by default NULLs sort first when ascending / last
    when descending (Spark's default); pass ``nulls_first=True/False``
    to force either placement (e.g. Spark's ``asc_nulls_last``).
    ``n_buckets`` (default 1024) is the target parallelism of the rank
    stage.

    Caller contract: ``id_col`` unique + non-null; ``value_col`` must
    not contain NaN/±Inf (filter or remap upstream — IEEE specials
    poison range arithmetic in ANY bucketing scheme).
    """
    if nulls_first is None:
        nulls_first = ascending
    v = F.col(value_col).cast("double")
    res = segmented_prefix(
        df.withColumn("__k", v if ascending else -v),
        [],
        "__k",
        tie=id_col,
        n_buckets=n_buckets,
        nulls_first=nulls_first,
        out=out,
        total="__n" if percentile else None,
    ).withColumn(out, F.col(out).cast("long"))
    if percentile:
        res = res.withColumn(
            percentile,
            (F.col(out) - 1) / F.greatest(F.col("__n") - 1, F.lit(1)).cast("double"),
        ).drop("__n")
    return res.drop("__k")
