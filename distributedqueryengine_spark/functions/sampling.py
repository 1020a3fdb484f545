"""Deterministic weighted sampling (Efraimidis–Spirakis).

The sampling surface in queries.py (hash split, stratified systematic,
source-mixture quotas) is uniform-within-stratum; training pipelines
also need WEIGHTED selection — quality-score-proportional document
sampling, importance-weighted mixture draws — that stays deterministic
and single-pass at 100 TB.

Efraimidis–Spirakis reservoir: each row gets key u^(1/w) (u uniform,
w its weight); the global top-n keys are a without-replacement sample
with inclusion probability increasing in w. Here u derives from md5 of
the row key + seed (no rand(): reruns, retries, and different cluster
sizes select IDENTICAL rows), the per-row score is ln(u)/w (monotone in
u^(1/w), numerically safer), and top-n is TakeOrderedAndProject —
no global sort, no driver materialization beyond n rows' keys.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_TWO60 = float(1 << 60)


def _uniform01(key: Column, seed: int) -> Column:
    """Deterministic uniform in (0, 1): 60 bits of md5(seed || key).
    The +1 keeps it strictly positive so ln(u) is finite."""
    h = F.conv(
        F.substring(F.md5(F.concat_ws("§", F.lit(str(seed)), key)), 1, 15),
        16,
        10,
    ).cast("double")
    return (h + F.lit(1.0)) / F.lit(_TWO60 + 2.0)


def weighted_sample_n(
    df: DataFrame,
    weight_col: str | Column,
    n: int,
    key_cols: Sequence[str],
    seed: int = 42,
) -> DataFrame:
    """Without-replacement weighted sample of exactly n rows (or all
    rows with positive weight, if fewer). Rows with weight <= 0 or NULL
    are never selected. `key_cols` must uniquely identify rows — the
    randomness is a pure function of (seed, key), which is what makes
    the draw reproducible across engines and reruns."""
    if n <= 0:
        raise ValueError(f"n must be positive, got {n}")
    if not key_cols:
        raise ValueError("key_cols must name the row-identity columns")
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    key = F.concat_ws("|", *[F.col(c).cast("string") for c in key_cols])
    score = F.log(_uniform01(key, seed)) / w.cast("double")
    return (
        df.filter(w.isNotNull() & (w > 0))
        .withColumn("__es_score", score)
        .orderBy(F.col("__es_score").desc())
        .limit(n)
        .drop("__es_score")
    )


def leakage_safe_split(
    df: DataFrame,
    id_col: str,
    text_col: str,
    fractions: dict[str, float] | None = None,
    min_jaccard: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """Train/val/test split that near-duplicates CANNOT straddle: a
    doc-id hash split leaks — a near-identical pair lands in train and
    val and the eval silently measures memorization. Here the split
    key is each document's near-dup CLUSTER representative (MinHash →
    LSH → connected components, dedup.dedup_clusters), so every member
    of a duplicate cluster draws the same split; singletons hash their
    own id, which IS their representative.

    Deterministic: split = pure function of (seed, representative id),
    so reruns and engines agree. `fractions` maps split name → weight
    (default 80/10/10); weights normalize. Adds a `split` column.

    Scale: the cluster pass is the standard banded-LSH shape (never
    O(n²)); the split itself is one md5 per row plus a left join of
    the cluster map (cluster-members-sized, usually ≪ corpus — only
    docs appearing in a near-dup pair are in it).
    """
    from distributedqueryengine_spark.functions.dedup import dedup_clusters

    fractions = fractions or {"train": 0.8, "val": 0.1, "test": 0.1}
    if not fractions or any(w <= 0 for w in fractions.values()):
        raise ValueError(f"fractions must be positive, got {fractions}")
    total = sum(fractions.values())
    cc = dedup_clusters(df, id_col, text_col, min_jaccard=min_jaccard).select(
        F.col("id").alias(id_col), F.col("component").alias("__rep")
    )
    keyed = df.join(cc, id_col, "left").withColumn(
        "__rep", F.coalesce("__rep", F.col(id_col))
    )
    u = _uniform01(F.col("__rep").cast("string"), seed)
    expr = None
    acc = 0.0
    names = list(fractions)
    for name in names[:-1]:
        acc += fractions[name] / total
        branch = F.when(u < acc, F.lit(name))
        expr = branch if expr is None else expr.when(u < acc, F.lit(name))
    split = (expr.otherwise(F.lit(names[-1]))
             if expr is not None else F.lit(names[-1]))
    return keyed.withColumn("split", split).drop("__rep")


def leakage_safe_split_embeddings(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    tau: float = 0.95,
    fractions: dict[str, float] | None = None,
    seed: int = 42,
    **pair_kwargs,
) -> DataFrame:
    """Embedding-space counterpart of leakage_safe_split: semantic
    near-duplicates (cosine >= tau via the size-gated
    similarity.cosine_pairs_above_scaled — exact small, LSH-prefiltered
    large) are clustered with connected components and split BY
    CLUSTER, so a paraphrase of a val document cannot sit in train.
    Deterministic in (seed, cluster representative). Adds `split`."""
    from distributedqueryengine_spark.functions.dedup import (
        connected_components,
    )
    from distributedqueryengine_spark.functions.similarity import (
        cosine_pairs_above_scaled,
    )

    fractions = fractions or {"train": 0.8, "val": 0.1, "test": 0.1}
    if not fractions or any(w <= 0 for w in fractions.values()):
        raise ValueError(f"fractions must be positive, got {fractions}")
    total = sum(fractions.values())
    pairs = cosine_pairs_above_scaled(
        df, tau, dim, id_col=id_col, vec_col=vec_col, **pair_kwargs
    ).select("id_a", "id_b")
    cc = connected_components(pairs).select(
        F.col("id").alias(id_col), F.col("component").alias("__rep")
    )
    keyed = df.join(cc, id_col, "left").withColumn(
        "__rep", F.coalesce("__rep", F.col(id_col))
    )
    u = _uniform01(F.col("__rep").cast("string"), seed)
    expr = None
    acc = 0.0
    names = list(fractions)
    for name in names[:-1]:
        acc += fractions[name] / total
        branch = F.when(u < acc, F.lit(name))
        expr = branch if expr is None else expr.when(u < acc, F.lit(name))
    split = (expr.otherwise(F.lit(names[-1]))
             if expr is not None else F.lit(names[-1]))
    return keyed.withColumn("split", split).drop("__rep")


def _weight_sql_type(df: DataFrame, weight_col: str) -> str:
    """'long' for integral weight columns, 'double' for fractional
    ones (float/double/decimal) — the budget machinery carries the
    weight family through the prefix sums instead of silently
    truncating fractional token weights to long (r14 verdict nit)."""
    from pyspark.sql.types import DecimalType, DoubleType, FloatType

    dt = df.schema[weight_col].dataType
    if isinstance(dt, (DoubleType, FloatType, DecimalType)):
        return "double"
    return "long"


def _budget_prefix(
    src: DataFrame,
    keys: list[str],
    limit,
    n_buckets: int,
) -> DataFrame:
    """Maximal prefix of `src` (keys…, id, score, wt) in (score desc,
    id asc) order per key while the running weight stays <= the key's
    budget: one :func:`segmented_prefix` over -score with the id as
    tie-break, so a score owning most of a corpus still splits into
    balanced windows. Returns (keys…, id, score, weight, cum)."""
    from distributedqueryengine_spark.operators.windows import segmented_prefix

    return segmented_prefix(
        src.withColumn("__k", -F.col("score")),
        keys,
        "__k",
        tie="id",
        measure="wt",
        limit=limit,
        n_buckets=n_buckets,
        out="cum",
    ).select(
        *keys, "id", "score", F.col("wt").alias("weight"), "cum"
    )


def _budget_source(
    df: DataFrame, id_col: str, score_col: str, weight_col: str,
    wt_type: str, *group: Column,
) -> DataFrame:
    """The (group…, id, score, wt) projection the budget selectors
    rank. Rows with NULL id/score/weight or NaN score are never
    selectable — they have no place in the rank order and would poison
    the running total — so they are dropped up front. Persisted through
    the shared bounded registry: the prefix plan reads it several
    times, and upstream scoring expressions (often expensive quality
    heuristics) should evaluate once."""
    from distributedqueryengine_spark.functions.dedup import _scoped_persist

    return _scoped_persist(
        df.select(
            *group,
            F.col(id_col).alias("id"),
            F.col(score_col).cast("double").alias("score"),
            F.col(weight_col).cast(wt_type).alias("wt"),
        ).filter(
            F.col("id").isNotNull()
            & F.col("score").isNotNull()
            & ~F.isnan("score")
            & F.col("wt").isNotNull()
        )
    )


def select_until_budget(
    df: DataFrame,
    budget: int,
    id_col: str = "id",
    weight_col: str = "w",
    score_col: str = "score",
    n_buckets: int = 1024,
) -> DataFrame:
    """Maximal-prefix selection under a weight budget: take rows in
    (score desc, id asc) order while the running weight total stays
    <= budget — "the best documents until the token budget is full",
    the standard curation step when assembling a fixed-size training
    set from a scored corpus.

    Distributed exact prefix sum WITHOUT a global sort, in one lazy
    plan (operators.windows.segmented_prefix): rows segment by score
    range, a score tied across many rows (the realistic quality-
    heuristic distribution where 40% of a corpus scores exactly 0.0)
    splits by id range, segments whose base already exceeds the budget
    are pruned before the final window, and each surviving segment
    finishes its own running total in parallel. Because the inclusive
    running total is monotone along the rank order, ``cum <= budget``
    IS the maximal prefix — no second pass to find the cut point, and
    the selection is invariant to where segment boundaries land.

    The id column keeps its NATIVE type (any orderable type works —
    string doc-ids included). The weight column keeps its NUMERIC
    FAMILY: integral weights run the long path (cum is long — the
    token-count case), fractional weights (float/double/decimal) stay
    double end-to-end (cum is double) instead of silently truncating.
    Rows with NULL id/score/weight or NaN score are never selectable
    and are dropped up front. Returns the selected rows as (id, score,
    weight, cum) with cum the inclusive running total, deterministic
    on any cluster layout.
    """
    wt_type = _weight_sql_type(df, weight_col)
    src = _budget_source(df, id_col, score_col, weight_col, wt_type)
    cap = int(budget) if wt_type == "long" else float(budget)
    return _budget_prefix(src, [], cap, n_buckets)


def temperature_mixture_rates(
    df: DataFrame,
    group_col: str,
    temperature: float = 1.0,
    weight_col: Column | str | None = None,
) -> DataFrame:
    """Temperature-scaled sampling rates per group (the multilingual /
    multi-source mixing rule: p_g ∝ size_g^(1/T), then rate_g =
    p_g · total / size_g, capped at 1.0). T=1 reproduces natural
    proportions; T→∞ approaches uniform over groups; T<1 sharpens
    toward the head. Returns (group, n_rows, p_target, rate) — a
    groups-sized table to feed mixture resampling.

    One partial-aggregated count per group; everything after is
    arithmetic on a groups-sized table (never corpus-sized).
    """
    if temperature <= 0:
        raise ValueError(f"temperature must be positive, got {temperature}")
    w = (
        F.count(F.lit(1)).alias("n_rows")
        if weight_col is None
        else F.sum(
            F.col(weight_col) if isinstance(weight_col, str) else weight_col
        ).alias("n_rows")
    )
    sizes = df.groupBy(F.col(group_col).alias("group")).agg(w)
    powed = sizes.select(
        "group", "n_rows",
        F.pow(F.col("n_rows").cast("double"), F.lit(1.0 / temperature)).alias("pw"),
    )
    tot = powed.agg(
        F.sum("pw").alias("__z"), F.sum("n_rows").alias("__n")
    )
    return (
        powed.crossJoin(F.broadcast(tot))
        .select(
            "group",
            "n_rows",
            F.round(F.col("pw") / F.col("__z"), 6).alias("p_target"),
            F.round(
                F.least(
                    (F.col("pw") / F.col("__z")) * F.col("__n") / F.col("n_rows"),
                    F.lit(1.0),
                ),
                6,
            ).alias("rate"),
        )
    )


def _epoch_positions(
    frame: DataFrame, epochs: Sequence[int], seed: int
) -> DataFrame:
    """`frame` (with a unique `id`) × `epochs`, each row carrying its
    `epoch` and 0-based `pos` in that epoch's md5 shuffle — ordered by
    (u, id) with u = :func:`_uniform01` of (seed·1000003 + epoch, id).
    All epochs rank in ONE :func:`segmented_prefix` keyed by epoch:
    u is uniform in (0, 1) and tie-free, so fixed hash-range buckets
    are monotone and balanced with no bounds pass, and job count is
    O(1) in the number of epochs. Shared by :func:`training_order` and
    the curation pipeline's fused manifest."""
    from distributedqueryengine_spark.operators.windows import segmented_prefix

    nb = max(8, min(1024, 65536 // len(epochs)))
    per_epoch = F.explode(F.array(*[
        F.struct(
            F.lit(e).cast("long").alias("epoch"),
            _uniform01(F.col("id").cast("string"), seed=seed * 1_000_003 + e)
            .alias("__u"),
        )
        for e in epochs
    ]))
    cols = frame.columns
    ep = (
        frame.select(*cols, per_epoch.alias("__e"))
        .select(*cols, "__e.epoch", "__e.__u")
        .withColumn(
            "__b",
            F.least(F.floor(F.col("__u") * nb), F.lit(nb - 1)).cast("long"),
        )
    )
    return (
        segmented_prefix(ep, ["epoch"], "__u", tie="id", bucket="__b", out="pos")
        .withColumn("pos", F.col("pos") - 1)
        .drop("__u", "__b")
    )


def training_order(
    df: DataFrame,
    id_col: str,
    n_epochs: int = 1,
    seed: int = 0,
    curriculum_col: Column | str | None = None,
    curriculum_epochs: int = 0,
) -> DataFrame:
    """Deterministic training-order assignment: for each epoch, every
    row gets a position from a content-independent md5 permutation of
    (seed, epoch, id) — reshuffled every epoch, reproducible on any
    cluster layout, no rand(). With a curriculum column, the first
    `curriculum_epochs` epochs order by (curriculum asc, perm) instead
    — easy examples first — and later epochs are fully shuffled.

    Output: one row per (epoch, id) with `pos` (0-based within epoch).
    Shuffled epochs rank through :func:`_epoch_positions`. Curriculum
    epochs rank through one :func:`segmented_prefix` keyed by epoch:
    the curriculum value (numeric-castable; NULL sorts first) is the
    order key, and the tie-break is the md5 of (seed, epoch, id) as
    bytes followed by the id's string bytes — unique, and exactly the
    (difficulty asc, shuffle, id) order the curriculum wants. Few
    difficulty levels (the common case) is maximally tie-heavy, and
    the tie bytes are uniform, so the tie split balances the windows.
    """
    if n_epochs < 1:
        raise ValueError(f"n_epochs must be >= 1, got {n_epochs}")
    from distributedqueryengine_spark.operators.windows import segmented_prefix

    base = df.select(F.col(id_col).alias("id"), *(
        [(F.col(curriculum_col) if isinstance(curriculum_col, str)
          else curriculum_col).alias("__cur")] if curriculum_col is not None else []
    ))
    n_curr = min(curriculum_epochs, n_epochs) if curriculum_col is not None else 0
    if n_curr > 0:
        # the curriculum segments on cast("double"); a non-numeric
        # curriculum (string tiers like 'easy'/'hard') would cast to
        # NULL and silently degrade ordering to a pure shuffle — fail
        # loudly instead. One bounded existence probe.
        bad = (
            base.filter(
                F.col("__cur").isNotNull()
                & F.col("__cur").try_cast("double").isNull()
            )
            .select("__cur")
            .limit(1)
            .collect()
        )
        if bad:
            raise ValueError(
                "curriculum_col values must be numeric-castable; got "
                f"{bad[0]['__cur']!r}. Map categorical difficulty tiers "
                "first: curriculum_col=categorical_curriculum(col, order)."
            )
    parts = []
    if n_curr > 0:
        sid = F.col("id").cast("string")
        cur = base.select(
            "id",
            F.explode(F.sequence(F.lit(0).cast("long"), F.lit(n_curr - 1)))
            .alias("epoch"),
            F.col("__cur").cast("double").alias("__k"),
        ).withColumn(
            "__sid",
            F.concat(
                F.unhex(F.md5(F.concat_ws(
                    "§", (F.lit(seed * 1_000_003) + F.col("epoch")).cast("string"), sid
                ))),
                sid.cast("binary"),
            ),
        )
        parts.append(
            segmented_prefix(cur, ["epoch"], "__k", tie="__sid", out="pos")
            .select("epoch", "id", (F.col("pos") - 1).alias("pos"))
        )
    if n_curr < n_epochs:
        parts.append(
            _epoch_positions(base.select("id"), range(n_curr, n_epochs), seed)
            .select("epoch", "id", "pos")
        )
    return parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])


def _mixture(
    df: DataFrame,
    group_col: str,
    id_col: str,
    seed: int,
    n_buckets: int,
    rates_of,
) -> DataFrame:
    """Keep the first ceil(rate_g · n_g) rows of each group in
    (md5(seed, id), id) order, as one :func:`segmented_prefix` keyed
    by the group. `rates_of` maps the per-group row totals
    (group_col, `__total`) to a (group_col, rate) frame; groups it
    omits keep nothing. The md5 key is uniform and tie-free, so fixed
    hash-range buckets of its 60-bit prefix are monotone in the rank
    and balanced without a bounds pass; a mixture's few large groups
    never rank through #groups window tasks."""
    from distributedqueryengine_spark.operators.windows import (
        null_safe_join,
        segmented_prefix,
    )

    key = F.md5(
        F.concat_ws("§", F.lit(str(seed)), F.col(id_col).cast("string"))
    )
    u = F.conv(F.substring(key, 1, 15), 16, 10).cast("double") / F.lit(_TWO60)
    b = df.withColumn("__mk", key).withColumn(
        "__mb",
        F.least(F.floor(u * F.lit(n_buckets)), F.lit(n_buckets - 1)).cast("long"),
    )

    def quotas(totals: DataFrame) -> DataFrame:
        return null_safe_join(totals, rates_of(totals), [group_col]).select(
            group_col, F.ceil(F.col("rate") * F.col("__total")).alias("__limit")
        )

    return segmented_prefix(
        b, [group_col], "__mk", tie=id_col, limit=quotas, bucket="__mb",
        out="__rn",
    ).drop("__mk", "__mb", "__rn")


def apply_mixture_rates(
    df: DataFrame,
    rates: DataFrame,
    group_col: str,
    id_col: str,
    seed: int = 0,
) -> DataFrame:
    """Materialize a mixture: keep exactly ceil(rate_g * n_g) rows of
    each group, chosen by a content-independent md5 rank (pure function
    of (seed, id) — deterministic across engines, reruns, and cluster
    layouts). `rates` is a (group, rate) table, e.g. from
    :func:`temperature_mixture_rates`; groups absent from it keep
    nothing, rates >= 1 keep everything, and a NULL group matches a
    NULL rate row. `rates` must have ONE row per group — duplicates
    raise (one bounded job over the rate table at construction).

    Scale shape: see :func:`_mixture` — per-(group, hash-bucket)
    counts, quotas and exclusive prefixes all ride the plan, and each
    bucket ranks its own rows.
    """
    r = rates.select(F.col("group").alias(group_col), "rate")
    dup = (
        r.groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        raise ValueError(
            f"rates has duplicate rows for group {dup[0][group_col]!r}; "
            "dedup the rate table (one row per group) before applying"
        )
    return _mixture(df, group_col, id_col, seed, 64, lambda _t: r)


def apply_temperature_mixture(
    df: DataFrame,
    group_col: str,
    id_col: str,
    temperature: float = 1.0,
    seed: int = 0,
    n_buckets: int = 64,
) -> DataFrame:
    """Fused temperature_mixture_rates ∘ apply_mixture_rates: identical
    output rows, ONE corpus aggregate instead of two. The split form
    aggregates group sizes, then (group, bucket) counts — but the
    second aggregate already CONTAINS the group sizes. Here the rates
    come from :func:`temperature_mixture_rates` over the per-group
    totals of the mixture's own stats frame — the same Spark
    expressions, so the 6dp rate rounding is bit-identical to the
    split form (pinned in tests/test_sampling.py) — and ride the plan
    with the quotas, so construction runs no job. The quota/bases
    broadcast is groups × n_buckets rows."""
    def rates_of(totals: DataFrame) -> DataFrame:
        return temperature_mixture_rates(
            totals.select(F.col(group_col).alias("group"), "__total"),
            "group", temperature=temperature, weight_col="__total",
        ).select(F.col("group").alias(group_col), "rate")

    return _mixture(df, group_col, id_col, seed, n_buckets, rates_of)


def select_until_budget_grouped(
    df: DataFrame,
    budgets: dict,
    group_col: str = "group",
    id_col: str = "id",
    weight_col: str = "w",
    score_col: str = "score",
    n_buckets: int = 1024,
) -> DataFrame:
    """Per-group maximal-prefix budget selection: for each group g,
    take rows in (score desc, id asc) order while the group's running
    weight total stays <= budgets[g] — "the best documents per
    LANGUAGE until each language's token budget is full", the
    multilingual form of :func:`select_until_budget` (a single global
    budget starves low-resource languages; per-language budgets are
    how multilingual mixes are actually specified).

    Single pass for all groups: one :func:`segmented_prefix` keyed by
    the group, so job count is independent of the number of groups
    (pinned in tests/test_sampling.py) and tied scores split by id
    range inside each group. The per-group segment count scales down
    as groups grow (max(64, 65536 // #groups), capped at
    ``n_buckets``), so the stats frame stays about 64k rows.

    Weight dtype follows :func:`select_until_budget`: integral weights
    → long cum, fractional weights → double cum. Groups absent from
    `budgets` select nothing; a group absent from the data contributes
    nothing; a ``None`` budget key budgets the NULL group. Returns
    (group, id, score, weight, cum) with cum the within-group running
    total.
    """
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    wt_type = _weight_sql_type(df, weight_col)
    named = [g for g in budgets if g is not None]
    wanted = F.col(group_col).isin(named)
    if None in budgets:
        wanted = wanted | F.col(group_col).isNull()
    src = _budget_source(
        df.filter(wanted), id_col, score_col, weight_col, wt_type,
        F.col(group_col).alias("grp"),
    )
    btbl = df.sparkSession.createDataFrame(
        [
            (g, int(v) if wt_type == "long" else float(v))
            for g, v in budgets.items()
        ],
        StructType([
            StructField("grp", src.schema["grp"].dataType),
            StructField(
                "__limit", LongType() if wt_type == "long" else DoubleType()
            ),
        ]),
    )
    nb = max(64, min(n_buckets, 65536 // max(len(budgets), 1)))
    return _budget_prefix(
        src, ["grp"], lambda _totals: btbl, nb
    ).withColumnRenamed("grp", group_col)


def categorical_curriculum(
    tier_col: Column | str,
    order: Sequence,
) -> Column:
    """Map a categorical difficulty column onto the numeric scale
    training_order's curriculum epochs require (r15 — the companion to
    the non-numeric-curriculum ValueError): tier i in ``order`` maps
    to double i, easiest first. Unknown/NULL tiers map to NULL, which
    the curriculum sorts FIRST (nulls_first — unknown difficulty
    trains early rather than silently last); pass an explicit catch-
    all tier to place them elsewhere. Pure expression — no shuffle, no
    distinct scan, engine-portable.

        training_order(df, "id", curriculum_col=categorical_curriculum(
            "tier", ["easy", "medium", "hard"]), curriculum_epochs=1)
    """
    if not order:
        raise ValueError("order must list at least one tier")
    if len(set(order)) != len(order):
        raise ValueError(f"order has duplicate tiers: {order}")
    c = F.col(tier_col) if isinstance(tier_col, str) else tier_col
    expr = None
    for i, tier in enumerate(order):
        branch = (c == F.lit(tier), F.lit(float(i)))
        expr = F.when(*branch) if expr is None else expr.when(*branch)
    return expr.otherwise(F.lit(None).cast("double"))
