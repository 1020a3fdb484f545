"""The ``inventory_batch`` workload: inventory keys constructed through
their public builders and forced to the ``noop`` sink; after the timed
window each timed key's DataFrame is fingerprinted and checked against
its DuckDB oracle.
"""

from __future__ import annotations

import random
import time
import traceback

from perfbench import oracle

# The timed keys. Relational keys, bound by executors and shuffle:
BATCH_KEYS = (
    "agg_mixed_suite",
    "tpch_q3_shipping_priority",
    # LLM-data keys, bound by construction-time jobs, small-job
    # scheduling floors and the Python/Arrow boundary:
    "pipeline_curate",
    "multimodal_pipeline",
)
# Keys the benchmark does not time (a run has no time for all 50):
# with BATCH_KEYS they must partition the inventory, so a key added
# later stops the benchmark until it is placed in one of the two.
UNTIMED_KEYS = (
    "agg_multi_group",
    "agg_pricing_summary",
    "agg_stats_suite",
    "agg_top_nation_revenue",
    "approx_sketches",
    "decontam_suite",
    "dedup_embedding",
    "dedup_exact_suite",
    "dedup_near_suite",
    "fn_collections",
    "fn_json_variant",
    "fn_math_bitwise",
    "fn_string_suite",
    "fn_temporal",
    "fragment_horizontal_union",
    "fragment_transparent_join",
    "fragment_vertical_join",
    "greedy_pack",
    "grouped_zscore",
    "io_roundtrip",
    "join_outer_suite",
    "join_special",
    "leaf_scan_filter",
    "order_limit_suite",
    "pack_sequences",
    "pivot_unpivot",
    "sample_suite",
    "select_project_join",
    "set_ops_suite",
    "sim_ann_topk",
    "sim_bruteforce_topk",
    "sql_frontend",
    "stream_interval_join",
    "stream_windows_suite",
    "temporal_join_suite",
    "text_chunking",
    "text_doc_profile",
    "text_wordcount",
    "time_rollup",
    "tpch_q10_returned_items",
    "tpch_q12_priority_class",
    "tpch_q14_promo_effect",
    "tpch_q16_supplier_variety",
    "tpch_q19_disjunctive_revenue",
    "tpch_q4_order_priority",
    "window_suite",
)
# Keys with their own per-layer breakdown in traced runs.
NAMED_KEYS = (
    "agg_mixed_suite",
    "pipeline_curate",
)


def check_partition(inventory) -> None:
    groups = (BATCH_KEYS, UNTIMED_KEYS)
    listed = [k for g in groups for k in g]
    if len(listed) != len(set(listed)) or set(listed) != set(inventory):
        missing = sorted(set(inventory) - set(listed))
        extra = sorted(set(listed) - set(inventory))
        dup = sorted({k for k in listed if listed.count(k) > 1})
        raise RuntimeError(
            f"batch key lists do not partition INVENTORY: missing={missing} "
            f"unknown={extra} duplicated={dup}"
        )


def key_passes(seed: int):
    """Endless passes over ``BATCH_KEYS``, each in its own seeded order."""
    r = random.Random(seed)
    while True:
        keys = list(BATCH_KEYS)
        r.shuffle(keys)
        yield keys


class KeyRunner:
    """Runs one key: clear the cache, construct, force to the noop sink.
    ``hooks`` (a traced run's) is told when each phase starts and ends."""

    def __init__(self, spark, sf_dir: str, inventory, hooks=None) -> None:
        self.spark = spark
        self.sf_dir = sf_dir
        self.inventory = inventory
        self.hooks = hooks

    def run(self, key: str) -> dict:
        self.spark.catalog.clearCache()
        rec: dict = {"key": key}
        hooks = self.hooks
        try:
            if hooks:
                hooks.begin(key, "construct")
            t0 = time.perf_counter()
            df = self.inventory[key](self.spark, self.sf_dir)
            t1 = time.perf_counter()
            if hooks:
                hooks.end(key, "construct", t1 - t0, df)
                hooks.begin(key, "execute")
            t2 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t3 = time.perf_counter()
            if hooks:
                hooks.end(key, "execute", t3 - t2, df)
            rec.update(construct_s=t1 - t0, execute_s=t3 - t2, seconds=(t1 - t0) + (t3 - t2), df=df)
        except Exception:
            rec["error"] = traceback.format_exc(limit=8)
        return rec


def fingerprint(spark, df, items) -> dict:
    """The fingerprint of ``df``'s output, from one more Spark execution
    of the same DataFrame."""
    spark.catalog.clearCache()
    row = df.agg(*oracle.fingerprint_columns(items)).collect()[0]
    return oracle.fingerprint_values(items, row.asDict())


def check(spark, records: list[dict], oracles: dict, con, cache) -> None:
    """Fingerprint each timed key's DataFrame and compare it with its
    key's DuckDB oracle; sets ``rec["problems"]`` on each failing record.
    Drops the DataFrames."""
    for rec in records:
        key = rec["key"]
        rec["name"] = key
        df = rec.pop("df", None)
        if "error" in rec:
            rec["problems"] = [rec["error"].strip().splitlines()[-1]]
            continue
        sql = oracles.get(key)
        if sql is None:
            rec["problems"] = ["no oracle SQL for key"]
            continue
        items = oracle.fingerprint_items(df.schema)
        try:
            exp = cache.get(con, sql, items)
        except Exception as e:  # an oracle that cannot run fails the check
            rec["problems"] = [f"oracle error: {e!r}"]
            continue
        if sorted(df.columns) != sorted(exp["columns"]):
            rec["problems"] = [f"schema: got={sorted(df.columns)} oracle={sorted(exp['columns'])}"]
            continue
        try:
            got = fingerprint(spark, df, items)
        except Exception:
            rec["problems"] = [traceback.format_exc(limit=8).strip().splitlines()[-1]]
            continue
        found = oracle.compare_fingerprints(items, got, exp["values"])
        if found:
            rec["problems"] = found
