"""Correctness checks against DuckDB, run outside every timed window.

Two checks, both following ``tools/check_correctness.py``'s rules
(same column names; same row count; values compared as multisets,
exact for non-floats and to 1e-6 relative for floats):

- ``compare_rows``: full rows, for the small results the SQL service
  returns.
- ``fingerprint``: a multiset checksum per column (count, sum and
  absolute sum of numbers, length and md5-prefix sums of strings, sizes
  and element sums of arrays, ...). Spark computes it over a timed
  key's DataFrame after the window, and DuckDB computes the same
  expressions over the oracle SQL, so batch keys are checked without a
  driver-side collect of their rows. The DuckDB side is cached per
  checkout, keyed by the oracle SQL, the fingerprint expressions and
  the table files' names and sizes.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import re
from dataclasses import dataclass

import duckdb

REL_TOL = 1e-6

NUMERIC = {"byte", "short", "integer", "long", "float", "double", "decimal"}


def duck_connect(sf_dir: str, tables, threads: int) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads = {int(threads)}")
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    # The fragment views reconstruct their base tables exactly
    # (fragments.py), so the oracle reads the base tables.
    for view, base in (("customer_v", "customer"), ("orders_v", "orders")):
        if base in tables:
            con.execute(f"CREATE VIEW {view} AS SELECT * FROM {base}")
    return con


# ---------------------------------------------------------------- rows


def canon(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    return v


def _sort_key(row):
    return tuple(
        (v is None, f"{v:.6g}" if isinstance(v, float) else str(v)) for v in row
    )


def _values_equal(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if not isinstance(a, (int, float)) or not isinstance(b, (int, float)):
            return False
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_values_equal(x, y) for x, y in zip(a, b))
    return a == b


def compare_rows(cols, rows, ocols, orows) -> list[str]:
    """Problems found comparing a result with its oracle ([] if none)."""
    if sorted(cols) != sorted(ocols):
        return [f"schema: got={sorted(cols)} oracle={sorted(ocols)}"]
    if len(rows) != len(orows):
        return [f"rowcount: got={len(rows)} oracle={len(orows)}"]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    oorder = sorted(range(len(ocols)), key=lambda i: ocols[i])
    got = sorted((tuple(canon(r[i]) for i in order) for r in rows), key=_sort_key)
    exp = sorted((tuple(canon(r[i]) for i in oorder) for r in orows), key=_sort_key)
    for i, (a, b) in enumerate(zip(got, exp)):
        if not _values_equal(a, b):
            return [f"values differ at sorted row {i}: got={a} oracle={b}"]
    return []


# --------------------------------------------------------- fingerprints


@dataclass(frozen=True)
class Item:
    """One checksum: the same aggregate in Spark SQL and DuckDB SQL.
    ``scale`` names the item whose value bounds the float tolerance;
    None means the values must be equal."""

    label: str
    spark: str
    duck: str
    scale: str | None = None


def _items_for(path_s: str, path_d: str, label: str, dtype: dict) -> list[Item]:
    kind = dtype["type"] if isinstance(dtype, dict) else dtype
    if isinstance(kind, str) and kind.startswith("decimal"):
        kind = "decimal"
    items = [Item(f"{label}:n", f"count({path_s})", f"count({path_d})")]
    if kind in NUMERIC:
        ds, dd = f"CAST({path_s} AS DOUBLE)", f"CAST({path_d} AS DOUBLE)"
        scale = f"{label}:abs" if kind in ("float", "double", "decimal") else None
        items.append(Item(f"{label}:abs", f"sum(abs({ds}))", f"sum(abs({dd}))", scale))
        items.append(Item(f"{label}:sum", f"sum({ds})", f"sum({dd})", scale))
    elif kind == "boolean":
        items.append(Item(f"{label}:true", f"count_if({path_s})", f"count_if({path_d})"))
    elif kind == "string":
        items.append(
            Item(f"{label}:len", f"sum(length({path_s}))", f"sum(length({path_d}))")
        )
        items.append(
            Item(
                f"{label}:md5",
                f"sum(CAST(conv(substr(md5({path_s}), 1, 8), 16, 10) AS BIGINT))",
                f"sum(('0x' || substr(md5(CAST({path_d} AS VARCHAR)), 1, 8))::BIGINT)",
            )
        )
    elif kind == "date":
        items.append(
            Item(
                f"{label}:days",
                f"sum(unix_date({path_s}))",
                f"sum(date_diff('day', DATE '1970-01-01', CAST({path_d} AS DATE)))",
            )
        )
    elif kind in ("timestamp", "timestamp_ntz"):
        items.append(
            Item(
                f"{label}:us",
                f"sum(CAST(unix_micros(CAST({path_s} AS TIMESTAMP)) AS DOUBLE))",
                f"sum(CAST(epoch_us(CAST({path_d} AS TIMESTAMP)) AS DOUBLE))",
                f"{label}:us",
            )
        )
    elif kind == "array":
        elem = dtype["elementType"]
        ekind = elem["type"] if isinstance(elem, dict) else elem
        if isinstance(ekind, str) and ekind.startswith("decimal"):
            ekind = "decimal"
        items.append(
            Item(f"{label}:size", f"sum(size({path_s}))", f"sum(len({path_d}))")
        )
        if ekind in NUMERIC:
            items.append(
                Item(
                    f"{label}:esum",
                    f"sum(aggregate({path_s}, CAST(0 AS DOUBLE), "
                    f"(a, x) -> a + coalesce(CAST(x AS DOUBLE), 0)))",
                    f"sum(coalesce(CAST(list_sum({path_d}) AS DOUBLE), 0))",
                    f"{label}:esum_abs",
                )
            )
            items.append(
                Item(
                    f"{label}:esum_abs",
                    f"sum(aggregate({path_s}, CAST(0 AS DOUBLE), "
                    f"(a, x) -> a + coalesce(abs(CAST(x AS DOUBLE)), 0)))",
                    f"sum(coalesce(CAST(list_sum(list_transform({path_d}, "
                    f"x -> abs(CAST(x AS DOUBLE)))) AS DOUBLE), 0))",
                    f"{label}:esum_abs",
                )
            )
        elif ekind == "string":
            items.append(
                Item(
                    f"{label}:elen",
                    f"sum(aggregate({path_s}, 0L, (a, x) -> a + coalesce(length(x), 0)))",
                    f"sum(coalesce(list_sum(list_transform({path_d}, "
                    f"x -> coalesce(length(x), 0))), 0))",
                )
            )
    elif kind == "struct":
        for f in dtype["fields"]:
            name = f["name"]
            items += _items_for(
                f"{path_s}.`{name}`", f'{path_d}."{name}"', f"{label}.{name}", f["type"]
            )
    return items


def fingerprint_items(schema) -> list[Item]:
    """Checksum items for a Spark ``StructType``, ordered by column name."""
    items = [Item("rows", "count(1)", "count(*)")]
    fields = json.loads(schema.json())["fields"]
    for f in sorted(fields, key=lambda f: f["name"]):
        name = f["name"]
        items += _items_for(f"`{name}`", f'"{name}"', name, f["type"])
    return items


def fingerprint_columns(items: list[Item]):
    """Spark aggregate Columns computing the fingerprint."""
    from pyspark.sql import functions as F

    return [F.expr(it.spark).alias(f"fp{i}") for i, it in enumerate(items)]


def fingerprint_values(items: list[Item], row: dict) -> dict:
    """Fingerprint values from a row of ``fingerprint_columns``."""
    return {it.label: _num(row.get(f"fp{i}")) for i, it in enumerate(items)}


def _num(v):
    if v is None:
        return None
    return float(v)


def duck_fingerprint(con, sql: str, items: list[Item]) -> dict:
    body = sql.strip().rstrip(";")
    aggs = ", ".join(it.duck for it in items)
    row = con.execute(f"SELECT {aggs} FROM ({body}) AS oracle_result").fetchone()
    return {it.label: _num(v) for it, v in zip(items, row)}


def compare_fingerprints(items: list[Item], got: dict, exp: dict) -> list[str]:
    for it in items:
        a, b = got.get(it.label), exp.get(it.label)
        if a is None or b is None:
            if a is None and b is None:
                continue
            return [f"{it.label}: got={a} oracle={b}"]
        if math.isnan(a) or math.isnan(b) or math.isinf(a) or math.isinf(b):
            if str(a) != str(b):
                return [f"{it.label}: got={a} oracle={b}"]
            continue
        if it.scale is None:
            if a != b:
                return [f"{it.label}: got={a!r} oracle={b!r}"]
            continue
        scale = max(abs(exp.get(it.scale) or 0.0), abs(b))
        if abs(a - b) > REL_TOL * scale + 1e-9:
            return [f"{it.label}: got={a!r} oracle={b!r} (tolerance {REL_TOL} x {scale:.6g})"]
    return []


class ExpectedCache:
    """DuckDB fingerprints of oracle SQL, one JSON file per key, reused
    across runs in one checkout."""

    def __init__(self, root: str, sf_dir: str):
        self.root = root
        self.data_tag = json.dumps(
            sorted((f, os.path.getsize(os.path.join(sf_dir, f))) for f in os.listdir(sf_dir))
        )
        os.makedirs(root, exist_ok=True)

    def _path(self, sql: str, items: list[Item]) -> str:
        h = hashlib.sha256()
        h.update(self.data_tag.encode())
        h.update(sql.encode())
        for it in items:
            h.update(f"\0{it.label}\0{it.duck}".encode())
        return os.path.join(self.root, h.hexdigest()[:32] + ".json")

    def get(self, con, sql: str, items: list[Item]) -> dict:
        """{"columns": oracle column names, "values": fingerprint}."""
        path = self._path(sql, items)
        try:
            with open(path) as f:
                return json.load(f)
        except FileNotFoundError:
            pass
        body = sql.strip().rstrip(";")
        cols = [d[0] for d in con.execute(f"SELECT * FROM ({body}) AS o LIMIT 0").description]
        exp = {"columns": cols, "values": duck_fingerprint(con, sql, items)}
        tmp = f"{path}.tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(exp, f)
        os.replace(tmp, path)
        return exp


def to_duckdb_params(sql: str) -> str:
    """Spark named parameters (:name) → DuckDB ($name)."""
    return re.sub(r"(?<![:\w]):([A-Za-z_]\w*)", r"$\1", sql)
