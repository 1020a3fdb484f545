"""The ``sql_service`` workload: a closed loop of clients posting
parameterized SQL to ``service.serve`` over HTTP on 127.0.0.1.

The seed picks the literals of a fixed, cyclic template stream; every
shape appears in the same proportion whatever the seed, so run-to-run
differences are literal values, not the query mix.
"""

from __future__ import annotations

import http.client
import json
import random
import threading
import time

# (name, SQL with :named parameters, parameter generator)
TEMPLATES = [
    (
        "point_orders_v",
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority "
        "FROM orders_v WHERE o_orderkey = :k",
        lambda r, n: {"k": r.randrange(n["orders"])},
    ),
    (
        "point_customer_v",
        "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment "
        "FROM customer_v WHERE c_custkey = :k",
        lambda r, n: {"k": r.randrange(n["customer"])},
    ),
    (
        "scan_lineitem_part",
        "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount "
        "FROM lineitem WHERE l_partkey = :p",
        lambda r, n: {"p": r.randrange(n["part"])},
    ),
    (
        "scan_customer_acctbal",
        "SELECT c_custkey, c_name, c_acctbal FROM customer_v "
        "WHERE c_acctbal BETWEEN :lo AND :hi",
        lambda r, n: _band(r, -999.99, 9999.99, r.uniform(0.5, 700.0)),
    ),
    (
        "agg_pricing",
        "SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS qty, "
        "sum(l_extendedprice * (1 - l_discount)) AS revenue, avg(l_discount) AS disc "
        "FROM lineitem WHERE l_shipdate <= CAST(:d AS DATE) "
        "GROUP BY l_returnflag, l_linestatus",
        lambda r, n: {"d": _date(r, "1996-01-01", 1800)},
    ),
    (
        "agg_events_by_type",
        "SELECT event_type, count(*) AS n, avg(value) AS avg_value, max(value) AS max_value "
        "FROM events WHERE user_id BETWEEN :u AND :u + 100 GROUP BY event_type",
        lambda r, n: {"u": r.randrange(max(1, n["users"] - 100))},
    ),
    (
        "join2_segment_orders",
        "SELECT c.c_mktsegment, count(*) AS n, sum(o.o_totalprice) AS total "
        "FROM orders_v o JOIN customer_v c ON o.o_custkey = c.c_custkey "
        "WHERE o.o_orderdate >= CAST(:d AS DATE) "
        "AND o.o_orderdate < CAST(:d AS DATE) + INTERVAL 30 DAY GROUP BY c.c_mktsegment",
        lambda r, n: {"d": _date(r, "1995-01-01", 2300)},
    ),
    (
        "join3_shipping_priority",
        "SELECT o.o_orderkey, o.o_orderpriority, "
        "sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue "
        "FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey "
        "JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
        "WHERE c.c_mktsegment = :seg AND o.o_orderdate < CAST(:d AS DATE) "
        "AND l.l_shipdate > CAST(:d AS DATE) "
        "GROUP BY o.o_orderkey, o.o_orderpriority "
        "ORDER BY revenue DESC, o.o_orderkey LIMIT 10",
        lambda r, n: {
            "seg": r.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]),
            "d": _date(r, "1996-01-01", 1500),
        },
    ),
    (
        "join5_nation_revenue",
        "SELECT n.n_name, sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue "
        "FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey "
        "JOIN customer c ON c.c_nationkey = n.n_nationkey "
        "JOIN orders o ON o.o_custkey = c.c_custkey "
        "JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
        "WHERE r.r_name = :region AND o.o_orderdate >= CAST(:d AS DATE) "
        "AND o.o_orderdate < CAST(:d AS DATE) + INTERVAL 365 DAY "
        "GROUP BY n.n_name",
        lambda r, n: {
            "region": r.choice(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
            "d": _date(r, "1995-01-01", 2000),
        },
    ),
    (
        "topn_orders",
        "SELECT o_orderkey, o_custkey, o_totalprice FROM orders_v "
        "WHERE o_orderstatus = :s AND o_orderpriority = :p "
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 20",
        lambda r, n: {
            "s": r.choice(["F", "O", "P"]),
            "p": r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]),
        },
    ),
]


def _band(r: random.Random, lo: float, hi: float, width: float) -> dict:
    a = round(r.uniform(lo, hi - width), 2)
    return {"lo": a, "hi": round(a + width, 2)}


def _date(r: random.Random, start: str, span_days: int) -> str:
    import datetime as dt

    d = dt.date.fromisoformat(start) + dt.timedelta(days=r.randrange(span_days))
    return d.isoformat()


def table_sizes(con) -> dict[str, int]:
    """Row counts the templates draw keys from (keys are 0..n-1), and
    the number of distinct event users, read from the tables through a
    DuckDB connection."""
    one = lambda sql: int(con.execute(sql).fetchone()[0])  # noqa: E731
    return {
        "orders": one("SELECT count(*) FROM orders"),
        "customer": one("SELECT count(*) FROM customer"),
        "part": one("SELECT count(*) FROM part"),
        "users": one("SELECT count(DISTINCT user_id) FROM events"),
    }


def request_stream(seed: int, sizes: dict, rounds: int) -> list[dict]:
    """``rounds`` rounds of every template once, in a seeded order, each
    with seeded literals."""
    r = random.Random(seed)
    out = []
    for _ in range(rounds):
        batch = list(TEMPLATES)
        r.shuffle(batch)
        for name, sql, gen in batch:
            out.append({"template": name, "sql": sql, "args": gen(r, sizes)})
    return out


class Client:
    """One closed-loop client: sends the next request only after the
    previous response has been read in full."""

    def __init__(self, port: int) -> None:
        self.port = port

    def post(self, req: dict, limit: int = 1000) -> tuple[float, int, dict | None, int]:
        """(round-trip seconds, HTTP status, parsed body, body bytes)."""
        body = json.dumps({"sql": req["sql"], "args": req["args"], "limit": limit})
        t0 = time.perf_counter()
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
        try:
            conn.request("POST", "/query", body=body, headers={"Content-Type": "application/json"})
            resp = conn.getresponse()
            raw = resp.read()
            status = resp.status
        finally:
            conn.close()
        elapsed = time.perf_counter() - t0
        try:
            payload = json.loads(raw)
        except ValueError:
            payload = None
        return elapsed, status, payload, len(raw)


def closed_loop(
    port: int, stream: list[dict], clients: int, seconds: float, rounds: int = 1
) -> list[dict]:
    """Run ``clients`` closed-loop clients over the cyclic ``stream``
    for at least ``seconds`` and ``rounds`` rounds, then up to the end
    of the current round, so every template is sent equally often; one
    record per completed request."""
    lock = threading.Lock()
    state = {"next": 0}
    records: list[dict] = []
    deadline = time.perf_counter() + seconds
    errors: list[BaseException] = []
    round_len = len(TEMPLATES)

    def worker() -> None:
        client = Client(port)
        try:
            while True:
                with lock:
                    i = state["next"]
                    if (i >= rounds * round_len and i % round_len == 0
                            and time.perf_counter() >= deadline):
                        break
                    state["next"] += 1
                req = stream[i % len(stream)]
                rt, status, payload, nbytes = client.post(req)
                with lock:
                    records.append(
                        {"req": req, "rt": rt, "status": status, "payload": payload, "bytes": nbytes}
                    )
        except BaseException as e:  # reported by the caller, never dropped
            errors.append(e)

    threads = [threading.Thread(target=worker, name=f"client-{i}") for i in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(seconds + 300)
    if errors:
        raise RuntimeError(f"client failed: {errors[0]!r}") from errors[0]
    if any(t.is_alive() for t in threads):
        raise RuntimeError("client did not finish")
    return records
