"""Workload ``sql_interactive``: one client in a closed loop over the
Presto client REST protocol (``POST /v1/statement``, then follow
``nextUri`` to the last page) against ``PrestoRestServer`` on loopback.

Statements come in decks of 25 with a fixed slot pattern: 17 ``short``
(order and customer point lookups, selective customer filters, and
per-nation income sums in the shape of the reference demo's
``select sum(income) from user``), 5 ``analytic`` (TPC-H Q1/Q3/Q5/Q6/Q18
shapes, each once) and 3 ``fetch`` (a lineitem range returning ~15k
rows). The seed draws every literal and which template fills which
slot. Each template runs once untimed before the timed loop, which
runs whole decks, at least two, until --seconds have passed.

Every statement's rows are compared with DuckDB over the same parquet
after the timed loop (``tests/oracle_harness.compare``).
"""

from __future__ import annotations

import datetime
import json
import random
import statistics
import time
import urllib.request
from decimal import Decimal

import common
from spec import SQL_CLASSES as CLASSES

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_REVENUE = ("CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))"
            " * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE)")


def _day(rng, start: str, span_days: int) -> str:
    d = datetime.date.fromisoformat(start) + datetime.timedelta(
        days=rng.randrange(span_days))
    return d.isoformat()


def point_orders(rng):
    return ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,"
            " o_orderpriority FROM orders"
            f" WHERE o_orderkey = {rng.randrange(150_000)}")


def point_customer(rng):
    return ("SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment"
            f" FROM customer WHERE c_custkey = {rng.randrange(15_000)}")


def filter_customer(rng):
    lo = rng.randrange(-99_900, 999_000) / 100
    return ("SELECT c_custkey, c_name, c_nationkey, c_acctbal FROM customer"
            f" WHERE c_acctbal BETWEEN {lo:.2f} AND {lo + 10:.2f}")


def agg_income(rng):
    return ("SELECT c_mktsegment, COUNT(*) AS n,"
            " CAST(SUM(CAST(c_acctbal AS DECIMAL(30,2))) AS DOUBLE) AS income"
            f" FROM customer WHERE c_nationkey = {rng.randrange(25)}"
            " GROUP BY c_mktsegment")


def q1(rng):
    return (
        "SELECT l_returnflag, l_linestatus,"
        " CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sum_qty,"
        " CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE)"
        " AS sum_base_price,"
        f" {_REVENUE} AS sum_disc_price,"
        " CAST(SUM(CAST(l_discount AS DECIMAL(30,2))) AS DOUBLE)"
        " / COUNT(l_discount) AS avg_disc,"
        " COUNT(*) AS count_order FROM lineitem"
        f" WHERE l_shipdate <= TIMESTAMP '{_day(rng, '2000-06-01', 365)} 00:00:00'"
        " GROUP BY l_returnflag, l_linestatus")


def q3(rng):
    day = _day(rng, "1996-01-01", 4 * 365)
    return (
        f"SELECT l_orderkey, {_REVENUE} AS revenue, o_orderdate, o_orderpriority"
        " FROM customer JOIN orders ON c_custkey = o_custkey"
        " JOIN lineitem ON l_orderkey = o_orderkey"
        f" WHERE c_mktsegment = '{rng.choice(SEGMENTS)}'"
        f" AND o_orderdate < TIMESTAMP '{day} 00:00:00'"
        f" AND l_shipdate > TIMESTAMP '{day} 00:00:00'"
        " GROUP BY l_orderkey, o_orderdate, o_orderpriority"
        " ORDER BY revenue DESC, l_orderkey LIMIT 10")


def q5(rng):
    year = rng.randrange(1995, 2001)
    return (
        f"SELECT n_name, {_REVENUE} AS revenue"
        " FROM customer JOIN orders ON c_custkey = o_custkey"
        " JOIN lineitem ON l_orderkey = o_orderkey"
        " JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey"
        " JOIN nation ON s_nationkey = n_nationkey"
        " JOIN region ON n_regionkey = r_regionkey"
        f" WHERE r_name = '{rng.choice(REGIONS)}'"
        f" AND o_orderdate >= TIMESTAMP '{year}-01-01 00:00:00'"
        f" AND o_orderdate < TIMESTAMP '{year + 1}-01-01 00:00:00'"
        " GROUP BY n_name")


def q6(rng):
    year = rng.randrange(1995, 2001)
    disc = rng.randrange(2, 9) / 100
    return (
        "SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))"
        " * CAST(l_discount AS DECIMAL(4,2))), 2) AS DOUBLE) AS revenue"
        " FROM lineitem"
        f" WHERE l_shipdate >= TIMESTAMP '{year}-01-01 00:00:00'"
        f" AND l_shipdate < TIMESTAMP '{year + 1}-01-01 00:00:00'"
        f" AND l_discount BETWEEN {disc - 0.01:.2f} AND {disc + 0.01:.2f}"
        f" AND l_quantity < {rng.randrange(20, 30)}")


def q18(rng):
    return (
        "SELECT c_custkey, c_name, o_orderkey, o_totalprice,"
        " CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS total_qty"
        " FROM customer JOIN orders ON c_custkey = o_custkey"
        " JOIN lineitem ON l_orderkey = o_orderkey"
        " WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem"
        " GROUP BY l_orderkey"
        f" HAVING SUM(CAST(l_quantity AS DECIMAL(30,2))) > {rng.randrange(220, 280)})"
        " GROUP BY c_custkey, c_name, o_orderkey, o_totalprice"
        " ORDER BY o_totalprice DESC, o_orderkey LIMIT 25")


def fetch_lineitem(rng):
    lo = rng.randrange(19_500)
    return ("SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,"
            " l_quantity, l_shipdate FROM lineitem"
            f" WHERE l_partkey BETWEEN {lo} AND {lo + 499}")


SHORT = [point_orders, point_customer, filter_customer, agg_income]
ANALYTIC = [q1, q3, q5, q6, q18]
FETCH = [fetch_lineitem]
TEMPLATES = {f.__name__: (cls, f) for cls, fs in (
    ("short", SHORT), ("analytic", ANALYTIC), ("fetch", FETCH)) for f in fs}
# slot classes of one 25-statement deck: analytic every fifth slot and
# fetch spread out, so any prefix of the loop keeps close to the mix
PATTERN = ["analytic" if i % 5 == 2 else "fetch" if i in (4, 13, 21) else "short"
           for i in range(25)]
# a timed loop runs whole decks, at least two: every run then has the
# same mix, and 50 statements put the tail (11th slowest) at p80. A
# traced run splits --seconds between an untraced and a traced loop of
# at least one deck each: per-class medians need no tail.
MIN_DECKS = 2


def statements(seed: int):
    """Endless seeded (class, template, sql) stream in decks of 25: 17
    short, all 5 analytic shapes and 3 fetch statements (68/20/12).
    Short slots take the four short templates in rounds of four, so
    every prefix holds them in equal shares. The seed draws every
    literal and the order within each round."""
    rng = random.Random(seed)

    def rounds(fns):
        while True:
            yield from rng.sample(fns, len(fns))

    pick = {"short": rounds(SHORT), "analytic": rounds(ANALYTIC),
            "fetch": rounds(FETCH)}
    while True:
        for cls in PATTERN:
            fn = next(pick[cls])
            yield cls, fn.__name__, fn(rng)


# -- client -------------------------------------------------------------------

def _http(url: str, data: bytes | None = None) -> bytes:
    req = urllib.request.Request(url, data=data, method="POST" if data else "GET")
    with urllib.request.urlopen(req, timeout=120) as resp:
        return resp.read()


def run_statement(base_url: str, sql: str, tracer: common.Tracer) -> dict:
    """POST the statement, follow nextUri to the end; returns timings,
    wire bytes, pages and the decoded JSON rows."""
    t0 = time.perf_counter()
    with tracer.span("rest_server.submit"):
        body = _http(base_url + "/v1/statement", sql.encode())
    t1 = time.perf_counter()
    r = json.loads(body)
    qid = r.get("id")
    nbytes, pages, rows = len(body), 0, []
    columns = r.get("columns") or []
    with tracer.span("rest_server.fetch"):
        while "nextUri" in r:
            body = _http(r["nextUri"])
            nbytes += len(body)
            pages += 1
            r = json.loads(body)
            rows.extend(r.get("data") or [])
            columns = r.get("columns") or columns
    t2 = time.perf_counter()
    state = r.get("stats", {}).get("state")
    return {
        "qid": qid, "latency_ms": (t2 - t0) * 1e3, "submit_ms": (t1 - t0) * 1e3,
        "fetch_ms": (t2 - t1) * 1e3, "pages": pages, "bytes": nbytes,
        "rows": rows, "columns": columns,
        "error": None if state == "FINISHED" else (r.get("error") or {"state": state}),
    }


# -- correctness --------------------------------------------------------------

def _converter(presto_type: str):
    t = presto_type.lower()
    if t in ("bigint", "integer", "smallint", "tinyint"):
        return int
    if t in ("double", "real"):
        return float
    if t.startswith("decimal"):
        return lambda v: float(Decimal(v))
    if t.startswith("timestamp"):
        import pandas as pd

        return pd.Timestamp
    if t == "date":
        return datetime.date.fromisoformat
    return lambda v: v


class WireFrame:
    """The client's decoded rows behind the ``toPandas()`` call
    ``oracle_harness.compare`` makes on its first argument."""

    def __init__(self, columns: list[dict], data: list[list]):
        self.columns, self.data = columns, data

    def toPandas(self):
        import pandas as pd

        conv = [_converter(c["type"]) for c in self.columns]
        rows = [[None if v is None else f(v) for f, v in zip(conv, row)]
                for row in self.data]
        return pd.DataFrame(rows, columns=[c["name"] for c in self.columns])


def check_statements(records: list[dict], acct: common.Accounting,
                     data_dir: str = common.DATA_DIR) -> None:
    """Hash every statement's rows against DuckDB over the same parquet;
    errors and mismatches count as failed operations."""
    import oracle_harness

    con = oracle_harness.duckdb_connection(data_dir)
    oracle: dict[str, object] = {}
    for rec in records:
        what = f"{rec['template']} [{rec['sql'][:80]}]"
        if rec["error"] is not None:
            acct.record(what, [f"statement failed: {rec['error']}"])
            continue
        if rec["sql"] not in oracle:
            oracle[rec["sql"]] = con.execute(rec["sql"]).fetchdf()
        acct.record(what, oracle_harness.compare(
            WireFrame(rec["columns"], rec["rows"]), oracle[rec["sql"]]))
    con.close()


# -- tracing wrappers ---------------------------------------------------------

def install_trace_wrappers(stack, eng, spark, tracer: common.Tracer) -> None:
    """Spans around the engine front door, the dialect translation and
    Catalyst analysis/planning. Engine.sql resolves ``dialect.translate``
    through the module and ``self.spark.sql`` through the session
    object, so those are the names wrapped."""
    from presto_on_ray_spark import dialect

    def wrap(name):
        def factory(fn):
            def wrapper(*a, **kw):
                with tracer.span(name):
                    return fn(*a, **kw)
            return wrapper
        return factory

    stack.enter_context(common.patched(dialect, "translate", wrap("dialect.translate")))
    stack.enter_context(common.patched(spark, "sql", wrap("catalyst.analyze")))

    def engine_sql(fn):
        def wrapper(*a, **kw):
            with tracer.span("engine.sql"):
                df = fn(*a, **kw)
            if df is not None:
                with tracer.span("catalyst.plan"):
                    df._jdf.queryExecution().executedPlan()
            return df
        return wrapper

    stack.enter_context(common.patched(eng, "sql", engine_sql))


def layer_rows(records: list[dict], tracer: common.Tracer, status) -> list[dict]:
    """Per-statement layer metrics from the spans and the status store."""
    spans = tracer.by_op()
    out = []
    for rec in records:
        ss = spans.get(rec["op"], [])
        spark_m = status.metrics(status.group_jobs(f"rest-{rec['qid']}"))
        eng_ms = common.span_ms(ss, "engine.sql")
        plan_ms = common.span_ms(ss, "catalyst.plan")
        row = {
            "class": rec["class"],
            "rest_server.submit_ms": rec["submit_ms"],
            "rest_server.fetch_ms": rec["fetch_ms"],
            "rest_server.pages": rec["pages"],
            "rest_server.json_bytes_per_row": rec["bytes"] / max(1, len(rec["rows"])),
            "rest_server.self_ms": max(
                0.0, rec["latency_ms"] - eng_ms - plan_ms - spark_m["exec_ms"]),
            "dialect.translate_ms": common.span_ms(ss, "dialect.translate"),
            "engine.sql_self_ms": common.self_ms(ss, "engine.sql"),
            "catalyst.analyze_ms": common.span_ms(ss, "catalyst.analyze"),
            "catalyst.plan_ms": plan_ms,
        }
        row.update({f"spark.{k}": v for k, v in spark_m.items()})
        out.append(row)
    return out


# -- the workload -------------------------------------------------------------

def _loop(url, stream, seconds, min_decks, tracer, tag) -> tuple[list[dict], float]:
    """Closed loop: the next statement goes out when the previous one has
    returned its last page; stops at the first deck boundary after
    ``min_decks`` decks and ``seconds``."""
    records, t0 = [], time.perf_counter()
    while (len(records) % len(PATTERN) or len(records) < min_decks * len(PATTERN)
           or time.perf_counter() - t0 < seconds):
        cls, name, sql = next(stream)
        op = f"{tag}{len(records)}"
        with tracer.op(op, "statement", cls=cls):
            rec = run_statement(url, sql, tracer)
        rec.update({"op": op, "class": cls, "template": name, "sql": sql})
        records.append(rec)
    return records, time.perf_counter() - t0


def e2e_metrics(records: list[dict], wall_s: float) -> dict[str, float]:
    lat = [r["latency_ms"] for r in records]
    fetch = [r for r in records if r["class"] == "fetch"]
    fetch_rows = sum(len(r["rows"]) for r in fetch)
    fetch_s = sum(r["latency_ms"] for r in fetch) / 1e3
    return {
        "op_p50_ms": statistics.median(lat),
        "op_tail_ms": common.tail(lat)[0],
        "ops_per_s": len(records) / wall_s,
        "rows_per_s": fetch_rows / fetch_s if fetch_s else 0.0,
        "bytes_per_row": sum(r["bytes"] for r in records)
        / max(1, sum(len(r["rows"]) for r in records)),
    }


def run(seed: int, seconds: float, trace: bool, t_start: float) -> dict:
    """One cold set-up pass, then the timed loop; setup_s runs from
    ``t_start`` (process start) to the first timed statement."""
    import contextlib

    phases: dict[str, float] = {}
    spark = common.start_session()
    phases["session.start"] = time.perf_counter() - t_start
    try:
        from presto_on_ray_spark import suite
        from presto_on_ray_spark.engine import Engine
        from presto_on_ray_spark.rest_server import PrestoRestServer

        _, phases["suite.load"] = common.timed(suite.load_all)
        eng, phases["functions.register"] = common.timed(Engine, spark)
        _, phases["engine.register_tables"] = common.timed(
            eng.register_tables, common.DATA_DIR)
        srv, phases["rest_server.start"] = common.timed(
            lambda: PrestoRestServer(eng).start())

        # warm-up: every template once, untimed, with its own literals
        warm_rng = random.Random(seed ^ 0x5EED)
        untraced = common.Tracer(False)
        warm = []
        t0 = time.perf_counter()
        for name, (cls, fn) in TEMPLATES.items():
            sql = fn(warm_rng)
            rec = run_statement(srv.url, sql, untraced)
            rec.update({"class": cls, "template": name, "sql": sql})
            warm.append(rec)
        phases["warmup"] = time.perf_counter() - t0

        stream = statements(seed)
        setup_s = time.perf_counter() - t_start
        loop_s, decks = (seconds / 2, 1) if trace else (seconds, MIN_DECKS)
        records, wall = _loop(srv.url, stream, loop_s, decks, untraced, "u")
        out = {"e2e": dict(e2e_metrics(records, wall), setup_s=setup_s),
               "n_ops": len(records),
               "tail_pct": common.tail([r["latency_ms"] for r in records])[1],
               "p50_ms_by_template": {t: statistics.median(
                   r["latency_ms"] for r in records if r["template"] == t)
                   for t in TEMPLATES if any(r["template"] == t for r in records)}}
        if trace:
            tracer = common.Tracer(True)
            with contextlib.ExitStack() as stack:
                install_trace_wrappers(stack, eng, spark, tracer)
                traced, _ = _loop(srv.url, stream, loop_s, decks, tracer, "t")
            rows = layer_rows(traced, tracer, common.SparkStatus(spark))
            layers = {}
            for cls in CLASSES:
                of_cls = [r for r in rows if r["class"] == cls]
                for key in rows[0]:
                    if key != "class":
                        layers[f"{key}.{cls}"] = common.median_of(of_cls, key)
            out["layers"] = layers
            out["tracer"] = tracer
            out["overhead_ms"] = (
                statistics.median(r["latency_ms"] for r in traced)
                - out["e2e"]["op_p50_ms"])
            records = records + traced
        out["e2e"]["peak_rss_mb"] = common.peak_rss_mb(spark)
        out["versions"] = common.versions(spark)
        srv.stop()
    finally:
        common.stop_session(spark)

    acct = common.Accounting()
    _, out["check_s"] = common.timed(check_statements, warm + records, acct)
    out["acct"] = acct
    out["phases"] = phases
    return out
