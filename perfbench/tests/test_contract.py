"""The benchmark's own contract: metric names and units, the tail
percentile rule and the failure accounting. No Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT, os.path.join(ROOT, "tests")]

import common  # noqa: E402
import spec  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def load_benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_is_generated_from_spec():
    assert load_benchmark_json() == spec.benchmark_json()


def test_metric_names_and_units():
    b = load_benchmark_json()
    assert set(b) == {"command", "paths", "run_seconds", "workloads",
                      "end_to_end", "per_layer"}
    e2e, layers = b["end_to_end"], b["per_layer"]
    assert [m["name"] for m in e2e] == [
        "setup_s", "ok_frac", "peak_rss_mb", "op_p50_ms", "op_tail_ms",
        "ops_per_s", "rows_per_s", "bytes_per_row"]
    names = [m["name"] for m in e2e + layers] + [w["name"] for w in b["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert all(UNIT.match(m["unit"]) for m in e2e + layers)
    assert all(m["better"] in ("lower", "higher") for m in e2e + layers)
    assert 1 <= len(layers) <= 128 and 2 <= len(b["workloads"]) <= 8
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in b["workloads"])
    units = {m["name"]: m["unit"] for m in e2e}
    assert units["setup_s"] == "s" and units["op_p50_ms"] == "ms"
    bounds = {m["name"]: m["bound"] for m in e2e}
    assert all(0 < v <= 0.25 for v in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    # every per-class layer metric exists for every statement class
    for c in spec.SQL_CLASSES:
        assert f"rest_server.self_ms.{c}" in {m["name"] for m in layers}
    assert set(spec.SETUP_PHASES.values()) <= {m["name"] for m in layers}


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    values = [float(v) for v in range(1, 41)]  # 40 samples
    value, pct = common.tail(values)
    assert value == 30.0 and pct == 75.0
    assert sum(v > value for v in values) == 10
    value, pct = common.tail(list(reversed(values[:11])))
    assert value == 1.0 and pct == pytest.approx(100 / 11)
    # ten or fewer samples: no percentile has ten beyond; the max stands in
    assert common.tail([3.0, 1.0, 2.0]) == (3.0, 100.0)


def _tiny_catalog(path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    import oracle_harness

    for t in oracle_harness.TABLES:
        pq.write_table(pa.table({"k": [1]}), os.path.join(path, f"{t}.parquet"))
    pq.write_table(pa.table({
        "n_nationkey": pa.array([1, 2, 3], pa.int64()),
        "n_name": ["ALGERIA", "BRAZIL", "CHINA"],
    }), os.path.join(path, "nation.parquet"))


def test_wrong_result_raises_failed_frac(tmp_path):
    import sql_interactive as sq

    _tiny_catalog(str(tmp_path))
    sql = "SELECT n_nationkey, n_name FROM nation WHERE n_nationkey >= 2"
    cols = [{"name": "n_nationkey", "type": "bigint"},
            {"name": "n_name", "type": "varchar"}]
    right = {"template": "t", "sql": sql, "error": None, "columns": cols,
             "rows": [[3, "CHINA"], [2, "BRAZIL"]]}
    acct = common.Accounting()
    sq.check_statements([right], acct, str(tmp_path))
    assert (acct.attempted, acct.failed, acct.failed_frac) == (1, 0, 0.0)

    wrong = dict(right, rows=[[2, "BRAZIL"], [3, "CANADA"]])
    refused = dict(right, error={"errorName": "PERMISSION_DENIED"})
    acct = common.Accounting()
    sq.check_statements([right, wrong, refused], acct, str(tmp_path))
    assert (acct.attempted, acct.failed) == (3, 2)
    assert acct.failed_frac > 0 and acct.ok_frac == pytest.approx(1 / 3)
    assert any("CANADA" in p for p in acct.problems)


def test_wire_rows_decode_to_typed_frame():
    import sql_interactive as sq

    pdf = sq.WireFrame(
        [{"name": "a", "type": "bigint"}, {"name": "b", "type": "double"},
         {"name": "c", "type": "timestamp"}, {"name": "d", "type": "decimal(12,2)"}],
        [[1, "NaN", "1995-01-02 00:00:00.000", "1.50"], [None, 2.5, None, None]],
    ).toPandas()
    assert pdf["b"].isna().iloc[0] and pdf["b"].iloc[1] == 2.5
    assert str(pdf["c"].iloc[0]) == "1995-01-02 00:00:00"
    assert pdf["d"].iloc[0] == 1.5
