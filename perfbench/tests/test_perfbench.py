"""Tests of the benchmark itself.

The input and check tests are fast. The run tests start Spark through
``run.py`` and take a few minutes in all.
"""

from __future__ import annotations

import json
import os
import shutil
import sqlite3
import subprocess
import sys

import duckdb
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import inputs  # noqa: E402
import tracing  # noqa: E402
import worker  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _fh:
    SPEC = json.load(_fh)


@pytest.fixture(scope="module")
def base(tmp_path_factory):
    return inputs.base_dir(str(tmp_path_factory.mktemp("data")))


# ------------------------------------------------------------- seeds

def test_seed_changes_order_not_checksums(base, tmp_path):
    d1, d2 = tmp_path / "s1", tmp_path / "s2"
    d1.mkdir()
    d2.mkdir()
    csv1, _ = inputs.write_lineitem_csv(base, 1, str(d1))
    csv2, _ = inputs.write_lineitem_csv(base, 2, str(d2))
    lines1 = open(csv1, encoding="utf-8").read().splitlines()
    lines2 = open(csv2, encoding="utf-8").read().splitlines()
    assert lines1[:50] != lines2[:50]
    assert sorted(lines1) == sorted(lines2)
    assert checks.expected_csv_parquet(csv1) == checks.expected_csv_parquet(csv2)

    o1 = inputs.write_orders_parquet(base, 1, str(d1))
    o2 = inputs.write_orders_parquet(base, 2, str(d2))
    first = "SELECT o_orderkey FROM read_parquet('{}') LIMIT 20"
    assert duckdb.sql(first.format(o1)).fetchall() != duckdb.sql(first.format(o2)).fetchall()
    assert checks.expected_parquet_sqlite(o1) == checks.expected_parquet_sqlite(o2)


def test_base_tables_do_not_depend_on_run(base, tmp_path):
    again = inputs.base_dir(str(tmp_path))
    for name in ("lineitem", "orders", "documents"):
        q = "SELECT count(*), sum(hash(COLUMNS(*))) FROM read_parquet('{}/{}.parquet')"
        assert duckdb.sql(q.format(base, name)).fetchall() == \
            duckdb.sql(q.format(again, name)).fetchall()


# ------------------------------------------------- corrupted outputs fail

def _want_view(con, csv_path):
    con.execute(f"""
        CREATE VIEW src AS SELECT * FROM read_csv('{csv_path}', header = true,
            timestampformat = '%Y-%m-%d %H:%M:%S')""")
    con.execute("""
        CREATE VIEW want AS SELECT *,
            l_extendedprice * (1 - l_discount) AS disc_price,
            l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge,
            CASE WHEN l_quantity >= 40 THEN 'heavy'
                 WHEN l_quantity >= 20 THEN 'mid' ELSE 'light' END AS qty_class,
            l_returnflag || '-' || l_linestatus AS flag_status
        FROM src""")


def test_corrupted_parquet_output_is_a_failure(base, tmp_path):
    csv_path, _ = inputs.write_lineitem_csv(base, 3, str(tmp_path))
    want = checks.expected_csv_parquet(csv_path)
    good, bad = tmp_path / "good.parquet", tmp_path / "bad.parquet"
    con = duckdb.connect()
    _want_view(con, csv_path)
    con.execute(f"COPY (SELECT * FROM want) TO '{good}'")
    con.execute(f"""COPY (SELECT * REPLACE (CASE WHEN l_linenumber = 3 AND l_partkey % 97 = 0
        THEN charge + 0.01 ELSE charge END AS charge) FROM want) TO '{bad}'""")
    con.close()
    assert checks.compare_digest(checks.parquet_digest(str(good)), want) is None
    reason = checks.compare_digest(checks.parquet_digest(str(bad)), want)
    assert reason and "charge" in reason


def test_corrupted_sqlite_output_is_a_failure(base, tmp_path):
    src = inputs.write_orders_parquet(base, 4, str(tmp_path))
    want = checks.expected_parquet_sqlite(src)
    con = duckdb.connect()
    rows = con.execute(f"""
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') || '+00:00',
               o_orderpriority, o_totalprice > 250000, substr(o_orderpriority, 1, 1)
        FROM read_parquet('{src}')""").fetchall()
    con.close()
    db = str(tmp_path / "out.db")
    lite = sqlite3.connect(db)
    lite.execute("CREATE TABLE orders (o_orderkey INTEGER, o_custkey INTEGER, "
                 "o_orderstatus TEXT, o_totalprice REAL, o_orderdate TEXT, "
                 "o_orderpriority TEXT, is_big INTEGER, prio TEXT)")
    lite.executemany("INSERT INTO orders VALUES (?,?,?,?,?,?,?,?)",
                     [r[:6] + (int(r[6]),) + r[7:] for r in rows])
    lite.commit()
    assert checks.compare_digest(checks.sqlite_digest(db, "orders"), want) is None
    lite.execute("UPDATE orders SET prio = 'X' WHERE o_orderkey = 17")
    lite.commit()
    lite.close()
    reason = checks.compare_digest(checks.sqlite_digest(db, "orders"), want)
    assert reason and "prio" in reason


def test_corrupted_query_result_is_a_failure():
    import pandas as pd

    good = pd.DataFrame({"doc_id": [1, 2, 3], "score": [0.5, 0.25, 1.0]})
    want = checks.result_digest(good)
    assert checks.compare_result(checks.result_digest(good.iloc[::-1]), want) is None
    bad = good.copy()
    bad.loc[1, "score"] = 0.26
    assert checks.compare_result(checks.result_digest(bad), want) == \
        "values differ from oracle"
    assert "rows" in checks.compare_result(checks.result_digest(good.iloc[:2]), want)


class _FakeWorkload:
    """Succeeds on every operation; operation ``bad`` returns a wrong
    output, and operation ``boom`` raises."""

    rows = 10

    def __init__(self, check_every_op, bad=None, boom=None):
        self.check_every_op, self.bad, self.boom = check_every_op, bad, boom

    def op(self, i):
        if i == self.boom:
            raise RuntimeError("boom")
        return "corrupt" if i == self.bad else "ok"

    def check(self, result):
        return None if result == "ok" else "output differs"


@pytest.mark.parametrize("every_op, bad, boom, failed", [
    (True, 2, None, 1),     # a wrong ETL output
    (True, None, 1, 1),     # an operation that raised
    (False, 0, None, 1),    # a wrong cold pass in the query mix
    (True, None, None, 0),
])
def test_failures_are_counted(every_op, bad, boom, failed):
    runner = worker.Runner(_FakeWorkload(every_op, bad, boom), tracing.Tracer(enabled=False))
    ops = runner.run(seconds=0)
    assert [r["phase"] for r in ops] == \
        ["cold"] + ["warmup"] * worker.WARMUP_OPS + ["window"] * worker.MIN_WINDOW_OPS
    assert worker.failed_count(ops) == failed
    assert all("memo" in r and "plan" in r for r in ops)


# ------------------------------------------------------------ full runs

def _run(workload, trace, cwd=ROOT, seconds=1):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=240,
    )


def test_end_to_end_run_prints_every_metric():
    proc = _run("etl", 0)
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(v["value"] > 0 for v in out["metrics"].values())
    # cold_s and rows_per_s (ETL) are on the summary lines, not gated metrics
    lines = proc.stdout.splitlines()
    assert any(line.startswith("rows_per_s ") and line.endswith(" rows/s") for line in lines)
    assert any(line.startswith("cold_s ") for line in lines)


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_traced_run_emits_every_layer_metric(workload):
    proc = _run(workload, 1)
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["correct"], proc.stdout
    m = {k: v["value"] for k, v in out["metrics"].items()}
    want = {x["name"]: x["unit"] for x in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    # the stress each workload is meant to put on each layer
    if workload == "etl":
        # the SQLite sink makes up most of the parquet -> SQLite step
        assert m["io_sqlite.write_table_s"] > 0.5 * m["etl.parquet_sqlite_s"]
        assert m["io_sqlite.driver_s"] > 0
        assert m["io_files.read_csv_s"] > 0 and m["schema_infer.sample_s"] > 0
        assert m["io_files.output_bytes"] > 0
        assert m["etl.csv_parquet_s"] > 0 and m["etl.parquet_sqlite_s"] > 0
    if workload == "query_mix":
        assert m["io_sqlite.write_table_s"] == 0 and m["io_files.read_csv_s"] == 0
        assert m["etl.csv_parquet_s"] == 0 and m["etl.parquet_sqlite_s"] == 0
        assert m["memo.builds"] > 0 and m["memo.warm_builds"] == 0 and m["memo.hits"] > 0
        assert m["queries.construct_s"] > 0 and m["plan.exchanges"] > 0
        assert "rows_per_s" not in proc.stdout
    else:
        assert m["memo.builds"] == 0 and m["queries.construct_s"] == 0


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".data", ".work", "out", "__pycache__"))
    proc = _run("etl", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
