"""Tiny-size smoke test of the benchmark.

    python -m pytest perfbench/test_smoke.py -q

Runs every workload once untraced and once traced at smoke-test sizes
and checks that each reports every metric ``BENCHMARK.json`` names,
with its unit; feeds deliberately wrong answers to the checks; and
checks that the launcher refuses to run outside a repository checkout.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import duckdb
import pytest

from perfbench.tables import write_tables
from perfbench.workloads import (
    MIX_TABLES,
    Tally,
    check_export,
    check_query,
    expected_rows,
)
from wd2duckdb_spark.catalog import oracle_view_sql
from wd2duckdb_spark.registry import all_oracles

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=180,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_reports_every_metric(workload: str, trace: int) -> None:
    proc = _run(workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, proc.stdout
    assert result["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float))
        if not trace:
            assert got["value"] > 0, m["name"]


def test_wrong_answers_are_counted_failed(tmp_path) -> None:
    sf = str(tmp_path / "tables")
    write_tables(sf, 7, 0.05)
    con = duckdb.connect()
    for name in MIX_TABLES:
        con.execute(oracle_view_sql(name, f"{sf}/{name}.parquet"))
    oracles = all_oracles()
    res = con.execute(oracles["q1_pricing_summary"])
    cols = [d[0] for d in res.description]
    rows = res.fetchall()

    tally = Tally()
    check_query(tally, con, "q1_pricing_summary", cols, rows, oracles)
    assert tally.failed == 0
    wrong = [rows[0][:-1] + (rows[0][-1] + 1,)] + rows[1:]
    check_query(tally, con, "q1_pricing_summary", cols, wrong, oracles)
    assert tally.failed == 1

    db = str(tmp_path / "empty.duckdb")
    duckdb.connect(db).close()
    check_export(tally, db, expected_rows(1000, 10), "empty file")
    assert tally.failed == 2


def test_refuses_to_run_outside_a_checkout(tmp_path) -> None:
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    proc = _run("kg_query", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert not proc.stdout.strip()
