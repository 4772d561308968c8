"""Self-test of the benchmark's output checks.

    python3 -m pytest perfbench/test_perfbench.py -q

The checks must pass on the program's real results and fail when a result
is deliberately corrupted. Uses small generated inputs and one local Spark
session.
"""

from __future__ import annotations

import os
import shutil
import sys
from datetime import datetime

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
from model import VersionLog, checksum  # noqa: E402


# -- the model alone --------------------------------------------------------------


def test_model_version_chain_and_rollback():
    log = VersionLog()
    t = [datetime(2024, 1, d) for d in range(1, 6)]
    log.record("a", '{"x": 1}', t[0])
    log.record_bulk([("a", '{"x": 3}', t[2]), ("a", '{"x": 2}', t[1]), ("b", '{"y": 1}', t[1])])
    assert [r["version"] for r in log.rows if r["record_id"] == "a"] == ["v1", "v2", "v3"]
    assert log.compare("a", t[0], t[2])["differences"] == {"x": {"from": 1, "to": 3}}
    out = log.rollback(t[1])
    assert out["n_affected"] == 1 and out["affected_keys"] == ["a"]
    assert log.compare("a", t[1], t[3])["differences"] == {}
    assert log.record("a", '{"x": 9}', t[4])["version"] == "v3"


def test_checksum_ignores_row_order_but_not_content():
    log, other = VersionLog(), VersionLog()
    log.record_bulk([("a", "x", datetime(2024, 1, 1)), ("b", "y", datetime(2024, 1, 2))])
    other.record_bulk([("a", "x", datetime(2024, 1, 1)), ("b", "z", datetime(2024, 1, 2))])
    assert checksum(log.rows) == checksum(log.rows[::-1])
    assert checksum(log.rows) != checksum(other.rows)


# -- the checks against the program, with Spark -------------------------------------


@pytest.fixture(scope="module")
def spark():
    work = os.path.join(run.ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    run._prepare_env(work)
    from temporalvault_spark.session import get_spark

    s = get_spark("perfbench-selftest", cpus=2)
    s.sparkContext.setLogLevel("ERROR")
    s.work_dir = work
    yield s
    run._stop_spark(s)
    shutil.rmtree(work, ignore_errors=True)


@pytest.fixture(scope="module")
def traffic(spark):
    import datagen
    from tracer import Tracer
    from vault_traffic import VaultTraffic

    data = datagen.write_catalog(os.path.join(spark.work_dir, "data0"), 7, n_events=2000, n_keys=60)
    w = VaultTraffic(spark, Tracer(False), 7, [data], spark.work_dir, 60)
    w.setup_once(0)
    return w


def _run_checked(w, op):
    """Run one op with its result check forced on; returns the new
    mismatches."""
    w.calls.pop(op, None)
    before = len(w.wrong)
    _dt, check = w.run_op(op, "selftest")
    check()
    return w.wrong[before:]


def test_vault_checks_pass_on_real_results(traffic):
    from vault_traffic import CYCLE

    for op in CYCLE:
        assert _run_checked(traffic, op) == [], op
    traffic.final_check()
    assert traffic.wrong == []


@pytest.mark.parametrize("op, corrupt", [
    ("query", lambda real: lambda ts, **kw: real(ts, **kw).limit(10)),
    ("state_at", lambda real: lambda ts: real(ts).selectExpr(
        "record_id", "version", "concat(data, ' ') AS data", "ts")),
    ("compare", lambda real: lambda *a: {**real(*a), "end_version": "v0"}),
    ("record", lambda real: lambda *a: {**real(*a), "version": "v0"}),
])
def test_vault_checks_catch_corrupted_results(traffic, op, corrupt):
    if op == "compare":  # needs a write behind it
        _run_checked(traffic, "record")
    vault = traffic.vault
    setattr(vault, op, corrupt(getattr(vault, op)))
    try:
        assert _run_checked(traffic, op), f"corrupted {op} passed its check"
    finally:
        delattr(vault, op)  # back to the class method
        traffic.wrong.clear()


def test_analytics_check_catches_a_missing_row(spark, monkeypatch):
    import analytics_pass
    import datagen
    import temporalvault_spark.operators  # noqa: F401  (fills the registry)
    from tracer import Tracer

    monkeypatch.setattr(analytics_pass, "QUERIES", ["asof_latest_per_key", "tpch_q3_shipping_priority"])
    data = datagen.write_catalog(os.path.join(spark.work_dir, "data_an"), 7)
    a = analytics_pass.AnalyticsPass(spark, Tracer(False), [data])
    a.setup_catalog(0)
    _s, results = a.first_pass()
    assert a.failed == []
    a.check(results)
    assert a.wrong == []
    good = results["asof_latest_per_key"]
    rows = good.collect()
    assert rows, "query returned no rows; the check would prove nothing"
    results["asof_latest_per_key"] = analytics_pass._Collected(good, rows[1:])
    a.check(results)
    assert len(a.wrong) == 1 and a.wrong[0].startswith("asof_latest_per_key")
