"""TemporalVault storage-API semantics tests — the hand-crafted micro-fixture
from FIXTURES.md encoding the reference's edge semantics (cites into
/root/reference/app/main.py)."""

import contextlib
import os
import time
from datetime import datetime, timedelta, timezone

import pytest
from pyspark.sql import functions as F

from temporalvault_spark.vault import TemporalVault, parse_time

TS = {
    "a1": datetime(2026, 1, 1, 0, 0, 0),
    "c1": datetime(2026, 1, 1, 6, 0, 0),
    "a2": datetime(2026, 1, 2, 0, 0, 0),
    "b1": datetime(2026, 1, 2, 12, 0, 0),
    "a3": datetime(2026, 1, 3, 0, 0, 0),
}
T_MID = datetime(2026, 1, 2, 0, 0, 0)


def _fixture_vault(spark, root):
    v = TemporalVault(spark, root)
    v.record("a", {"x": "1", "y": "2"}, TS["a1"])
    v.record("c", "not-json plain string", TS["c1"])
    v.record("a", {"x": "1", "y": "9"}, TS["a2"])
    v.record("b", {"k": "1"}, TS["b1"])
    v.record("a", {"x": "1", "z": "5"}, TS["a3"])
    return v


@pytest.fixture()
def vault(spark, tmp_path):
    return _fixture_vault(spark, str(tmp_path / "vault"))


def test_version_assignment_per_key(vault):
    rows = {(r["record_id"], r["version"]): r for r in vault.log().collect()}
    assert ("a", "v1") in rows and ("a", "v2") in rows and ("a", "v3") in rows
    assert ("b", "v1") in rows and ("c", "v1") in rows  # numbering restarts per key
    assert rows[("a", "v2")]["previous_version"] == "v1"
    assert rows[("a", "v1")]["previous_version"] is None


def test_query_returns_all_versions_no_dedup(vault):
    # main.py:127-129: as-of returns every version <= T, not latest-per-key
    got = [(r["record_id"], r["version"]) for r in vault.query(T_MID).collect()]
    assert sorted(got) == [("a", "v1"), ("a", "v2"), ("c", "v1")]


def test_state_at_latest_per_key(vault):
    got = {r["record_id"]: r["version"] for r in vault.state_at(T_MID).collect()}
    assert got == {"a": "v2", "c": "v1"}


def test_rollback_semantics(vault):
    res = vault.rollback(T_MID)
    assert res["n_affected"] == 2  # b/v1 and a/v3
    assert res["affected_keys"] == ["a", "b"]
    log = vault.log().collect()
    # b born after T -> deleted (main.py:217-224)
    assert not [r for r in log if r["record_id"] == "b"]
    # a's post-T row rewritten to the as-of-T payload AND labels
    # (main.py:200-214: data, version, previous_version all set to target's);
    # its original ts is preserved (documented deviation), so the rewritten
    # row is the one at TS["a3"]
    a_rw = [r for r in log if r["record_id"] == "a" and r["ts"] == TS["a3"]]
    assert len(a_rw) == 1
    assert a_rw[0]["data"] == '{"x": "1", "y": "9"}'
    assert a_rw[0]["version"] == "v2" and a_rw[0]["version_num"] == 2
    assert a_rw[0]["previous_version"] == "v1"
    assert not [r for r in log if r["version"] == "v3"]  # no v3 label survives
    # audit entry recorded (main.py:174-188, 251-267)
    hist = vault.history(5).collect()
    assert len(hist) == 1 and hist[0]["n_affected"] == 2


def test_compare_defaults_to_first_last_occurrence(vault):
    # main.py:280-294 + key-union diff keeping only changed keys (322-326)
    res = vault.compare("a")
    assert res["start_version"] == "v1" and res["end_version"] == "v3"
    assert res["differences"] == {
        "y": {"from": "2", "to": None},
        "z": {"from": None, "to": "5"},
    }


def test_compare_non_json_fallback(vault):
    # main.py:334-343: non-JSON payloads diff as whole values
    res = vault.compare("c")
    assert res["differences"] == {}
    vault.record("c", "changed text", datetime(2026, 1, 5))
    res = vault.compare("c")
    assert res["differences"] == {
        "value": {"from": "not-json plain string", "to": "changed text"}
    }


def test_version_ordering_v10_after_v2(spark, tmp_path):
    # "v10" < "v2" lexically — ordering must use version_num (main.py:79, 82)
    v = TemporalVault(spark, str(tmp_path / "v10"))
    for i in range(11):
        v.record("k", {"n": str(i)}, datetime(2026, 1, 1, 0, 0, i))
    state = v.state_at(datetime(2026, 1, 2)).collect()
    assert state[0]["version"] == "v11"
    assert state[0]["data"] == '{"n": "10"}'


def test_snapshot_aware_state(vault):
    direct = {(r["record_id"], r["version"]) for r in vault.state_at(TS["a3"]).collect()}
    vault.snapshot(T_MID)
    via_snap = {(r["record_id"], r["version"]) for r in vault.state_at(TS["a3"]).collect()}
    assert direct == via_snap
    # snapshot bounded read: tail filter starts after the snapshot ts
    assert vault._nearest_snapshot(TS["a3"])[0] == T_MID


def test_query_cache_hit_and_invalidation(vault):
    vault.query(T_MID)
    vault.query(T_MID)
    assert vault.metrics["query_cache_hit"]["count"] == 1
    vault.record("d", {"q": "1"}, datetime(2026, 1, 4))
    vault.query(T_MID)
    assert vault.metrics["query"]["count"] == 2  # cache invalidated by write


def test_record_bulk_continues_chains(vault, spark):
    batch = spark.createDataFrame(
        [("a", '{"x":"7"}', datetime(2026, 1, 4)), ("new", '{"m":"1"}', datetime(2026, 1, 4))],
        "record_id string, data string, ts timestamp",
    )
    assert vault.record_bulk(batch) == 2
    state = {r["record_id"]: r["version"] for r in vault.state_at(datetime(2026, 1, 5)).collect()}
    assert state["a"] == "v4" and state["new"] == "v1"


def test_parse_time_deterministic():
    now = datetime(2026, 1, 10, 12, 0, 0)
    assert parse_time("yesterday at 4 pm", now) == datetime(2026, 1, 9, 16, 0, 0)
    assert parse_time("2 hours ago", now) == datetime(2026, 1, 10, 10, 0, 0)
    assert parse_time("2026-01-03 05:06:07.999", now) == datetime(2026, 1, 3, 5, 6, 7)
    assert parse_time("now", now) == now


def test_parse_time_parsedatetime_grammar():
    """Table-driven parity with the common parsedatetime forms the reference
    accepts (main.py:110-111). now = Saturday 2026-01-10 12:00:00."""
    now = datetime(2026, 1, 10, 12, 0, 0)
    cases = {
        "today": datetime(2026, 1, 10),
        "tomorrow at 9": datetime(2026, 1, 11, 9, 0),
        "noon": datetime(2026, 1, 10, 12, 0),
        "midnight": datetime(2026, 1, 10, 0, 0),
        "3pm": datetime(2026, 1, 10, 15, 0),
        "3:30 pm": datetime(2026, 1, 10, 15, 30),
        "15:04": datetime(2026, 1, 10, 15, 4),
        "12am": datetime(2026, 1, 10, 0, 0),
        "12pm": datetime(2026, 1, 10, 12, 0),
        "in 3 days": datetime(2026, 1, 13, 12, 0),
        "2 weeks from now": datetime(2026, 1, 24, 12, 0),
        "45 seconds ago": datetime(2026, 1, 10, 11, 59, 15),
        # strictly previous/following occurrence, never today (Sat)
        "last monday": datetime(2026, 1, 5),
        "last saturday": datetime(2026, 1, 3),
        "next saturday": datetime(2026, 1, 17),
        "next friday": datetime(2026, 1, 16),
        "next monday at 3pm": datetime(2026, 1, 12, 15, 0),
        "last week": datetime(2026, 1, 3),
        "next month": datetime(2026, 2, 9),
        "last year": datetime(2025, 1, 10),
        "march 5": datetime(2026, 3, 5),
        "5 march": datetime(2026, 3, 5),
        "Mar 5, 2027": datetime(2027, 3, 5),
        "january 5 at 3pm": datetime(2026, 1, 5, 15, 0),
        "September 1 2026": datetime(2026, 9, 1),
    }
    for text, want in cases.items():
        assert parse_time(text, now) == want, text
    # plain integers are NOT times (fromisoformat rejects them)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        parse_time("5", now)


def test_asof_reads_prune_date_partitions(vault):
    """The dt= partition predicate must reach the scan: an as-of read at T
    touches only partitions <= date(T) (the layout's B-tree role)."""
    from temporalvault_spark.plans import executed_plan

    plan = executed_plan(vault.query(T_MID, cache=False))
    assert "PartitionFilters" in plan
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "dt" in m.group(1), f"no dt partition filter: {m and m.group(1)}"
    # and the pruned read returns the same rows as an unpruned scan would
    got = sorted((r["record_id"], r["version"]) for r in vault.query(T_MID, cache=False).collect())
    assert got == [("a", "v1"), ("a", "v2"), ("c", "v1")]


def test_compact_reduces_files_preserves_rows(vault):
    before_rows = sorted(tuple(r) for r in vault.log().collect())
    stats = vault.compact()
    assert stats["files_after"] < stats["files_before"]
    assert stats["files_after"] <= 3  # one per dt partition (3 distinct days)
    after_rows = sorted(tuple(r) for r in vault.log().collect())
    assert after_rows == before_rows
    # and the vault still works end-to-end after the swap
    assert {r["record_id"] for r in vault.state_at(T_MID).collect()} == {"a", "c"}


def test_rollback_invalidates_post_target_snapshots(spark, tmp_path):
    """A snapshot taken after the rollback target contains rolled-back rows;
    keeping it would resurrect deleted keys via snapshot-aware state_at."""
    v = TemporalVault(spark, str(tmp_path / "snap_rb"))
    v.record("k1", {"a": "1"}, datetime(2026, 1, 1))
    v.record("k2", {"b": "1"}, datetime(2026, 1, 10))  # born after rollback target
    v.snapshot(datetime(2026, 1, 15))  # contains k2
    v.rollback(datetime(2026, 1, 5))
    state = {r["record_id"] for r in v.state_at(datetime(2026, 1, 20)).collect()}
    assert state == {"k1"}  # k2 must NOT be resurrected
    # pre-target snapshots survive (still exact)
    v2 = TemporalVault(spark, str(tmp_path / "snap_keep"))
    v2.record("k1", {"a": "1"}, datetime(2026, 1, 1))
    v2.snapshot(datetime(2026, 1, 2))
    v2.record("k1", {"a": "2"}, datetime(2026, 1, 10))
    v2.rollback(datetime(2026, 1, 5))
    assert v2._nearest_snapshot(datetime(2026, 1, 20))[0] == datetime(2026, 1, 2)


def test_compact_empty_vault_is_noop(spark, tmp_path):
    v = TemporalVault(spark, str(tmp_path / "empty"))
    assert v.compact() == {"files_before": 0, "files_after": 0}


def test_record_bulk_ids_unique_across_batches(vault, spark):
    for day in (10, 11):
        batch = spark.createDataFrame(
            [("x", '{"v":"1"}', datetime(2026, 1, day)), ("y", '{"v":"2"}', datetime(2026, 1, day))],
            "record_id string, data string, ts timestamp",
        )
        vault.record_bulk(batch)
    ids = [r["id"] for r in vault.log().collect()]
    assert len(ids) == len(set(ids))  # no collisions across batches


def test_record_lookup_uses_snapshot_tail_not_full_scan(vault, spark):
    """Single-record writes must build their version map from the newest
    snapshot + the partition-pruned log tail, never a full-log scan (the
    100 TB write-path fix): after a snapshot at T, every read of the log in
    the map's source prunes dt= partitions below date(T), and version
    assignment stays correct."""
    import re

    from temporalvault_spark.plans import executed_plan

    vault.snapshot(TS["a3"])  # holds a=v3, b=v1, c=v1
    # a vault opened on the root starts cold and builds its map from the
    # pruned tail: only dt >= 2026-01-03 survives in every log scan
    v2 = TemporalVault(spark, vault.root)
    plan = executed_plan(v2._version_source())
    prunes = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    log_scans = [p for p in prunes if "dt" in p]
    assert log_scans and all(">=" in p for p in log_scans), prunes
    assert len(prunes) == 2, prunes  # the snapshot and the pruned tail, nothing else

    # correctness: next version continues each chain through the snapshot path
    latest = v2._latest_versions()
    assert latest == {"a": 3, "b": 1, "c": 1}
    assert latest.get("nope", 0) == 0
    r = v2.record("a", {"x": "7"}, datetime(2026, 1, 4))
    assert (r["version"], r["previous_version"]) == ("v4", "v3")
    # a write at-or-before the snapshot invalidates it; lookup still correct
    r2 = v2.record("b", {"k": "2"}, TS["b1"])
    assert (r2["version"], r2["previous_version"]) == ("v2", "v1")
    assert v2._latest_versions()["a"] == 4


def _jobs_run(spark, fn):
    """(result of fn(), number of Spark jobs it ran), counted with the
    status tracker under a job group of its own."""
    import uuid

    sc = spark.sparkContext
    group = f"tv-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count probe")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_record_on_warm_vault_runs_no_spark_job(vault, spark):
    # the probe does count jobs: a log read under it runs some
    assert _jobs_run(spark, lambda: vault.log().count())[1] > 0
    row, jobs = _jobs_run(spark, lambda: vault.record("a", {"x": "8"}, datetime(2026, 1, 4)))
    assert jobs == 0
    assert (row["version"], row["previous_version"]) == ("v4", "v3")
    got = {(r["record_id"], r["version"]) for r in vault.state_at(datetime(2026, 1, 5)).collect()}
    assert ("a", "v4") in got


def test_two_instances_alternating_writes_never_duplicate_versions(spark, tmp_path):
    """Two vaults on one root, used in turn: each write sees the other's
    generation token and rebuilds its map, so the chain is v1..vN."""
    root = str(tmp_path / "two_writers")
    a, b = TemporalVault(spark, root), TemporalVault(spark, root)
    got = []
    for i in range(6):
        got.append((a if i % 2 == 0 else b).record("k", {"i": i}, datetime(2026, 1, 1, 0, 0, i))["version"])
    batch = spark.createDataFrame(
        [("k", '{"i": 6}', datetime(2026, 1, 1, 0, 0, 6))],
        "record_id string, data string, ts timestamp",
    )
    b.record_bulk(batch)  # b's map is still current: nothing wrote since
    got.append(a.record("k", {"i": 7}, datetime(2026, 1, 1, 0, 0, 7))["version"])
    assert got == ["v1", "v2", "v3", "v4", "v5", "v6", "v8"]
    nums = sorted(r["version_num"] for r in a.log().collect())
    assert nums == list(range(1, 9))


def test_crash_after_generation_bump_makes_next_writer_rebuild(spark, tmp_path, monkeypatch):
    """A writer that dies after rewriting _generation but before its file
    lands leaves a token no live instance has seen: the next write of every
    instance rebuilds its map instead of trusting it."""
    import temporalvault_spark.vault as vault_mod

    root = str(tmp_path / "crashed_writer")
    a = TemporalVault(spark, root)
    a.record("k", {"i": 1}, datetime(2026, 1, 1))
    b = TemporalVault(spark, root)

    def crash(directory, table):
        raise OSError("process died before the file landed")

    monkeypatch.setattr(vault_mod, "_write_parquet", crash)
    with pytest.raises(OSError):
        b.record("k", {"i": 2}, datetime(2026, 1, 2))
    monkeypatch.undo()

    row, jobs = _jobs_run(spark, lambda: a.record("k", {"i": 3}, datetime(2026, 1, 3)))
    assert jobs > 0  # rebuilt: the token moved under a's map
    assert row["version"] == "v2"
    assert b.record("k", {"i": 4}, datetime(2026, 1, 4))["version"] == "v3"
    assert sorted(r["version_num"] for r in a.log().collect()) == [1, 2, 3]


@pytest.mark.parametrize(
    "session_tz, ts",
    [
        ("UTC", datetime(2026, 1, 2, 23, 30, 5)),
        ("UTC", datetime(2026, 1, 2, 23, 30, 5, tzinfo=timezone(timedelta(hours=-5)))),
        ("Asia/Kolkata", datetime(2026, 1, 2, 20, 0, 0)),
        ("-08:00", datetime(2026, 1, 3, 3, 0, 0, tzinfo=timezone(timedelta(hours=2)))),
    ],
)
def test_direct_row_reads_back_like_a_spark_write(spark, tmp_path, session_tz, ts):
    """A row record() writes with pyarrow reads back with the same ts and
    lands in the same dt= directory as the Spark write of that row would
    (spark.createDataFrame + _append's date_format in the session zone)."""
    import os
    from zoneinfo import ZoneInfo

    from pyspark.sql import types as T

    from temporalvault_spark.vault import RECORD_SCHEMA

    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", session_tz)
    try:
        v = TemporalVault(spark, str(tmp_path / "direct"))
        spark.conf.set("spark.sql.session.timeZone", session_tz)  # tune() reset it
        row = v.record("k", {"x": 1}, ts)
        want = (
            spark.createDataFrame([row], RECORD_SCHEMA)
            .select(F.unix_micros("ts"), F.date_format("ts", "yyyy-MM-dd"))
            .first()
        )
        us = T.TimestampType().toInternal(row["ts"])
        zone = timezone(timedelta(hours=-8)) if session_tz == "-08:00" else ZoneInfo(session_tz)
        dt = datetime.fromtimestamp(us // 1_000_000, zone).strftime("%Y-%m-%d")
        assert tuple(want) == (us, dt)
        got = (
            spark.read.schema(T.StructType(RECORD_SCHEMA.fields + [T.StructField("dt", T.StringType())]))
            .parquet(v.records_path)
            .select(F.unix_micros("ts"), "dt", "version_num", "id")
            .collect()
        )
        assert [tuple(r) for r in got] == [(us, dt, 1, row["id"])]
        assert os.listdir(v.records_path) == [f"dt={dt}"]
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_history_reads_audit_rows_of_both_writers(vault, spark):
    """history() reads the audit row rollback writes directly with pyarrow,
    next to one stored by the Spark writer rollback used before."""
    import json
    import os

    spark.createDataFrame(
        [{
            "ts": datetime(2026, 2, 1),
            "rollback_to": datetime(2026, 1, 1),
            "n_affected": 7,
            "rollback_data": json.dumps({"record_ids": ["z"]}),
        }]
    ).write.mode("append").parquet(vault.rollback_log_path)
    vault.rollback(T_MID)
    direct = [
        f for f in os.listdir(vault.rollback_log_path)
        if f.startswith("part-") and f.endswith(".parquet") and "c000" not in f
    ]
    assert len(direct) == 1
    hist = vault.history(5).collect()
    assert len(hist) == 2
    new, old = hist  # newest first: the rollback just ran
    assert new["rollback_to"] == T_MID and new["n_affected"] == 2
    assert json.loads(new["rollback_data"]) == {"record_ids": ["a", "b"]}
    assert (old["ts"], old["rollback_to"], old["n_affected"]) == (
        datetime(2026, 2, 1), datetime(2026, 1, 1), 7)


def test_state_at_snapshot_tail_is_partition_pruned(vault):
    """Snapshot-aware state_at must read only dt >= date(snap) log dirs."""
    import re

    from temporalvault_spark.plans import executed_plan

    vault.snapshot(TS["a2"])
    plan = executed_plan(vault.state_at(TS["a3"]))
    prunes = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    # exactly one parquet scan of the records log; it carries BOTH bounds
    log_scans = [p for p in prunes if "dt" in p]
    assert log_scans and any(">=" in p and "<=" in p for p in log_scans), prunes
    got = {r["record_id"]: r["version"] for r in vault.state_at(TS["a3"]).collect()}
    assert got == {"a": "v3", "b": "v1", "c": "v1"}


def test_swap_crash_recovery(vault, spark):
    """The two-rename directory swap must self-heal at vault open for every
    crash window: (a) crash between the renames with the tmp write complete
    -> promote tmp; (b) same but tmp incomplete -> restore old; (c) orphaned
    tmp next to a live records/ -> removed."""
    import os
    import shutil

    root = vault.root
    rows_before = sorted(
        (r["record_id"], r["version"]) for r in vault.log().collect()
    )

    # (c) orphaned tmp beside a live records dir
    os.makedirs(f"{root}/.records_tmp_orphan/dt=2026-01-01", exist_ok=True)
    v2 = TemporalVault(spark, root)
    assert not os.path.isdir(f"{root}/.records_tmp_orphan")
    assert sorted((r["record_id"], r["version"]) for r in v2.log().collect()) == rows_before

    # (a) crash between renames, tmp complete (_SUCCESS present)
    shutil.copytree(f"{root}/records", f"{root}/.records_tmp_done")
    open(f"{root}/.records_tmp_done/_SUCCESS", "a").close()
    os.rename(f"{root}/records", f"{root}/.records_old_x")
    v3 = TemporalVault(spark, root)
    assert os.path.isdir(f"{root}/records")
    assert not os.path.isdir(f"{root}/.records_old_x")
    assert sorted((r["record_id"], r["version"]) for r in v3.log().collect()) == rows_before

    # (b) crash between renames, tmp incomplete (no _SUCCESS) -> restore old
    shutil.copytree(f"{root}/records", f"{root}/.records_tmp_part")
    if os.path.exists(f"{root}/.records_tmp_part/_SUCCESS"):
        os.remove(f"{root}/.records_tmp_part/_SUCCESS")
    os.rename(f"{root}/records", f"{root}/.records_old_y")
    v4 = TemporalVault(spark, root)
    assert os.path.isdir(f"{root}/records")
    assert not os.path.isdir(f"{root}/.records_tmp_part")
    assert not os.path.isdir(f"{root}/.records_old_y")
    assert sorted((r["record_id"], r["version"]) for r in v4.log().collect()) == rows_before


def test_expire_preserves_asof_at_and_after_cutoff(vault):
    """Retention truncation: expire(cutoff) must leave state_at(T) for every
    T >= cutoff bit-identical (per-key baselines survive), shrink the log,
    and refuse as-of reads below the new floor."""
    cutoff = datetime(2026, 1, 2, 6, 0, 0)  # after a1/c1/a2, before b1/a3
    want_mid = {r["record_id"]: r["version"] for r in vault.state_at(cutoff).collect()}
    want_end = {r["record_id"]: r["version"] for r in vault.state_at(TS["a3"]).collect()}
    n_before = vault.log().count()

    audit = vault.expire(cutoff)
    assert audit["n_expired"] == 1  # only a/v1 is non-baseline pre-cutoff
    assert audit["n_kept"] == n_before - 1

    got_mid = {r["record_id"]: r["version"] for r in vault.state_at(cutoff).collect()}
    got_end = {r["record_id"]: r["version"] for r in vault.state_at(TS["a3"]).collect()}
    assert got_mid == want_mid and got_end == want_end
    assert vault.retention_floor() == cutoff
    with pytest.raises(ValueError, match="retention floor"):
        vault.state_at(TS["a1"])
    with pytest.raises(ValueError, match="retention floor"):
        vault.query(TS["a1"])


def test_expire_then_record_and_snapshot_reads_stay_correct(vault):
    """Post-expire writes append normally, and snapshot-accelerated reads
    above the floor still merge baseline + tail correctly."""
    cutoff = datetime(2026, 1, 2, 6, 0, 0)
    vault.expire(cutoff)
    vault.record("a", {"x": "new"}, datetime(2026, 1, 4, 0, 0, 0))
    vault.snapshot(datetime(2026, 1, 3, 12, 0, 0))  # between a3 and the new a4
    got = {
        r["record_id"]: r["version"]
        for r in vault.state_at(datetime(2026, 1, 5)).collect()
    }
    assert got == {"a": "v4", "b": "v1", "c": "v1"}  # chain continued from v3


def test_expire_crash_before_swap_is_safe(vault):
    """The expire floor marker lands BEFORE the directory swap: simulate a
    crash after the marker write but before the swap (history intact, floor
    set) — sub-cutoff reads must be refused (conservative) while reads at or
    above the cutoff still see the full, untruncated history."""
    cutoff = datetime(2026, 1, 2, 6, 0, 0)
    want_end = {r["record_id"]: r["version"] for r in vault.state_at(TS["a3"]).collect()}
    with open(f"{vault.root}/_retention", "w") as f:  # crash left marker only
        f.write(cutoff.isoformat())
    with pytest.raises(ValueError, match="retention floor"):
        vault.state_at(TS["a1"])
    got_end = {r["record_id"]: r["version"] for r in vault.state_at(TS["a3"]).collect()}
    assert got_end == want_end
    assert vault.log().count() == 5  # untruncated — the expire never ran
    # a later expire at the same cutoff completes the truncation normally
    audit = vault.expire(cutoff)
    assert audit["n_expired"] == 1 and vault.log().count() == 4


def test_floor_guards_compare_and_rollback(vault):
    """compare() with explicit bounds below the floor and rollback() below
    the floor are refused — and the refused rollback leaves NO phantom
    audit row (the floor check runs before the audit append); compare's
    first/last-occurrence defaults keep working (the baseline row is exact
    at its own timestamp)."""
    cutoff = datetime(2026, 1, 2, 6, 0, 0)
    vault.expire(cutoff)
    with pytest.raises(ValueError, match="retention floor"):
        vault.compare("a", start=TS["a1"])
    n_hist = vault.history(100).count()
    with pytest.raises(ValueError, match="retention floor"):
        vault.rollback(TS["a1"])
    assert vault.history(100).count() == n_hist  # no phantom audit entry
    diff = vault.compare("a")  # defaults: baseline -> latest, still exact
    assert isinstance(diff, dict) and diff  # runs clean, returns a real diff


def _rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_tz_aware_times_act_like_their_naive_local_instant(spark, tmp_path):
    """record(ts=aware) beside a snapshot, state_at(aware) and expire(aware)
    followed by reads give what the same calls with the naive local time of
    the same instant give."""
    east = timezone(timedelta(hours=5))

    def naive(t):
        return datetime.fromtimestamp(t.timestamp())

    rec_ts = T_MID.astimezone(east)  # the snapshot's instant: drops it
    probe = datetime(2026, 1, 2, 12, 0, 0).astimezone(east)
    cutoff = datetime(2026, 1, 2, 6, 0, 0).astimezone(east)
    vaults = {}
    for kind, conv in (("aware", lambda t: t), ("naive", naive)):
        v = _fixture_vault(spark, str(tmp_path / kind))
        v.snapshot(T_MID)
        row = v.record("a", {"x": "tz"}, conv(rec_ts))
        out = {
            "row": (row["version"], row["ts"]),
            "snapshots": [t for t, _ in v._snapshots()],
            "state": _rows(v.state_at(conv(probe)), "record_id", "version", "data"),
        }
        v.expire(conv(cutoff))
        out["floor"] = v.retention_floor()
        out["log"] = _rows(v.log(), "record_id", "version", "data", "ts")
        out["query"] = _rows(v.query(conv(probe)), "record_id", "version", "data", "ts")
        out["compare"] = v.compare("a", conv(cutoff), conv(probe))
        vaults[kind] = out
    assert vaults["aware"] == vaults["naive"]
    assert vaults["naive"]["row"] == ("v4", naive(rec_ts))
    assert vaults["naive"]["snapshots"] == []


def test_snapshot_boundaries(vault):
    """rollback(T) keeps a snapshot stamped exactly T (it holds no
    rolled-back row) and drops one stamped T + 1 s; a write stamped T drops
    a snapshot stamped T, a write stamped T + 1 s keeps it."""
    one = timedelta(seconds=1)
    vault.snapshot(T_MID)
    vault.snapshot(T_MID + one)
    vault.rollback(T_MID)
    assert [t for t, _ in vault._snapshots()] == [T_MID]
    vault.record("c", {"late": "1"}, T_MID + one)
    assert [t for t, _ in vault._snapshots()] == [T_MID]
    vault.record("c", {"at": "1"}, T_MID)
    assert vault._snapshots() == []


_SWAP_OPS = {
    "rollback": lambda v: v.rollback(T_MID),
    "compact": lambda v: v.compact(),
    "expire": lambda v: v.expire(datetime(2026, 1, 2, 6, 0, 0)),
}


@pytest.mark.parametrize("step", ["link", "tmp_write", "rename_out", "rename_in", "rmtree_old"])
@pytest.mark.parametrize("op", sorted(_SWAP_OPS))
def test_crash_at_each_swap_step_reopens_to_before_or_after(
    spark, tmp_path, monkeypatch, op, step
):
    """A crash at each step of the log rewrite's swap — halfway through
    hard-linking the untouched partitions into the tmp, the tmp write (no
    _SUCCESS), records -> old, tmp -> records, removal of the old log —
    leaves a vault that reopens to exactly the state before the op (crash
    before the swap's point of no return) or after it, and whose next
    record() mints the next version of that state. The snapshot after the
    rollback target must not survive a rollback that crashed late, and a
    rollback's audit row shows in history() exactly when its swap took
    effect."""
    import os
    import shutil

    root = str(tmp_path / "crash")
    v = _fixture_vault(spark, root)
    v.snapshot(TS["a3"])
    shutil.copytree(root, str(tmp_path / "clean"))
    probes = (TS["b1"], datetime(2026, 1, 4))

    def state(vault):
        log = _rows(vault.log(), "record_id", "version_num", "data", "ts")
        asof = [_rows(vault.state_at(p), "record_id", "version", "data") for p in probes]
        return log, asof

    before = state(v)
    real_append, real_rename, real_rmtree, real_link = (
        TemporalVault._append, os.rename, shutil.rmtree, os.link)

    def crash():
        raise OSError(f"injected crash at {step}")

    links, crash_at_link = [], None  # the clean run only counts its links

    def link(src, dst):
        if len(links) == crash_at_link:
            crash()
        links.append(dst)
        real_link(src, dst)

    clean = TemporalVault(spark, str(tmp_path / "clean"))
    monkeypatch.setattr(os, "link", link)
    _SWAP_OPS[op](clean)
    monkeypatch.undo()
    after = state(clean)
    assert links  # every op here leaves a partition to link
    if step == "link":
        crash_at_link = len(links) // 2
    links = []

    def append(self, df, path=None):
        real_append(self, df, path)
        if step == "tmp_write" and path and ".records_tmp_" in path:
            os.remove(f"{path}/_SUCCESS")  # the job never committed
            crash()

    def rename(src, dst):
        if (step == "rename_out" and src == v.records_path) or (
            step == "rename_in" and ".records_tmp_" in src
        ):
            crash()
        real_rename(src, dst)

    def rmtree(path, *args, **kwargs):
        if step == "rmtree_old" and ".records_old_" in str(path):
            crash()
        real_rmtree(path, *args, **kwargs)

    monkeypatch.setattr(TemporalVault, "_append", append)
    monkeypatch.setattr(os, "rename", rename)
    monkeypatch.setattr(shutil, "rmtree", rmtree)
    monkeypatch.setattr(os, "link", link)
    with pytest.raises(OSError, match="injected crash"):
        _SWAP_OPS[op](v)
    monkeypatch.undo()
    if step == "link":
        assert len(links) == crash_at_link

    reopened = TemporalVault(spark, root)
    assert not [n for n in os.listdir(root) if n.startswith((".records_tmp_", ".records_old_"))]
    got = state(reopened)
    took_effect = step in ("rename_in", "rmtree_old")
    assert got == (after if took_effect else before)
    assert reopened.history().count() == (1 if op == "rollback" and took_effect else 0)
    next_a = 1 + max(n for key, n, _, _ in got[0] if key == "a")
    assert reopened.record("a", {"x": "next"}, datetime(2026, 1, 5))["version"] == f"v{next_a}"


def _inodes(vault) -> dict[str, set[int]]:
    """dt -> the inode numbers of the partition's data files."""
    import os

    return {dt: {os.stat(f).st_ino for f in files} for dt, files in vault._partitions().items()}


@pytest.mark.parametrize("op", sorted(_SWAP_OPS))
def test_rewrites_keep_the_files_outside_their_scope(vault, op):
    """rollback(T) rewrites only dt >= date(T), expire(cutoff) only
    dt <= date(cutoff) and compact only the partitions holding several
    files; every other partition keeps the very same files (hard links)."""
    before = _inodes(vault)
    scope = {
        "rollback": {dt for dt in before if dt >= vault._dt_of(T_MID)},
        "expire": {dt for dt in before if dt <= vault._dt_of(datetime(2026, 1, 2, 6, 0, 0))},
        "compact": {dt for dt, files in vault._partitions().items() if len(files) > 1},
    }[op]
    assert scope and scope != set(before)  # the fixture leaves both kinds
    _SWAP_OPS[op](vault)
    after = _inodes(vault)
    for dt in before:
        if dt in scope:
            assert before[dt].isdisjoint(after.get(dt, set())), dt
        else:
            assert after[dt] == before[dt], dt


def test_rollback_with_nothing_after_target_leaves_the_log_alone(vault):
    before = _inodes(vault)
    out = vault.rollback(TS["a3"])
    assert (out["n_affected"], out["affected_keys"]) == (0, [])
    assert _inodes(vault) == before
    (row,) = vault.history().collect()
    assert (row["rollback_to"], row["n_affected"]) == (TS["a3"], 0)


def test_compact_on_a_compact_vault_runs_no_spark_job(vault, spark):
    first, jobs = _jobs_run(spark, vault.compact)
    assert jobs > 0 and first["files_after"] < first["files_before"]  # the probe counts
    again, jobs = _jobs_run(spark, vault.compact)
    assert jobs == 0
    assert again == {"files_before": first["files_after"], "files_after": first["files_after"]}


def _unsorted_files(vault) -> list[str]:
    """The log's data files whose rows are not in (record_id, version_num)
    order."""
    import pyarrow.parquet as pq

    out = []
    for files in vault._partitions().values():
        for f in files:
            t = pq.read_table(f, columns=["record_id", "version_num"])
            rows = list(zip(t.column("record_id").to_pylist(), t.column("version_num").to_pylist()))
            if rows != sorted(rows):
                out.append(f)
    return out


def test_every_log_file_is_sorted_by_key_and_version(vault, spark):
    batch = spark.createDataFrame(
        [(k, f'{{"i": {i}}}', datetime(2026, 1, 3, 12, 0, i)) for i, k in enumerate("zbazcbza")],
        "record_id string, data string, ts timestamp",
    )
    vault.record_bulk(batch)
    assert not _unsorted_files(vault)
    vault.rollback(datetime(2026, 1, 3, 12, 0, 4))
    assert not _unsorted_files(vault)
    for key in "zca":
        vault.record(key, {"late": key}, datetime(2026, 1, 3, 18))
    vault.compact()
    assert not _unsorted_files(vault)
    assert all(len(files) == 1 for files in vault._partitions().values())


@contextlib.contextmanager
def _process_tz(zone):
    """Run the block with the process-local zone (``TZ``) set to ``zone``;
    the session zone that names the dt= partitions stays UTC."""
    prev = os.environ.get("TZ")
    os.environ["TZ"] = zone
    time.tzset()
    try:
        yield
    finally:
        if prev is None:
            os.environ.pop("TZ")
        else:
            os.environ["TZ"] = prev
        time.tzset()


_ZONE_CASES = [
    # process zone ahead of the session zone: v2 lands in the dt= of the
    # day before its local date, below the snapshot tail's local date
    ("Asia/Kolkata", datetime(2026, 1, 2, 1), datetime(2026, 1, 2, 2), datetime(2026, 1, 3)),
    # process zone behind: v2 lands in the dt= of the day after its
    # local date, above the as-of bound's local date
    ("America/New_York", datetime(2026, 1, 1, 13), datetime(2026, 1, 1, 20), datetime(2026, 1, 1, 21)),
]


@pytest.mark.parametrize("process_tz, snap, w2, probe", _ZONE_CASES)
def test_asof_reads_prune_by_session_zone_date(spark, tmp_path, process_tz, snap, w2, probe):
    """dt= directories are named by the session-zone date (UTC), naive times
    are in the process zone; the as-of and snapshot-tail bounds must prune
    by the former, or a row near midnight is dropped and an older version
    is returned."""
    with _process_tz(process_tz):
        v = TemporalVault(spark, str(tmp_path / "zones"))
        v.record("k", {"v": 1}, datetime(2026, 1, 1, 12))
        v.snapshot(snap)
        v.record("k", {"v": 2}, w2)
        assert _rows(v.state_at(probe), "record_id", "version") == [("k", "v2")]
        assert _rows(v.query(probe), "version") == [("v1",), ("v2",)]
        v.rollback(w2 - timedelta(seconds=1))
        assert _rows(v.log(), "version", "data") == [("v1", '{"v": 1}'), ("v1", '{"v": 1}')]


_BATCH_SCHEMA = "record_id string, data string, ts timestamp"


@pytest.mark.parametrize("process_tz", [case[0] for case in _ZONE_CASES])
def test_record_bulk_drops_the_snapshots_from_its_earliest_row(spark, tmp_path, process_tz):
    """record_bulk reads its earliest ts back from the staged files as a UTC
    instant, while snapshot names are naive local times: exactly the
    snapshots at or after the batch's earliest row go, with the process
    zone ahead of UTC or behind it."""
    one = timedelta(seconds=1)
    with _process_tz(process_tz):
        v = TemporalVault(spark, str(tmp_path / "zones"))
        v.record("k", {"v": 1}, datetime(2026, 1, 1, 12))
        first = datetime(2026, 1, 1, 20)
        for snap in (first - one, first, first + one):
            v.snapshot(snap)
        batch = spark.createDataFrame(
            [("k", '{"v": 2}', first + timedelta(hours=2)), ("j", '{"v": 1}', first)], _BATCH_SCHEMA
        )
        assert v.record_bulk(batch) == 2
        assert [t for t, _ in v._snapshots()] == [first - one]
        got = _rows(v.state_at(first + timedelta(hours=3)), "record_id", "version")
        assert got == [("j", "v1"), ("k", "v2")]


def _stages(root) -> list[str]:
    return [n for n in os.listdir(root) if n.startswith((".bulk_stage_", ".ingest_stage_"))]


def test_record_bulk_of_an_empty_batch_changes_nothing(vault, spark):
    vault.snapshot(T_MID)

    def state():
        log = _rows(vault.log(), "record_id", "version_num", "data", "ts")
        return log, vault._snapshots(), dict(vault._latest_versions())

    before = state()
    assert vault.record_bulk(spark.createDataFrame([], _BATCH_SCHEMA)) == 0
    assert state() == before
    assert not _stages(vault.root)


_BULK_STEPS = ["stage_write", "rename_first", "rename_middle", "promoted", "undo_half"]


class _Crash(BaseException):
    """An injected kill: a ``BaseException``, so none of the vault's error
    handlers (``except OSError``) runs, as none would in a killed process."""


@pytest.mark.parametrize("step", _BULK_STEPS)
@pytest.mark.parametrize("tagged", [False, True], ids=["untagged", "tagged"])
def test_crash_at_each_bulk_append_step_reopens_to_before_or_after(
    spark, tmp_path, monkeypatch, tagged, step
):
    """A crash at each step of a bulk append — after the stage write, after
    the first and after a middle per-file rename of ``_promote_stage``,
    after the promotion (an untagged append's stage removal, or a tagged
    ingest's ``finish_ingest`` once its commit marker is written), and
    halfway through undoing an append that crashed after its promotion —
    leaves a vault that reopens to the state before the append, or after it
    for a tagged ingest whose marker was written. A tagged ingest is
    resolved by ``ingest_into_vault``'s rule: abort without a marker, finish
    with one. No stage is left, and the next record() mints the next
    version of the reopened state."""
    import shutil

    root = str(tmp_path / "bulk")
    v = _fixture_vault(spark, root)
    v.snapshot(TS["a3"])
    shutil.copytree(root, str(tmp_path / "clean"))
    probes = (TS["b1"], datetime(2026, 1, 6))
    # five dates, so the stage holds five files to promote one by one
    batch = spark.createDataFrame(
        [(k, f'{{"x": "bulk{d}"}}', datetime(2026, 1, d, 12)) for d, k in enumerate("adabd", start=1)],
        _BATCH_SCHEMA,
    )
    marker = []  # the ingest caller's durable commit marker

    def append(vault):
        if not tagged:
            vault.record_bulk(batch)
            return
        vault.record_bulk(batch, stage_tag="b1")
        if step == "undo_half":
            crash()  # died before the commit marker
        marker.append("b1")
        vault.finish_ingest("b1")

    def reopen():
        reopened = TemporalVault(spark, root)
        for tag in reopened.pending_ingest_tags():
            if tag in marker:
                reopened.finish_ingest(tag)
            else:
                reopened.abort_ingest(tag)
        return reopened

    def state(vault):
        log = _rows(vault.log(), "record_id", "version_num", "data", "ts")
        asof = [_rows(vault.state_at(p), "record_id", "version", "data") for p in probes]
        return log, asof

    def crash():
        raise _Crash(step)

    before = state(v)
    real_append, real_rename, real_rmtree, real_remove = (
        TemporalVault._append, os.rename, shutil.rmtree, os.remove)
    renames, crash_after_renames = [], None  # the clean run only counts

    def rename(src, dst):
        real_rename(src, dst)
        if "_stage_" in src:
            renames.append(dst)
            if len(renames) == crash_after_renames:
                crash()

    clean = TemporalVault(spark, str(tmp_path / "clean"))
    monkeypatch.setattr(os, "rename", rename)
    clean.record_bulk(batch)  # either kind of append, run to the end
    monkeypatch.undo()
    after = state(clean)
    assert len(renames) == 5
    crash_after_renames = {"rename_first": 1, "rename_middle": 3}.get(step)
    renames = []

    def staged_append(self, df, path=None):
        real_append(self, df, path)
        if step == "stage_write" and "_stage_" in str(path):
            crash()

    def rmtree(path, *args, **kwargs):
        if step in ("promoted", "undo_half") and "_stage_" in str(path):
            crash()
        real_rmtree(path, *args, **kwargs)

    monkeypatch.setattr(TemporalVault, "_append", staged_append)
    monkeypatch.setattr(os, "rename", rename)
    monkeypatch.setattr(shutil, "rmtree", rmtree)
    with pytest.raises(_Crash):
        append(v)
    monkeypatch.undo()
    assert _stages(root)  # the crash left the stage behind

    if step == "undo_half":
        removed = []

        def remove(path):
            if os.path.basename(path).startswith("ingest-"):
                if len(removed) == 2:
                    crash()
                removed.append(path)
            real_remove(path)

        monkeypatch.setattr(os, "remove", remove)
        with pytest.raises(_Crash):
            reopen()
        monkeypatch.undo()
        assert len(removed) == 2

    reopened = reopen()
    assert not _stages(root)
    got = state(reopened)
    assert got == (after if tagged and step == "promoted" else before)
    next_a = 1 + max(n for key, n, _, _ in got[0] if key == "a")
    assert reopened.record("a", {"x": "next"}, datetime(2026, 1, 7))["version"] == f"v{next_a}"


@pytest.mark.parametrize("tagged", [False, True], ids=["untagged", "tagged"])
def test_a_bulk_append_whose_promotion_fails_undoes_itself(spark, tmp_path, monkeypatch, tagged):
    """An error raised while the staged files are promoted undoes the append
    before the caller sees it: the log is as before, no stage is left for a
    later open to undo under newer writes, and the next record() continues
    the chain without a gap, also after a reopen."""
    v = _fixture_vault(spark, str(tmp_path / "bulk"))
    before = _rows(v.log(), "record_id", "version_num", "data", "ts")
    batch = spark.createDataFrame(
        [(k, f'{{"x": "bulk{d}"}}', datetime(2026, 1, d, 12)) for d, k in enumerate("adabd", start=1)],
        _BATCH_SCHEMA,
    )
    real_rename, promoted = os.rename, []

    def rename(src, dst):
        if "_stage_" in src:
            if len(promoted) == 2:
                raise OSError("disk error")
            promoted.append(dst)
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", rename)
    with pytest.raises(OSError, match="disk error"):
        v.record_bulk(batch, stage_tag="b1" if tagged else None)
    monkeypatch.undo()
    assert len(promoted) == 2
    assert _rows(v.log(), "record_id", "version_num", "data", "ts") == before
    assert not _stages(v.root)
    next_a = 1 + max(n for key, n, _, _ in before if key == "a")
    assert v.record("a", {"x": "next"}, datetime(2026, 1, 7))["version"] == f"v{next_a}"
    after = _rows(v.log(), "record_id", "version_num", "data", "ts")
    assert _rows(TemporalVault(spark, v.root).log(), "record_id", "version_num", "data", "ts") == after
