"""Model-based property test: random sequences of record, record_bulk,
rollback, snapshot, expire and compact executed both by TemporalVault (Spark,
parquet, real writes) and by a small pure-Python model of the reference's
semantics (append-only versions, rollback = rewrite post-T data + drop
born-after-T keys). Any divergence in the full log, any as-of state or the
vault's version map after any op is a bug in one of them."""

import json
from datetime import datetime, timedelta

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from temporalvault_spark.vault import TemporalVault

BASE = datetime(2026, 3, 1)
TS_GRID = [BASE + timedelta(hours=6 * i) for i in range(8)]
KEYS = ["k1", "k2", "k3"]


class PyModel:
    """The reference's semantics in plain Python (cites: record main.py:68-100,
    rollback main.py:154-248)."""

    def __init__(self):
        self.rows = []  # (key, version_num, data_json, ts)

    def latest(self):
        """key -> max version_num (what the vault's version map must hold)."""
        out = {}
        for key, vnum, _data, _ts in self.rows:
            out[key] = max(vnum, out.get(key, 0))
        return out

    def record(self, key, data, ts):
        vnum = self.latest().get(key, 0) + 1
        self.rows.append((key, vnum, json.dumps(data), ts))

    def record_bulk(self, batch):
        """batch: [(key, data_json, ts)]. Each key's rows continue its chain
        in (ts, data) order."""
        base = self.latest()
        by_key = {}
        for key, data, ts in batch:
            by_key.setdefault(key, []).append((ts, data))
        for key, items in by_key.items():
            for off, (ts, data) in enumerate(sorted(items), start=1):
                self.rows.append((key, base.get(key, 0) + off, data, ts))

    def state_at(self, ts):
        out = {}
        for key, vnum, data, rts in self.rows:
            if rts <= ts and (key not in out or vnum > out[key][0]):
                out[key] = (vnum, data)
        return out

    def rollback(self, ts):
        state = self.state_at(ts)
        new_rows = []
        for key, vnum, data, rts in self.rows:
            if rts <= ts:
                new_rows.append((key, vnum, data, rts))
            elif key in state:  # rewritten to as-of payload AND labels
                new_rows.append((key, state[key][0], state[key][1], rts))
            # else: born after ts -> dropped
        self.rows = new_rows

    def expire(self, cutoff):
        """Retention: pre-cutoff rows collapse to ONE baseline per key (the
        max (version_num, ts) row — vault.expire's window order)."""
        pre = [r for r in self.rows if r[3] < cutoff]
        post = [r for r in self.rows if r[3] >= cutoff]
        baselines = {}
        for key, vnum, data, rts in pre:
            cur = baselines.get(key)
            if cur is None or (vnum, rts) > (cur[1], cur[3]):
                baselines[key] = (key, vnum, data, rts)
        self.rows = post + list(baselines.values())


ops_strategy = st.lists(
    st.one_of(
        st.tuples(
            st.just("record"),
            st.sampled_from(KEYS),
            st.sampled_from(["a", "b", "c"]),
            st.sampled_from(range(len(TS_GRID))),
        ),
        st.tuples(
            st.just("record_bulk"),
            # small batches over old and new keys; repeats of a key in one
            # batch exercise the in-batch chain order
            st.lists(
                st.tuples(
                    st.sampled_from(KEYS + ["k4"]),
                    st.sampled_from(["a", "b", "c"]),
                    st.sampled_from(range(len(TS_GRID))),
                ),
                min_size=1,
                max_size=4,
            ),
        ),
        st.tuples(st.just("compact")),
        st.tuples(st.just("rollback"), st.sampled_from(range(len(TS_GRID)))),
        st.tuples(st.just("snapshot"), st.sampled_from(range(len(TS_GRID)))),
        st.tuples(st.just("expire"), st.sampled_from(range(len(TS_GRID)))),
    ),
    min_size=3,
    max_size=8,
)


@settings(
    max_examples=10,  # raised as record_bulk and compact joined the op mix
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(ops=ops_strategy)
# a key repeated in one batch, on top of a chain, around a rollback, an
# expire and a compaction
@example(ops=[
    ("record", "k1", "a", 1),
    ("record_bulk", [("k1", "b", 3), ("k1", "a", 3), ("k4", "c", 2), ("k2", "a", 0)]),
    ("rollback", 2),
    ("record_bulk", [("k1", "c", 5), ("k4", "a", 6)]),
    ("expire", 3),
    ("compact",),
    ("record", "k4", "b", 7),
])
def test_vault_matches_model(spark, tmp_path_factory, ops):
    vault = TemporalVault(spark, str(tmp_path_factory.mktemp("pv")))
    model = PyModel()
    n_records = 0
    floor = None  # retention floor: reads/rollbacks below it are refused
    for op in ops:
        if op[0] == "record":
            _, key, val, ti = op
            data = {"v": val}
            vault.record(key, data, TS_GRID[ti])
            model.record(key, data, TS_GRID[ti])
            n_records += 1
        elif op[0] == "record_bulk":
            batch = [(key, json.dumps({"v": val}), TS_GRID[ti]) for key, val, ti in op[1]]
            vault.record_bulk(
                spark.createDataFrame(batch, "record_id string, data string, ts timestamp")
            )
            model.record_bulk(batch)
            n_records += len(batch)
        elif op[0] == "compact":
            vault.compact()  # rewrites files, changes no logical state
        elif op[0] == "rollback":
            _, ti = op
            # rollback below the retention floor is refused by the vault
            # (its state_at raises) — the driver skips it on both sides
            if n_records and (floor is None or TS_GRID[ti] >= floor):
                vault.rollback(TS_GRID[ti])
                model.rollback(TS_GRID[ti])
        elif op[0] == "expire":
            _, ti = op
            if n_records and (floor is None or TS_GRID[ti] >= floor):
                vault.expire(TS_GRID[ti])
                model.expire(TS_GRID[ti])
                floor = TS_GRID[ti]
        else:  # snapshot: must be semantically invisible to every later read
            _, ti = op
            # a snapshot below the floor is (correctly) refused by the
            # engine — snapshot() materializes state_at, which raises there
            if n_records and (floor is None or TS_GRID[ti] >= floor):
                vault.snapshot(TS_GRID[ti])
        # the version map, whenever the vault holds one, is the model's
        if vault._latest is not None:
            assert vault._latest == model.latest(), op

    got = sorted(
        (r["record_id"], r["version_num"], r["data"], r["ts"])
        for r in vault.log().collect()
    )
    assert got == sorted(model.rows)

    for probe in (TS_GRID[2], TS_GRID[5], TS_GRID[-1]):
        if floor is not None and probe < floor:
            with pytest.raises(ValueError, match="retention floor"):
                vault.state_at(probe)
            continue
        got_state = {
            r["record_id"]: (r["version_num"], r["data"])
            for r in vault.state_at(probe).collect()
        }
        assert got_state == model.state_at(probe)
