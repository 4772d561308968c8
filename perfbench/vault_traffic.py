"""The vault workload: one client in a closed loop over ``TemporalVault``.

Set-up (timed, repeated): register the catalog over a fresh copy of the
generated tables, build its cached ``temporal_records`` view, load a new
vault from it with ``record_bulk`` and take weekly snapshots.

The measured loop then walks whole cycles of a fixed op list (so every
seed runs the same mix of op types; the seed picks keys, times and
payloads) until the run's seconds are used. Each op is timed from the call
to the end of its work: ``query`` and ``state_at`` return lazy DataFrames,
so their time includes running the result to the ``noop`` sink. Output
checks against ``model.VersionLog`` run between ops with the clock stopped.
"""

from __future__ import annotations

import bisect
import itertools
import json
import os
import random
import shutil
import time
from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq

from model import VersionLog, spark_checksum

DATA_START = datetime(2024, 1, 1)
DATA_END = datetime(2024, 1, 31)
SNAPSHOT_DAYS = (7, 14, 21, 28)
# query() as-of times: eight fixed hours, drawn Zipf-weighted
QUERY_HOURS = [DATA_START + timedelta(days=d, hours=12) for d in (3, 7, 11, 14, 18, 21, 25, 28)]
BULK_ROWS = 500

# One cycle of the workload's ops; a run walks whole cycles, so every seed
# runs the same mix. The weights within each class follow the two traffic
# mixes the benchmark was specified with:
#   reads   query : state_at : compare = 4 : 3 : 2, the read-heavy mix's
#           40% : 30% : 20%;
#   writes  record : record_bulk = 3 : 1, the write-heavy mix's 55% : 20%
#           rounded to whole ops;
#   upkeep  one each of its rotating rollback, snapshot and compact, so
#           that every run, however few cycles it fits, measures all three.
# The class shares (9 reads, 4 writes, 3 upkeep ops) are what one cycle of
# a run's time budget holds; each class has its own CPU-per-op metric, so
# the shares weight no reported figure. "query_again" re-reads the as-of
# time of the query before it with only reads in between, so the vault's
# result cache serves it (1 hit in 4 queries); every other query is the
# first since a write or compaction cleared the cache, and misses it.
CYCLE = ["query", "state_at", "query_again", "compare", "record", "query", "state_at", "compare",
         "record", "query", "state_at", "record", "record_bulk", "rollback", "snapshot", "compact"]
# op -> class, for the per-class metrics
OP_CLASS = {"query": "read", "query_again": "read", "state_at": "read", "compare": "read",
            "record": "write", "record_bulk": "write",
            "rollback": "upkeep", "snapshot": "upkeep", "compact": "upkeep"}
# Untimed before the first cycle: one call of each op whose first run
# compiles plans that set-up has not (set-up ran record_bulk and snapshot),
# so measured cycles start warm.
WARMUP = ["query", "state_at", "compare", "record", "rollback", "compact"]
# every Nth call of these ops has its result checked against the model
CHECK_EVERY = {"query": 2, "query_again": 2, "state_at": 2}


def _zipf_weights(n: int, s: float = 1.1) -> list[float]:
    return [1.0 / (i + 1) ** s for i in range(n)]


def _zipf_choice(rng: random.Random, items):
    return rng.choices(items, _zipf_weights(len(items)))[0]


def _zipf_at(u: float, items):
    """The Zipf-weighted item at quantile ``u`` in [0, 1)."""
    cdf = list(itertools.accumulate(_zipf_weights(len(items))))
    return items[bisect.bisect_right(cdf, u * cdf[-1])]


def _stratified(rng: random.Random, n: int) -> list[float]:
    """n uniforms in [0, 1), one from each of n equal strata, in random
    order. A cycle's few draws then follow their distribution more closely
    than independent draws would, so the cost of a cycle, which grows with
    the as-of time a read picks, varies less from seed to seed."""
    us = [(i + rng.random()) / n for i in range(n)]
    rng.shuffle(us)
    return us


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def model_from_events(path: str) -> VersionLog:
    """The starting log, loaded independently of Spark from the same rows
    the vault is loaded from (temporal_records: key, payload, ts)."""
    t = pq.read_table(path, columns=["user_id", "props", "ts"])
    ts = t.column("ts").cast(pa.timestamp("us")).to_pylist()  # stored as nanoseconds
    log = VersionLog()
    log.record_bulk(list(zip(map(str, t.column("user_id").to_pylist()),
                             t.column("props").to_pylist(), ts)))
    return log


class VaultTraffic:
    def __init__(self, spark, tracer, seed, data_dirs, work_dir, n_keys):
        self.spark, self.tr = spark, tracer
        self.rng = random.Random(seed)
        self.data_dirs, self.work_dir = data_dirs, work_dir
        self.keys = [str(k) for k in range(n_keys)]
        self.rng.shuffle(self.keys)  # Zipf rank order of keys for compare()
        self.vault = None
        self.model = model_from_events(os.path.join(data_dirs[0], "events.parquet"))
        self.payload_bytes = sum(len(r["record_id"]) + len(r["data"]) + 8 for r in self.model.rows)
        self.clock = DATA_END  # timestamp of the next write
        self.write_marks: list[datetime] = []  # ts of each write op's first row
        self.calls: dict[str, int] = {}
        self.last_query_ts = QUERY_HOURS[0]
        self._quantiles: dict[str, list[float]] = {}  # op -> this cycle's draws
        self.query_hits = 0
        self.wrong: list[str] = []

    # -- set-up ---------------------------------------------------------------

    def setup_once(self, rep: int) -> float:
        from temporalvault_spark.catalog import load_catalog
        from temporalvault_spark.vault import TemporalVault

        root = os.path.join(self.work_dir, f"vault{rep}")
        shutil.rmtree(root, ignore_errors=True)
        t0 = time.perf_counter()
        with self.tr.span("setup", "bench", op=f"setup{rep}"):
            with self.tr.span("catalog.load_catalog", "catalog", spark=self.spark):
                cat = load_catalog(self.spark, self.data_dirs[rep])
            with self.tr.span("catalog.temporal_records_cache", "catalog", spark=self.spark):
                cat.temporal_records.count()
            with self.tr.span("vault.open", "vault"):
                vault = TemporalVault(self.spark, root)
            with self.tr.span("vault.record_bulk", "vault", spark=self.spark):
                vault.record_bulk(cat.temporal_records.select("record_id", "data", "ts"))
            for d in SNAPSHOT_DAYS:
                with self.tr.span("vault.snapshot", "vault", spark=self.spark):
                    vault.snapshot(DATA_START + timedelta(days=d))
        elapsed = time.perf_counter() - t0
        if self.vault is not None:
            shutil.rmtree(self.vault.root, ignore_errors=True)
        self.vault = vault
        return elapsed

    # -- ops ------------------------------------------------------------------

    def start_cycle(self, ops) -> None:
        """Draw the quantiles of this cycle's query hours and state_at times."""
        for op in ("query", "state_at"):
            self._quantiles[op] = _stratified(self.rng, max(1, ops.count(op)))

    def _quantile(self, op: str) -> float:
        return self._quantiles[op].pop() if self._quantiles.get(op) else self.rng.random()

    def _uniform_ts(self, u: float | None = None) -> datetime:
        span = int((self.clock - DATA_START).total_seconds())
        return DATA_START + timedelta(seconds=int(span * (self.rng.random() if u is None else u)))

    def _payload(self, key: str) -> str:
        data = json.dumps({"k": self.rng.randrange(100)})
        self.payload_bytes += len(key) + len(data) + 8
        return data

    def _next_write_ts(self, step: timedelta) -> datetime:
        ts = self.clock
        self.clock += step
        self.write_marks.append(ts)
        return ts

    def _check(self, what: str, got, want) -> None:
        if got != want:
            self.wrong.append(f"{what}: got {got!r} want {want!r}")

    def prepare(self, op: str):
        """Draw the op's arguments (untimed); returns a zero-arg callable
        that runs the op and a checker to call on its result."""
        v, m = self.vault, self.model
        if op in ("query", "query_again"):
            if op == "query":
                self.last_query_ts = _zipf_at(self._quantile("query"), QUERY_HOURS)
            ts = self.last_query_ts
            check = self.calls.get(op, 0) % CHECK_EVERY[op] == 0
            return (lambda: v.query(ts)), (
                lambda df: self._check(f"query({ts})", spark_checksum(df), m.query(ts))
                if check else None)
        if op == "state_at":
            ts = self._uniform_ts(self._quantile("state_at"))
            check = self.calls.get(op, 0) % CHECK_EVERY[op] == 0
            return (lambda: v.state_at(ts)), (
                lambda df: self._check(f"state_at({ts})", spark_checksum(df), m.state_at(ts))
                if check else None)
        if op == "compare":
            key = _zipf_choice(self.rng, self.keys)
            start = self._uniform_ts()
            end = start + timedelta(seconds=self.rng.randrange(86400, 14 * 86400))
            return (lambda: v.compare(key, start, end)), (
                lambda out: self._check(f"compare({key})", out, m.compare(key, start, end)))
        if op == "record":
            key = self.rng.choice(self.keys)
            data = self._payload(key)
            ts = self._next_write_ts(timedelta(minutes=1))
            return (lambda: v.record(key, data, ts)), (
                lambda row: self._check(f"record({key})", row["version"],
                                        m.record(key, data, ts)["version"]))
        if op == "record_bulk":
            start = self._next_write_ts(timedelta(seconds=BULK_ROWS + 60))
            keys = [self.rng.choice(self.keys) for _ in range(BULK_ROWS)]
            batch = [(k, self._payload(k), start + timedelta(seconds=j)) for j, k in enumerate(keys)]
            df = self.spark.createDataFrame(batch, "record_id string, data string, ts timestamp")
            return (lambda: v.record_bulk(df)), (
                lambda n: self._check("record_bulk", n, m.record_bulk(batch)))
        if op == "rollback":
            # undo the newest writes: back to just before the third-newest
            ts = self.write_marks[-min(3, len(self.write_marks))] - timedelta(seconds=1)
            return (lambda: v.rollback(ts)), (
                lambda out: self._check(f"rollback({ts})", out, m.rollback(ts)))
        if op == "compact":
            return v.compact, (
                lambda out: self._check("compact", out["files_after"] <= out["files_before"], True))
        if op == "snapshot":
            ts = self.clock - timedelta(seconds=1)  # after every write so far
            return (lambda: v.snapshot(ts)), (
                lambda path: self._check("snapshot", os.path.isdir(path), True))
        raise ValueError(op)

    def run_op(self, op: str, opid: str):
        """Run one op; returns (latency seconds, check callable)."""
        call, checker = self.prepare(op)
        self.calls[op] = self.calls.get(op, 0) + 1
        spark, tr = self.spark, self.tr
        api = "query" if op == "query_again" else op
        hits0 = v_hits(self.vault)
        t0 = time.perf_counter()
        with tr.span(f"op.{op}", "bench", op=opid):
            with tr.span(f"vault.{api}", "vault", spark=spark):
                out = call()
            if api in ("query", "state_at"):
                with tr.span(f"vault.{api}.materialize", "vault", spark=spark):
                    _noop(out)
        dt = time.perf_counter() - t0
        if api == "query":
            self.query_hits += v_hits(self.vault) - hits0
        return dt, (lambda: checker(out))

    def final_check(self) -> None:
        ts = self.clock
        self._check("final state_at", spark_checksum(self.vault.state_at(ts)), self.model.state_at(ts))

    # -- storage probe ----------------------------------------------------------

    def storage(self) -> dict:
        root = self.vault.root
        files = nbytes = 0
        for base, _dirs, names in os.walk(os.path.join(root, "records")):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    nbytes += os.path.getsize(os.path.join(base, n))
        disk = sum(os.path.getsize(os.path.join(b, n)) for b, _d, ns in os.walk(root) for n in ns)
        snaps = os.path.join(root, "snapshots")
        return {
            "vault.records.files": files,
            "vault.records.bytes": nbytes,
            "vault.snapshots.count": len(os.listdir(snaps)) if os.path.isdir(snaps) else 0,
            "vault.space_amp": disk / self.payload_bytes,
        }


def v_hits(vault) -> int:
    return int(vault.metrics.get("query_cache_hit", {}).get("count", 0))
