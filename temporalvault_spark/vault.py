"""TemporalVault — the engine's storage/API layer: an append-only, versioned
Parquet table with as-of reads, snapshots, atomic rollback, field-level diff,
result caching and op metrics.

This is the Spark-native replacement for the reference service
(/root/reference/app/main.py): same four operations (record / query /
rollback / compare, main.py:68-343) plus the snapshots the reference declares
but never implements (models.py:27-38, imported-unused in main.py:1).

Storage layout under ``root``:
    records/     date-partitioned append-only version log (dt=YYYY-MM-DD);
                 partition pruning gives as-of reads the role of the
                 reference's (record_id, timestamp) B-tree (models.py:21-24)
    snapshots/   materialized latest-per-key states, one dir per snapshot ts
    rollback_log/ small append-only audit table (models.py:41-51)
    _generation  token rewritten before every write that can change a key's
                 latest version (see below)

Scale notes: every read is a declarative plan over the partitioned log —
as-of state is one window shuffle bounded below by the newest snapshot;
rollback is one job (state + inner join + atomic directory swap) instead of
the reference's 2-round-trips-per-record loop (main.py:191-224).

Write path: the vault keeps a ``record_id -> max version_num`` map on the
driver (the reference's read-before-write, main.py:77-82, without a read).
It is built on the first write from the newest snapshot plus the
partition-pruned log tail, updated by every write, and dropped by
``rollback``/``abort_ingest``. ``record()`` then writes its one row straight
into ``records/dt=.../`` with pyarrow — hidden temp name, then an atomic
rename — so a single-row write runs no Spark job. Before any write lands
its data, it rewrites ``_generation`` with a fresh token; an instance trusts
its map only while the file still holds the token it last saw or wrote, so
a second ``TemporalVault`` on the same root used in turn (or a writer that
crashed between the token and its data) makes the next write rebuild the
map. Writers must still take turns: the vault is single-writer, and two
instances writing concurrently can both mint the same ``v{N+1}``. The map
holds one entry per key on the driver, and ``record_bulk`` broadcasts it.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import shutil
import time
import uuid
from datetime import datetime, timedelta, timezone
from zoneinfo import ZoneInfo

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from temporalvault_spark.session import tune

RECORD_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("record_id", T.StringType()),
        T.StructField("version", T.StringType()),
        T.StructField("version_num", T.IntegerType()),
        T.StructField("data", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("previous_version", T.StringType()),
    ]
)
AUDIT_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType()),
        T.StructField("rollback_to", T.TimestampType()),
        T.StructField("n_affected", T.LongType()),
        T.StructField("rollback_data", T.StringType()),
    ]
)
# Arrow types of directly written files: what Spark reads back under the
# schemas above (timestamps as UTC-adjusted micros, version_num as int32)
_ARROW_TYPES = {
    "long": pa.int64(),
    "integer": pa.int32(),
    "string": pa.string(),
    "timestamp": pa.timestamp("us", tz="UTC"),
}


def _arrow_table(rows: list[dict], schema: T.StructType) -> pa.Table:
    """``rows`` as an Arrow table with ``schema``'s columns. Timestamps go
    through ``TimestampType.toInternal``, the conversion
    ``spark.createDataFrame`` applies (naive values in the process's local
    zone, aware ones at their offset), so both paths store the same instant."""
    cols = []
    for f in schema.fields:
        vals = [r[f.name] for r in rows]
        if isinstance(f.dataType, T.TimestampType):
            vals = [f.dataType.toInternal(v) for v in vals]
        cols.append(pa.array(vals, _ARROW_TYPES[f.dataType.typeName()]))
    return pa.Table.from_arrays(cols, names=schema.names)


def _write_parquet(directory: str, table: pa.Table) -> None:
    """Add one Parquet file to ``directory``: written under a hidden name
    (Spark's file listing skips names starting with '.') and then renamed,
    so a reader sees the whole file or none of it."""
    os.makedirs(directory, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = f"{directory}/.{name}.tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, f"{directory}/{name}")


_WEEKDAYS = ["monday", "tuesday", "wednesday", "thursday", "friday", "saturday", "sunday"]
_MONTHS = {
    name: i + 1
    for i, name in enumerate(
        ["january", "february", "march", "april", "may", "june", "july",
         "august", "september", "october", "november", "december"]
    )
}
_MONTHS.update({name[:3]: num for name, num in _MONTHS.items()})
_CLOCK = r"(\d{1,2})(?::(\d{2}))?(?::(\d{2}))?\s*(am|pm)?"


def _apply_clock(base: datetime, m: re.Match, g0: int) -> datetime:
    """Set the time-of-day from a ``_CLOCK`` match starting at group g0."""
    h = int(m.group(g0))
    mer = m.group(g0 + 3)
    if mer:
        h = h % 12 + (12 if mer == "pm" else 0)
    return base.replace(hour=h, minute=int(m.group(g0 + 1) or 0), second=int(m.group(g0 + 2) or 0))


def parse_time(text: str | datetime, now: datetime | None = None) -> datetime:
    """Deterministic natural-language time shim (reference: parsedatetime at
    main.py:110-111). Lives at the API layer, never inside the engine; the
    reference's nondeterminism (datetime.now()) is injectable here via
    ``now`` so tests stay reproducible. Truncates to seconds (main.py:112).

    Grammar (the common ``parsedatetime`` forms the reference accepts):
    now / today / yesterday / tomorrow (optionally "at 4pm" / "at 16:30"),
    noon / midnight, bare clock times ("3pm", "15:04"), "N units ago" /
    "in N units" / "N units from now" (second..year), "last/next <weekday>",
    "last/next week|month|year", month-name dates ("march 5", "5 march 2026",
    "jan 5 at 3pm"), and ISO / "YYYY-MM-DD HH:MM:SS"."""
    if isinstance(text, datetime):
        return text.replace(microsecond=0)
    now = (now or datetime.now()).replace(microsecond=0)
    s = re.sub(r"\s+", " ", text.strip().lower())
    midnight = now.replace(hour=0, minute=0, second=0)
    if s == "now":
        return now
    if s in ("noon", "midnight"):
        return midnight.replace(hour=12 if s == "noon" else 0)
    day_offsets = {"yesterday": -1, "today": 0, "tomorrow": 1}
    m = re.match(rf"^(yesterday|today|tomorrow)(?: at {_CLOCK})?$", s)
    if m:
        base = midnight + timedelta(days=day_offsets[m.group(1)])
        return _apply_clock(base, m, 2) if m.group(2) else base
    # bare clock time -> today ("3pm", "15:04", "at 3 pm")
    m = re.match(rf"^(?:at )?{_CLOCK}$", s)
    if m and (m.group(4) or m.group(2)):  # needs am/pm or minutes to be a time
        return _apply_clock(midnight, m, 1)
    # relative offsets: "2 hours ago", "in 3 days", "3 weeks from now"
    units = {"second": 1, "minute": 60, "hour": 3600, "day": 86400,
             "week": 7 * 86400, "month": 30 * 86400, "year": 365 * 86400}
    m = re.match(
        r"^(?:(?:in|after) )?(\d+) (second|minute|hour|day|week|month|year)s?"
        r"(?: (ago|from now|later))?$", s)
    if m and (m.group(3) or s.startswith(("in ", "after "))):
        delta = timedelta(seconds=int(m.group(1)) * units[m.group(2)])
        return now - delta if m.group(3) == "ago" else now + delta
    # "last/next monday", "last week", "next month" (parsedatetime: strictly
    # the previous/following occurrence, never today)
    m = re.match(rf"^(last|next) ({'|'.join(_WEEKDAYS)}|week|month|year)(?: at {_CLOCK})?$", s)
    if m:
        sign = -1 if m.group(1) == "last" else 1
        unit = m.group(2)
        if unit in ("week", "month", "year"):
            base = midnight + timedelta(seconds=sign * units[unit])
        else:
            diff = (_WEEKDAYS.index(unit) - now.weekday()) % 7
            days = (diff or 7) if sign > 0 else (diff - 7 if diff else -7)
            base = midnight + timedelta(days=days)
        return _apply_clock(base, m, 3) if m.group(3) else base
    # month-name dates: "march 5", "mar 5 2026", "5 march", "january 5 at 3pm"
    mon = "|".join(sorted(_MONTHS, key=len, reverse=True))
    m = re.match(
        rf"^(?:({mon})\.? (\d{{1,2}})|(\d{{1,2}}) ({mon})\.?)(?:,? (\d{{4}}))?"
        rf"(?: at {_CLOCK})?$", s)
    if m:
        month = _MONTHS[m.group(1) or m.group(4)]
        day = int(m.group(2) or m.group(3))
        base = datetime(int(m.group(5) or now.year), month, day)
        return _apply_clock(base, m, 6) if m.group(6) else base
    # ISO / "YYYY-MM-DD HH:MM:SS" forms
    return datetime.fromisoformat(text.strip()).replace(microsecond=0)


class TemporalVault:
    _CACHE_MAX = 32

    def __init__(self, spark: SparkSession, root: str):
        tune(spark)
        self.spark = spark
        self.root = root.rstrip("/")
        self.records_path = f"{self.root}/records"
        self.snapshots_path = f"{self.root}/snapshots"
        self.rollback_log_path = f"{self.root}/rollback_log"
        os.makedirs(self.root, exist_ok=True)
        self._recover_swaps()
        # query()-result cache: truncated-ts -> persisted DataFrame (the
        # engine analog of the reference's 1h-TTL Redis cache, main.py:115-147)
        self._cache: dict[str, DataFrame] = {}
        self.metrics: dict[str, dict[str, float]] = {}
        # record_id -> max version_num, and the _generation token it is
        # valid for (None: not built yet)
        self._latest: dict[str, int] | None = None
        self._gen_seen: str | None = None

    # -- observability (reference: Prometheus counters/histograms,
    # main.py:30-53; here a plain op->count/latency map) ---------------------

    def _timed(self, op: str, t0: float) -> None:
        m = self.metrics.setdefault(op, {"count": 0, "total_sec": 0.0})
        m["count"] += 1
        m["total_sec"] += time.perf_counter() - t0

    # -- log access ----------------------------------------------------------

    def _recover_swaps(self) -> None:
        """Crash recovery for the two-rename directory swap used by
        rollback()/compact() (tmp write → records->old → tmp->records →
        rm old). A crash between the two renames leaves no records/ dir with
        the data stranded in .records_old_*; a crash before/after leaves
        orphaned .records_tmp_* / .records_old_* dirs that would otherwise
        accumulate forever. Run at vault open and before every swap:

        - records/ missing + a COMPLETE tmp (Spark's _SUCCESS marker, written
          only when the job finished) → the swap had passed the point of no
          return: promote the tmp.
        - records/ missing + no complete tmp → the swap never completed:
          restore the old dir (pre-op state).
        - everything left over after that is garbage from finished or failed
          ops → removed."""
        olds = sorted(
            f"{self.root}/{n}" for n in os.listdir(self.root) if n.startswith(".records_old_")
        )
        tmps = sorted(
            f"{self.root}/{n}" for n in os.listdir(self.root) if n.startswith(".records_tmp_")
        )
        if not olds and not tmps:
            return
        if not os.path.isdir(self.records_path) and olds:
            complete = [t for t in tmps if os.path.exists(f"{t}/_SUCCESS")]
            if complete:
                os.rename(complete[-1], self.records_path)
                tmps.remove(complete[-1])
            else:
                os.rename(olds[-1], self.records_path)
                olds.pop()
        for d in olds + tmps:
            if os.path.isdir(d):
                shutil.rmtree(d)

    def _has_records(self) -> bool:
        return os.path.isdir(self.records_path) and any(
            n.startswith("dt=") or n.endswith(".parquet") for n in os.listdir(self.records_path)
        )

    def log(
        self, until: datetime | None = None, since_exclusive: datetime | None = None
    ) -> DataFrame:
        """The append-only version log (empty-typed DF when nothing written).

        ``until``: as-of bound; ``since_exclusive``: tail bound (rows with
        ts strictly after it — used to read only the log AFTER a snapshot).
        A predicate on ``ts`` alone does NOT prune the dt= directories (Spark
        can't derive dt bounds from ts bounds), so both bounds add the
        matching partition predicate explicitly — this is the B-tree-index
        role of the layout (reference models.py:21-24): an as-of read at T
        touches only partitions dt <= date(T), and a snapshot-tail read at S
        only partitions dt >= date(S)."""
        if not self._has_records():
            return self.spark.createDataFrame([], RECORD_SCHEMA)
        df = self.spark.read.schema(
            T.StructType(RECORD_SCHEMA.fields + [T.StructField("dt", T.StringType())])
        ).parquet(self.records_path)
        if until is not None:
            df = df.filter(
                (F.col("dt") <= until.strftime("%Y-%m-%d")) & (F.col("ts") <= F.lit(until))
            )
        if since_exclusive is not None:
            df = df.filter(
                (F.col("dt") >= since_exclusive.strftime("%Y-%m-%d"))
                & (F.col("ts") > F.lit(since_exclusive))
            )
        return df.drop("dt")

    # -- write path (reference main.py:68-100) -------------------------------

    def record(self, record_id: str, data, ts: datetime | str | None = None) -> dict:
        """Append one immutable version (POST /records): look up the key's
        latest version (main.py:77-79) in the vault's version map, assign
        v{N+1} (main.py:82), append. Payload may be any JSON-serializable
        value or raw string — stored as its JSON string form (the reference
        stores the raw query param string, main.py:71,85).

        On a warm vault this runs no Spark job: the lookup is a dict read
        (the map is rebuilt from snapshot + log tail only when it is cold or
        ``_generation`` moved under it), and the row is written directly as
        one small Parquet file into its ``dt=`` directory (hidden temp name,
        atomic rename), after the generation token is rewritten. Relies on
        the single-writer rule: writers on one root must take turns."""
        t0 = time.perf_counter()
        ts = parse_time(ts) if ts is not None else datetime.now().replace(microsecond=0)
        payload = data if isinstance(data, str) else json.dumps(data)
        latest = self._latest_versions()
        num = latest.get(record_id, 0) + 1
        row = {
            "id": uuid.uuid4().int % (1 << 62),
            "record_id": record_id,
            "version": f"v{num}",
            "version_num": num,
            "data": payload,
            "ts": ts,
            "previous_version": f"v{num - 1}" if num > 1 else None,
        }
        table = _arrow_table([row], RECORD_SCHEMA)
        us = table.column("ts")[0].value
        dt = datetime.fromtimestamp(us // 1_000_000, self._session_tz()).strftime("%Y-%m-%d")
        with self._mutating():
            _write_parquet(f"{self.records_path}/dt={dt}", table)
        latest[record_id] = num
        self._invalidate_snapshots_from(ts)
        self._invalidate()
        self._timed("record", t0)
        return row

    # -- version map and generation token ------------------------------------

    def _latest_versions(self) -> dict[str, int]:
        """The ``record_id -> max version_num`` map, rebuilt when it is cold
        or another writer (or a crashed one) moved ``_generation`` since this
        instance last saw it."""
        gen = self._read_generation()
        if self._latest is None or gen != self._gen_seen:
            scoped = self._version_source()
            self._latest = (
                {}
                if scoped is None
                else dict(scoped.groupBy("record_id").agg(F.max("version_num")).collect())
            )
            self._gen_seen = gen
        return self._latest

    def _version_source(self) -> DataFrame | None:
        """What the version map is built from, without a full-log scan: the
        newest snapshot (each key's latest version at snap_ts) plus only the
        partition-pruned log tail after it; the whole log when there is no
        snapshot, None when the log is empty."""
        if not self._has_records():
            return None
        snap_ts, snap_df = self._nearest_snapshot(datetime.max)
        if snap_df is None:
            return self.log()
        return snap_df.unionByName(self.log(since_exclusive=snap_ts))

    def _read_generation(self) -> str | None:
        try:
            with open(f"{self.root}/_generation") as f:
                return f.read()
        except FileNotFoundError:
            return None

    @contextlib.contextmanager
    def _mutating(self):
        """Bracket a write that can change a key's latest version: rewrite
        ``_generation`` (atomically) BEFORE the data lands, so any other
        instance — or this one after a crash between the two — rebuilds its
        map. If the write fails, the map is dropped: the data may or may not
        have landed."""
        gen = uuid.uuid4().hex
        tmp = f"{self.root}/.generation-{gen}"
        with open(tmp, "w") as f:
            f.write(gen)
        os.replace(tmp, f"{self.root}/_generation")
        self._gen_seen = gen
        try:
            yield
        except BaseException:
            self._latest = None
            raise

    def _session_tz(self):
        """The session time zone, which names a row's ``dt=`` partition (the
        zone ``date_format`` uses in ``_append``)."""
        name = self.spark.conf.get("spark.sql.session.timeZone")
        m = re.fullmatch(r"(?:UTC|GMT)?([+-])(\d{1,2})(?::?(\d{2}))?", name)
        if m:
            off = timedelta(hours=int(m.group(2)), minutes=int(m.group(3) or 0))
            return timezone(-off if m.group(1) == "-" else off)
        return timezone.utc if name in ("UTC", "GMT", "Z") else ZoneInfo(name)

    def record_bulk(self, rows: DataFrame, stage_tag: str | None = None) -> int:
        """Bulk append: ``rows`` needs (record_id, data, ts). Version numbers
        continue each key's chain in (ts, data) order — one window over the
        batch, offset by the version map's per-key max (set-based main.py:82,
        no per-row lookups and no scan of the log once the map is warm).

        ``stage_tag`` turns the append TRANSACTIONAL (the exactly-once seam
        for streaming ingest): the batch first writes to a private staging
        dir, then its part-files move into the log with the tag embedded in
        every destination FILENAME (``ingest-<tag>-...``) — so a crash at any
        point leaves a state that ``abort_ingest``/``finish_ingest`` can
        roll back or complete deterministically (the tagged files ARE the
        undo log). The caller then records its own durable commit marker and
        calls ``finish_ingest``; on restart, ``pending_ingest_tags`` +
        marker presence decide abort vs finish per tag. Single-writer: don't
        run compact()/rollback() while a tagged ingest is in flight (they
        rewrite the file layout the tag-undo relies on)."""
        t0 = time.perf_counter()
        latest = self._latest_versions()
        batch = rows.select(
            "record_id",
            F.col("data").cast("string").alias("data"),
            F.date_trunc("second", "ts").alias("ts"),
        )
        # base numbers come from the version map (broadcast of its entries),
        # not from grouping the whole log; built from Arrow, the map is a
        # local relation, so the broadcast needs no job of its own
        base_num = F.lit(0)
        if latest:
            base = self.spark.createDataFrame(
                pa.table(
                    {
                        "record_id": pa.array(list(latest), pa.string()),
                        "base_num": pa.array(list(latest.values()), pa.int32()),
                    }
                )
            )
            batch = batch.join(F.broadcast(base), "record_id", "left")
            base_num = F.coalesce("base_num", F.lit(0))
        w = Window.partitionBy("record_id").orderBy("ts", "data")
        batch = (
            batch.withColumn("offset", F.row_number().over(w))
            .withColumn("version_num", (base_num + F.col("offset")).cast("int"))
            .withColumn("version", F.concat(F.lit("v"), F.col("version_num")))
            .withColumn(
                "previous_version",
                F.when(F.col("version_num") > 1, F.concat(F.lit("v"), F.col("version_num") - 1)),
            )
            # (record_id, version) is unique in the log, so its hash is a
            # stable id — monotonically_increasing_id() restarts per job and
            # would collide across successive bulk appends
            .withColumn(
                "id", F.abs(F.xxhash64("record_id", "version", F.lit("tv-id")))
            )
            .select([f.name for f in RECORD_SCHEMA.fields])
        )
        # persist: the window+join pipeline feeds both the per-key stats and
        # the append — without it the whole batch plan executes twice
        batch = batch.persist()
        try:
            # one grouped collect: row count, earliest ts (snapshot
            # invalidation) and each key's new max version (the map)
            stats = (
                batch.groupBy("record_id")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.min("ts").alias("lo"),
                    F.max("version_num").alias("hi"),
                )
                .collect()
            )
            with self._mutating():
                if stage_tag is None:
                    self._append(batch)
                else:
                    stage = self._stage_path(stage_tag)
                    if os.path.isdir(stage):
                        shutil.rmtree(stage)  # leftovers of a failed prior try
                    self._append(batch, stage)
                    self._promote_stage(stage_tag)
            latest.update((r["record_id"], r["hi"]) for r in stats)
            n = sum(r["n"] for r in stats)
            if n:
                self._invalidate_snapshots_from(min(r["lo"] for r in stats))
        finally:
            batch.unpersist()
        self._invalidate()
        self._timed("record_bulk", t0)
        return n

    # -- transactional ingest (staged commit) --------------------------------

    def _stage_path(self, tag: str) -> str:
        if not re.fullmatch(r"[A-Za-z0-9_-]+", tag):
            raise ValueError(f"ingest tag must be filename-safe, got {tag!r}")
        return f"{self.root}/.ingest_stage_{tag}"

    def _promote_stage(self, tag: str) -> None:
        """Move staged part-files into the live log, tagging every destination
        filename with the ingest tag (per-file renames are atomic; the tag
        makes any partial promotion identifiable and reversible)."""
        stage = self._stage_path(tag)
        for dt_dir in os.listdir(stage):
            if not dt_dir.startswith("dt="):
                continue
            os.makedirs(f"{self.records_path}/{dt_dir}", exist_ok=True)
            for fn in os.listdir(f"{stage}/{dt_dir}"):
                if fn.endswith(".parquet"):
                    os.rename(
                        f"{stage}/{dt_dir}/{fn}",
                        f"{self.records_path}/{dt_dir}/ingest-{tag}-{fn}",
                    )

    def pending_ingest_tags(self) -> list[str]:
        """Tags whose staging dir still exists — i.e. ingests that never
        reached ``finish_ingest``. For each, the caller checks its own commit
        marker: present → ``finish_ingest`` (the data is live, only cleanup
        was lost); absent → ``abort_ingest`` (roll the partial data back and
        let the source replay the batch)."""
        prefix = ".ingest_stage_"
        return sorted(
            n[len(prefix):] for n in os.listdir(self.root) if n.startswith(prefix)
        )

    def finish_ingest(self, tag: str) -> None:
        """Drop the staging dir after the caller's commit marker is durable.
        Idempotent."""
        shutil.rmtree(self._stage_path(tag), ignore_errors=True)
        self._invalidate()

    def abort_ingest(self, tag: str) -> None:
        """Undo an uncommitted ingest: delete every log file carrying the tag
        (whether the promotion finished or died halfway) plus the staging
        dir. Idempotent — safe to re-run after a crash during the abort.
        Drops the version map: the removed rows may have held a key's max."""
        with self._mutating():
            if os.path.isdir(self.records_path):
                for dt_dir in os.listdir(self.records_path):
                    d = f"{self.records_path}/{dt_dir}"
                    if not (dt_dir.startswith("dt=") and os.path.isdir(d)):
                        continue
                    for fn in os.listdir(d):
                        if fn.startswith(f"ingest-{tag}-"):
                            os.remove(f"{d}/{fn}")
        self._latest = None
        shutil.rmtree(self._stage_path(tag), ignore_errors=True)
        self._invalidate()

    def _append(self, df: DataFrame, path: str | None = None) -> None:
        (
            df.withColumn("dt", F.date_format("ts", "yyyy-MM-dd"))
            .repartition("dt")
            .write.mode("append")
            .partitionBy("dt")
            .parquet(path or self.records_path)
        )

    def _invalidate_snapshots_from(self, ts: datetime) -> None:
        """A write stamped at-or-before a snapshot's timestamp makes that
        snapshot stale (it was materialized without the new row, yet claims
        the state at snap_ts) — snapshot-aware reads would silently miss the
        version. Found by the model-based property test: record@T, snapshot@T,
        record@T again → state_at returned v1 instead of v2."""
        if not os.path.isdir(self.snapshots_path):
            return
        for name in os.listdir(self.snapshots_path):
            try:
                snap_ts = datetime.strptime(name, "%Y%m%dT%H%M%S")
            except ValueError:
                continue
            if snap_ts >= ts:
                shutil.rmtree(f"{self.snapshots_path}/{name}")

    # -- read paths (reference main.py:103-152) ------------------------------

    def query(self, timestamp, cache: bool = True) -> DataFrame:
        """As-of read, faithful semantics: ALL versions with ts <= T of all
        keys, newest first (main.py:127-129 — no per-key dedup). Results are
        persisted per truncated timestamp (the Redis role, main.py:115-147);
        date-partition pruning stands in for the timestamp index."""
        t0 = time.perf_counter()
        ts = parse_time(timestamp)
        self._check_floor(ts, "query")
        key = ts.isoformat()
        if cache and key in self._cache:
            self._timed("query_cache_hit", t0)
            return self._cache[key]
        out = (
            self.log(until=ts)
            .select("id", "record_id", "version", "data", "ts")
            .orderBy(F.desc("ts"), F.desc("id"))
        )
        if cache:
            # bounded cache (the reference used a 1h Redis TTL, main.py:147):
            # FIFO-evict + unpersist beyond _CACHE_MAX distinct timestamps so
            # a read-heavy workload can't pin executor storage indefinitely
            while len(self._cache) >= self._CACHE_MAX:
                old_key = next(iter(self._cache))
                self._cache.pop(old_key).unpersist()
            out = out.persist()
            self._cache[key] = out
        self._timed("query", t0)
        return out

    def state_at(self, timestamp) -> DataFrame:
        """Latest version ≤ T per key — snapshot-aware: start from the newest
        materialized snapshot ≤ T and window only the log tail after it
        (the reconstruction-cost bound the reference's snapshots table was
        meant to provide, models.py:27-38)."""
        t0 = time.perf_counter()
        ts = parse_time(timestamp)
        self._check_floor(ts, "state_at")
        snap_ts, snap_df = self._nearest_snapshot(ts)
        if snap_df is None:
            log = self.log(until=ts)
        else:
            # tail read is partition-pruned: only dt >= date(snap_ts) dirs
            log = snap_df.unionByName(self.log(until=ts, since_exclusive=snap_ts))
        # ts/id tie-breakers: after a rollback the log can hold several rows
        # with the SAME (record_id, version_num) (reference-faithful UPDATE
        # keeps rewritten rows); their payloads are identical but id/ts
        # differ, so the pick must still be deterministic
        w = Window.partitionBy("record_id").orderBy(
            F.desc("version_num"), F.desc("ts"), F.desc("id")
        )
        out = (
            log.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("id", "record_id", "version", "version_num", "data", "ts", "previous_version")
        )
        self._timed("state_at", t0)
        return out

    # -- snapshots ------------------------------------------------------------

    def snapshot(self, timestamp) -> str:
        """Materialize state_at(T) to snapshots/<iso>/ (the declared-but-dead
        snapshots table, models.py:27-38, actually implemented)."""
        ts = parse_time(timestamp)
        name = ts.strftime("%Y%m%dT%H%M%S")
        path = f"{self.snapshots_path}/{name}"
        self.state_at(ts).write.mode("overwrite").parquet(path)
        return path

    def _nearest_snapshot(self, ts: datetime):
        if not os.path.isdir(self.snapshots_path):
            return None, None
        best = None
        for name in sorted(os.listdir(self.snapshots_path)):
            try:
                snap_ts = datetime.strptime(name, "%Y%m%dT%H%M%S")
            except ValueError:
                continue
            if snap_ts <= ts and (best is None or snap_ts > best):
                best = snap_ts
        if best is None:
            return None, None
        path = f"{self.snapshots_path}/{best.strftime('%Y%m%dT%H%M%S')}"
        return best, self.spark.read.schema(RECORD_SCHEMA).parquet(path)

    # -- rollback (reference main.py:154-248) --------------------------------

    def rollback(self, timestamp) -> dict:
        """Roll the table back to T: audit first (count + affected keys,
        main.py:174-188), then one job computes the post-rollback table —
        pre-T rows unchanged; post-T rows of keys alive at T rewritten to the
        as-of state's data AND version labels (version/version_num/
        previous_version, matching the reference UPDATE main.py:200-214);
        keys born after T dropped (main.py:217-224) — and atomically replaces
        the log directory. One shuffle replaces the reference's per-record
        UPDATE/DELETE loop. Deliberate deviation: the reference stamps
        rewritten rows timestamp=CURRENT_TIMESTAMP (main.py:204), which makes
        a rolled-back row look newer than the rollback target and breaks
        subsequent as-of reads; we preserve each row's original ts instead."""
        t0 = time.perf_counter()
        self._recover_swaps()
        ts = parse_time(timestamp)
        # refuse BEFORE the audit append: a floor violation surfacing later
        # (inside state_at) would leave a phantom rollback_log entry for a
        # rollback that never happened
        self._check_floor(ts, "rollback")
        log = self.log()
        affected = log.filter(F.col("ts") > F.lit(ts))
        audit = affected.agg(
            F.count("*").alias("n_affected"),
            F.array_sort(F.collect_set("record_id")).alias("affected_keys"),
        ).collect()[0]
        audit_row = {
            "ts": datetime.now().replace(microsecond=0),
            "rollback_to": ts,
            "n_affected": audit["n_affected"],
            "rollback_data": json.dumps({"record_ids": list(audit["affected_keys"])}),
        }
        _write_parquet(self.rollback_log_path, _arrow_table([audit_row], AUDIT_SCHEMA))

        # post-T rows of surviving keys are rewritten to the target version's
        # data AND labels (version / version_num / previous_version), exactly
        # like the reference UPDATE (main.py:200-214); only the reference's
        # timestamp=CURRENT_TIMESTAMP is deviated from (ts preserved — see
        # docstring)
        state = self.state_at(ts).select(
            "record_id",
            F.col("data").alias("asof_data"),
            F.col("version").alias("asof_version"),
            F.col("version_num").alias("asof_version_num"),
            F.col("previous_version").alias("asof_previous_version"),
        )
        kept = log.filter(F.col("ts") <= F.lit(ts))
        rewritten = (
            affected.join(state, "record_id", "inner")
            .withColumns(
                {
                    "data": F.col("asof_data"),
                    "version": F.col("asof_version"),
                    "version_num": F.col("asof_version_num"),
                    "previous_version": F.col("asof_previous_version"),
                }
            )
            .select([f.name for f in RECORD_SCHEMA.fields])
        )
        new_log = kept.unionByName(rewritten)

        tmp = f"{self.root}/.records_tmp_{uuid.uuid4().hex[:8]}"
        (
            new_log.withColumn("dt", F.date_format("ts", "yyyy-MM-dd"))
            .repartition("dt")
            .write.mode("overwrite")
            .partitionBy("dt")
            .parquet(tmp)
        )
        old = f"{self.root}/.records_old_{uuid.uuid4().hex[:8]}"
        with self._mutating():
            if os.path.isdir(self.records_path):
                os.rename(self.records_path, old)
            os.rename(tmp, self.records_path)
        # rewritten labels and dropped keys lower maxima: rebuild on next write
        self._latest = None
        if os.path.isdir(old):
            shutil.rmtree(old)
        # snapshots materialized AFTER the rollback target contain
        # rolled-back rows — keeping them would resurrect deleted keys on the
        # next snapshot-aware state_at(); snapshots <= ts are still exact
        # (rollback never touches pre-ts history)
        if os.path.isdir(self.snapshots_path):
            for name in os.listdir(self.snapshots_path):
                try:
                    snap_ts = datetime.strptime(name, "%Y%m%dT%H%M%S")
                except ValueError:
                    continue
                if snap_ts > ts:
                    shutil.rmtree(f"{self.snapshots_path}/{name}")
        self._invalidate()
        self._timed("rollback", t0)
        return {
            "rolled_back_to": ts.isoformat(),
            "n_affected": audit["n_affected"],
            "affected_keys": list(audit["affected_keys"]),
        }

    def compact(self) -> dict:
        """Rewrite the version log to ~one file per dt= directory, rows
        sorted by (record_id, version_num). Single-record appends each add a
        file; at an append-heavy 100 TB log the file count — not the byte
        count — is what kills scan planning (footer reads, task scheduling).
        The sort restores key locality, so parquet min/max stats on
        record_id prune key-filtered reads (the index role). Same atomic
        directory-swap as rollback; contents are row-identical, so readers
        never observe a difference."""
        t0 = time.perf_counter()
        self._recover_swaps()
        if not self._has_records():
            return {"files_before": 0, "files_after": 0}
        before = sum(
            len([f for f in files if f.endswith(".parquet")])
            for _, _, files in os.walk(self.records_path)
        )
        log = self.log()
        tmp = f"{self.root}/.records_tmp_{uuid.uuid4().hex[:8]}"
        (
            log.withColumn("dt", F.date_format("ts", "yyyy-MM-dd"))
            .repartition(F.col("dt"))
            .sortWithinPartitions("record_id", "version_num")
            .write.mode("overwrite")
            .partitionBy("dt")
            .parquet(tmp)
        )
        old = f"{self.root}/.records_old_{uuid.uuid4().hex[:8]}"
        os.rename(self.records_path, old)
        os.rename(tmp, self.records_path)
        shutil.rmtree(old)
        self._invalidate()
        after = sum(
            len([f for f in files if f.endswith(".parquet")])
            for _, _, files in os.walk(self.records_path)
        )
        self._timed("compact", t0)
        return {"files_before": before, "files_after": after}

    # -- retention ------------------------------------------------------------

    def retention_floor(self) -> datetime | None:
        """The time-travel floor set by expire(), or None: as-of reads below
        it are refused (their history is gone)."""
        p = f"{self.root}/_retention"
        if not os.path.isfile(p):
            return None
        with open(p) as f:
            return datetime.fromisoformat(f.read().strip())

    def _check_floor(self, ts: datetime, op: str) -> None:
        floor = self.retention_floor()
        if floor is not None and ts < floor:
            raise ValueError(
                f"{op} at {ts.isoformat()} is below the retention floor "
                f"{floor.isoformat()}: history before the floor was expired "
                "(vault.expire); earlier as-of reads would silently return "
                "baseline-collapsed state, so they are refused instead"
            )

    def expire(self, before) -> dict:
        """Retention truncation: drop version history older than ``before``
        while preserving every key's BASELINE — the latest version < cutoff
        survives, so every LATEST-PER-KEY as-of read (state_at, including
        snapshot-accelerated reads) at T >= cutoff returns exactly what it
        returned before the expire. The faithful ALL-VERSIONS read
        (query()) necessarily shrinks for any T: the expired versions are
        gone — that is the point of retention, not a preservation bug.
        This is the log-truncation/GDPR-retention operation an
        append-only store needs once the log outgrows its useful history;
        the reference has no analog (its log grows forever).

        One job: tag keep = (ts >= cutoff) OR (row_number()=1 over
        (key, version_num DESC) among pre-cutoff rows) — the same single
        per-key shuffle every temporal op pays — then the rollback/compact
        atomic directory swap. Time travel below the cutoff is gone BY
        DESIGN, so the cutoff persists as a floor marker (_retention) and
        query()/state_at() below it raise instead of silently returning
        collapsed history. Snapshots are untouched: a snapshot at ts0 stays
        exact for reads >= cutoff (per-key latest rows it contributes are
        never expired-and-needed), and reads < cutoff are refused anyway."""
        t0 = time.perf_counter()
        self._recover_swaps()
        cutoff = parse_time(before)
        # The floor is part of the CONTRACT, not an artifact of having data:
        # declaring retention on an empty (or emptied-by-rollback) vault
        # still promises "no history below cutoff", so the marker persists
        # unconditionally — otherwise an expire on an empty log would leave
        # sub-cutoff reads silently allowed.
        prev_floor = self.retention_floor()
        if prev_floor is None or cutoff > prev_floor:
            with open(f"{self.root}/_retention", "w") as f:
                f.write(cutoff.isoformat())
        if not self._has_records():
            return {"cutoff": cutoff.isoformat(), "n_expired": 0, "n_kept": 0}
        log = self.log()
        pre = log.filter(F.col("ts") < F.lit(cutoff))
        w = Window.partitionBy("record_id").orderBy(
            F.desc("version_num"), F.desc("ts"), F.desc("id")
        )
        baseline = (
            pre.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        kept = log.filter(F.col("ts") >= F.lit(cutoff)).unionByName(baseline)
        n_total = log.count()
        tmp = f"{self.root}/.records_tmp_{uuid.uuid4().hex[:8]}"
        (
            kept.withColumn("dt", F.date_format("ts", "yyyy-MM-dd"))
            .repartition("dt")
            .write.mode("overwrite")
            .partitionBy("dt")
            .parquet(tmp)
        )
        # (the floor marker was written up front, BEFORE the swap: a crash
        # between the swap and a post-swap marker write would leave
        # truncated history with no floor — reads below the cutoff would
        # silently return collapsed state. Marker-first fails in the safe
        # direction: crash after marker, before swap → history intact,
        # sub-cutoff reads refused — conservative, never wrong.)
        old = f"{self.root}/.records_old_{uuid.uuid4().hex[:8]}"
        os.rename(self.records_path, old)
        os.rename(tmp, self.records_path)
        shutil.rmtree(old)
        n_kept = self.spark.read.schema(RECORD_SCHEMA).parquet(
            self.records_path
        ).count()
        self._invalidate()
        self._timed("expire", t0)
        return {
            "cutoff": cutoff.isoformat(),
            "n_expired": n_total - n_kept,
            "n_kept": n_kept,
        }

    def history(self, limit: int = 10) -> DataFrame:
        """Last N rollback entries, newest first (main.py:251-267) — planned
        as TakeOrderedAndProject."""
        if not os.path.isdir(self.rollback_log_path):
            return self.spark.createDataFrame([], AUDIT_SCHEMA)
        return (
            self.spark.read.schema(AUDIT_SCHEMA)
            .parquet(self.rollback_log_path)
            .orderBy(F.desc("ts"))
            .limit(limit)
        )

    # -- compare (reference main.py:270-343) ---------------------------------

    def compare(self, record_id: str, start=None, end=None) -> dict:
        """Field-level diff of one key between two as-of points. Defaults to
        the key's first/last occurrence (main.py:280-294). JSON payloads diff
        per-field over the key union keeping changed keys (main.py:322-326);
        non-JSON payloads fall back to whole-value from/to (main.py:334-343).

        Retention interplay: EXPLICIT start/end below the retention floor
        are refused like any other as-of read (the expired log would make a
        pre-baseline key look unborn). The first/last-occurrence DEFAULTS
        stay allowed even when the first occurrence is the pre-cutoff
        baseline row: at its own timestamp the baseline WAS the current
        version, so the diff endpoint is exact."""
        t0 = time.perf_counter()
        if start is not None:
            start = parse_time(start)
            self._check_floor(start, "compare(start)")
        if end is not None:
            end = parse_time(end)
            self._check_floor(end, "compare(end)")
        # one read of the key's versions (bounded by the later as-of point
        # when both are given); bounds and as-of points are worked out here
        until = max(start, end) if start is not None and end is not None else None
        rows = (
            self.log(until=until)
            .filter(F.col("record_id") == record_id)
            .select("id", "version", "version_num", "data", "ts", F.unix_micros("ts").alias("us"))
            .collect()
        )
        if start is None or end is None:
            if not rows:
                raise KeyError(f"record {record_id!r} not found")
            if start is None:
                start = parse_time(min(rows, key=lambda r: r["us"])["ts"])
            if end is None:
                end = parse_time(max(rows, key=lambda r: r["us"])["ts"])

        def point(ts):
            # latest version at ts, tie-broken like state_at
            cut = T.TimestampType().toInternal(ts)
            live = [r for r in rows if r["us"] <= cut]
            return max(live, key=lambda r: (r["version_num"], r["us"], r["id"]), default=None)

        s_row, e_row = point(start), point(end)

        def as_obj(row):
            if row is None:
                return None
            try:
                return json.loads(row["data"])
            except (json.JSONDecodeError, TypeError):
                return row["data"]

        s_obj, e_obj = as_obj(s_row), as_obj(e_row)
        if isinstance(s_obj, dict) and isinstance(e_obj, dict):
            diff = {
                k: {"from": s_obj.get(k), "to": e_obj.get(k)}
                for k in sorted(set(s_obj) | set(e_obj))
                if s_obj.get(k) != e_obj.get(k)
            }
        else:
            diff = {} if s_obj == e_obj else {"value": {"from": s_obj, "to": e_obj}}
        self._timed("compare", t0)
        return {
            "record_id": record_id,
            "start_timestamp": start.isoformat(),
            "end_timestamp": end.isoformat(),
            "start_version": s_row["version"] if s_row else None,
            "end_version": e_row["version"] if e_row else None,
            "differences": diff,
        }

    # -- cache ----------------------------------------------------------------

    def _invalidate(self) -> None:
        """Writes invalidate all cached as-of results (main.py:95, 227-228)."""
        for df in self._cache.values():
            df.unpersist()
        self._cache.clear()
