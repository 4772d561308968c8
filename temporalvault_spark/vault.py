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
as-of state is one window shuffle bounded below by the newest snapshot.
Every log rewrite touches only the dt= partitions it changes: rollback(T)
reads, audits and rewrites the partitions from date(T) on (an audit
aggregate plus one rewrite job: state + inner join), expire the partitions
up to the cutoff's date, compact the partitions holding several files; the
rest of the log is hard-linked into the new directory before the atomic
swap. That replaces the reference's 2-round-trips-per-record loop
(main.py:191-224), which likewise touches only the rows after the target.

Each piece of temporal semantics has one implementation: latest-per-key is
``operators.temporal.latest_per_key`` (state_at, expire's baselines and the
registry's as-of operators), every log rewrite (rollback, compact, expire)
is ``_replace_log``, and stale snapshots are dropped by
``_drop_snapshots_from`` over the one snapshot listing, ``_snapshots``.

Write path: the vault keeps a ``record_id -> max version_num`` map on the
driver (the reference's read-before-write, main.py:77-82, without a read).
It is built on the first write from the newest snapshot plus the
partition-pruned log tail, updated by every write, and dropped by
``rollback`` and by ``_undo_stage``. ``record()`` then writes its one row
straight into ``records/dt=.../`` with pyarrow — hidden temp name, then an
atomic rename — so a single-row write runs no Spark job. Before any write
lands its data, it rewrites ``_generation`` with a fresh token; an instance
trusts its map only while the file still holds the token it last saw or
wrote, so a second ``TemporalVault`` on the same root used in turn (or a
writer that crashed between the token and its data) makes the next write
rebuild the map. Writers must still take turns: the vault is single-writer,
and two instances writing concurrently can both mint the same ``v{N+1}``.
The map holds one entry per key on the driver, and ``record_bulk`` sends it
along with the batch, one leading row per key in the batch's window shuffle.

Every ``record_bulk`` takes one path: one Spark job windows the batch and
writes it into a private stage directory, pyarrow reads the staged
``record_id``/``version_num``/``ts`` back (row count, earliest ``ts``, the
map's new maxima), and ``_promote_stage`` renames the staged files into the
log as ``ingest-<id>-...``. The stage is the undo log of both kinds of
append: ``_undo_stage`` deletes the ``ingest-<id>-`` files and then the
stage. An untagged append commits by removing its ``.bulk_stage_<id>``;
``_recover_swaps`` undoes any such stage left by a crash, so a crashed
append reopens to the log before it, and an append whose promotion raises
undoes itself before the error reaches its caller. A tagged append
(streaming ingest) keeps its ``.ingest_stage_<tag>`` until its caller
commits (``finish_ingest``) or aborts (``abort_ingest``).
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
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from temporalvault_spark.operators.temporal import asof_all_versions, latest_per_key
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


# a rollback's audit row rides its log swap under this name in the new
# log's root (Spark skips '_' names) until ``_publish_audit`` moves it
# into rollback_log/
_PENDING_AUDIT = "_rollback_audit"

_SNAPSHOT_NAME = "%Y%m%dT%H%M%S"  # snapshots/<snap_ts>/, whole seconds

_BULK_STAGE = ".bulk_stage_"  # an untagged record_bulk's stage: <root>/.bulk_stage_<id>
# the staged columns record_bulk reads back; Spark writes ts as INT96, which
# pyarrow reads as a naive timestamp holding UTC, typed here as the instant
_STAGED_SCHEMA = pa.schema(
    [("record_id", pa.string()), ("version_num", pa.int32()), ("ts", _ARROW_TYPES["timestamp"])]
)
_STAGED_FORMAT = ds.ParquetFileFormat(read_options={"coerce_int96_timestamp_unit": "us"})

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
    A tz-aware datetime becomes the naive local time of the same instant.

    Grammar (the common ``parsedatetime`` forms the reference accepts):
    now / today / yesterday / tomorrow (optionally "at 4pm" / "at 16:30"),
    noon / midnight, bare clock times ("3pm", "15:04"), "N units ago" /
    "in N units" / "N units from now" (second..year), "last/next <weekday>",
    "last/next week|month|year", month-name dates ("march 5", "5 march 2026",
    "jan 5 at 3pm"), and ISO / "YYYY-MM-DD HH:MM:SS"."""
    if isinstance(text, datetime):
        if text.tzinfo is not None:
            # snapshot names, the retention floor and compare's bounds are
            # naive; TimestampType.toInternal maps this form to the same instant
            text = text.astimezone().replace(tzinfo=None)
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
    # ISO / "YYYY-MM-DD HH:MM:SS" forms, with or without an offset
    return parse_time(datetime.fromisoformat(text.strip()))


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
        # query()-result cache: truncated-ts -> persisted DataFrame (the
        # engine analog of the reference's 1h-TTL Redis cache, main.py:115-147)
        self._cache: dict[str, DataFrame] = {}
        self.metrics: dict[str, dict[str, float]] = {}
        # record_id -> max version_num, and the _generation token it is
        # valid for (None: not built yet)
        self._latest: dict[str, int] | None = None
        self._gen_seen: str | None = None
        self._recover_swaps()

    # -- observability (reference: Prometheus counters/histograms,
    # main.py:30-53; here a plain op->count/latency map) ---------------------

    def _timed(self, op: str, t0: float) -> None:
        m = self.metrics.setdefault(op, {"count": 0, "total_sec": 0.0})
        m["count"] += 1
        m["total_sec"] += time.perf_counter() - t0

    # -- log access ----------------------------------------------------------

    def _recover_swaps(self) -> None:
        """The one crash recovery: for ``_replace_log``'s two-rename
        directory swap (tmp links + write → records->old → tmp->records →
        publish audit → rm old) and for untagged bulk appends. A crash
        between the two renames leaves no records/ dir with the data
        stranded in .records_old_*; a crash before/after leaves orphaned
        .records_tmp_* / .records_old_* dirs that would otherwise accumulate
        forever. Run at vault open and before every op that rewrites the
        log:

        - records/ missing + a COMPLETE tmp (Spark's _SUCCESS marker, written
          only when the job finished) → the swap had passed the point of no
          return: promote the tmp.
        - records/ missing + no complete tmp → the swap never completed:
          restore the old dir (pre-op state).
        - a rollback audit row still pending in the live log belongs to a
          swap that took effect → published; one in a tmp or old dir belongs
          to a swap that did not (or is already published) → removed with it.
        - everything left over after that is garbage from finished or failed
          ops → removed.
        - a ``.bulk_stage_<id>`` dir belongs to an untagged ``record_bulk``
          that never reached its commit point → undone by ``_undo_stage``
          (files promoted as ``ingest-<id>-...`` deleted, then the stage).
          Tagged stages are left to their caller (``pending_ingest_tags``)."""
        names = os.listdir(self.root)
        olds = sorted(f"{self.root}/{n}" for n in names if n.startswith(".records_old_"))
        tmps = sorted(f"{self.root}/{n}" for n in names if n.startswith(".records_tmp_"))
        if not os.path.isdir(self.records_path) and olds:
            complete = [t for t in tmps if os.path.exists(f"{t}/_SUCCESS")]
            if complete:
                os.rename(complete[-1], self.records_path)
                tmps.remove(complete[-1])
            else:
                os.rename(olds[-1], self.records_path)
                olds.pop()
        self._publish_audit()
        for d in olds + tmps:
            if os.path.isdir(d):
                shutil.rmtree(d)
        for n in names:
            if n.startswith(_BULK_STAGE):
                self._undo_stage(f"{self.root}/{n}", n[len(_BULK_STAGE):])

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
        only partitions dt >= date(S), dates taken in the session zone that
        names the partitions (``_dt_of``)."""
        if not self._has_records():
            return self.spark.createDataFrame([], RECORD_SCHEMA)
        df = self._scan()
        if until is not None:
            df = df.filter((F.col("dt") <= self._dt_of(until)) & (F.col("ts") <= F.lit(until)))
        if since_exclusive is not None:
            df = df.filter(
                (F.col("dt") >= self._dt_of(since_exclusive))
                & (F.col("ts") > F.lit(since_exclusive))
            )
        return df.drop("dt")

    def _scan(self) -> DataFrame:
        """The log with its ``dt`` partition column."""
        return self.spark.read.schema(
            T.StructType(RECORD_SCHEMA.fields + [T.StructField("dt", T.StringType())])
        ).parquet(self.records_path)

    def _read_partitions(self, dts) -> DataFrame:
        """The rows of the log's ``dt=`` partitions ``dts``, read pruned to
        them (empty-typed when none is named)."""
        if not dts:
            return self.spark.createDataFrame([], RECORD_SCHEMA)
        return self._scan().filter(F.col("dt").isin(sorted(dts))).drop("dt")

    def _partitions(self) -> dict[str, list[str]]:
        """dt -> the paths of the data files in the log's ``dt=`` directory
        (the Parquet files Spark's listing reads: it skips '.'/'_' names)."""
        if not os.path.isdir(self.records_path):
            return {}
        out = {}
        for name in os.listdir(self.records_path):
            d = f"{self.records_path}/{name}"
            if name.startswith("dt=") and os.path.isdir(d):
                out[name[3:]] = [
                    f"{d}/{f}"
                    for f in os.listdir(d)
                    if f.endswith(".parquet") and not f.startswith((".", "_"))
                ]
        return out

    def _dt_of(self, ts: datetime) -> str:
        """The ``dt=`` partition of the naive instant ``ts``: its date in the
        session zone, which names the partitions (naive values are local
        time, as ``TimestampType.toInternal`` reads them)."""
        us = T.TimestampType().toInternal(ts)
        return datetime.fromtimestamp(us // 1_000_000, self._session_tz()).strftime("%Y-%m-%d")

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
        self._drop_snapshots_from(ts)
        with self._mutating():
            _write_parquet(f"{self.records_path}/dt={self._dt_of(ts)}", _arrow_table([row], RECORD_SCHEMA))
        latest[record_id] = num
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

        Every bulk append commits one way, and its stage is its undo log: one
        Spark job windows the batch and writes it into a private stage
        directory; pyarrow reads the staged ``record_id``, ``version_num``
        and ``ts`` back, which gives the row count, the earliest ``ts``
        (stale snapshots are dropped from it) and each key's new max for the
        version map; then ``_promote_stage`` renames the staged files into
        the log as ``ingest-<id>-...``. An untagged append's stage is
        ``.bulk_stage_<id>``, and removing it is the append's commit point:
        a crash before that leaves the stage, and ``_recover_swaps`` undoes
        the append at the next open, so the vault reopens to the log before
        it. An error raised while the files are promoted or the stage is
        removed undoes the append at once, tagged or not, so the caller
        never writes on top of rows that a later open would delete.

        ``stage_tag`` makes the append the exactly-once seam of streaming
        ingest: the stage is ``.ingest_stage_<tag>``, the promoted files
        carry the tag, and the stage stays after the call. The caller then
        records its own durable commit marker and calls ``finish_ingest``;
        on restart, ``pending_ingest_tags`` + marker presence decide
        ``abort_ingest`` vs ``finish_ingest`` per tag. A stage left by a
        failed earlier try of the same tag is undone first. Single-writer:
        don't run compact()/rollback() while a tagged ingest is in flight
        (they rewrite the file layout the tag-undo relies on)."""
        t0 = time.perf_counter()
        if stage_tag is None:
            tag = uuid.uuid4().hex
            stage = f"{self.root}/{_BULK_STAGE}{tag}"
        else:
            tag, stage = stage_tag, self._stage_path(stage_tag)
            if os.path.isdir(stage):
                self._undo_stage(stage, tag)
        latest = self._latest_versions()
        batch = rows.select(
            "record_id",
            F.col("data").cast("string").alias("data"),
            F.date_trunc("second", "ts").alias("ts"),
            F.lit(None).cast("int").alias("base_num"),
        )
        # base numbers come from the version map, not from grouping the whole
        # log: each key's max rides the window's own shuffle as a leading
        # row (a broadcast of the map would run a Spark job of its own)
        if latest:
            base = pa.table(
                {
                    "record_id": pa.array(list(latest), pa.string()),
                    "base_num": pa.array(list(latest.values()), pa.int32()),
                }
            )
            batch = batch.unionByName(self.spark.createDataFrame(base), allowMissingColumns=True)
        w = Window.partitionBy("record_id").orderBy(F.col("base_num").isNull(), "ts", "data")
        batch = (
            # row_number counts the leading row when there is one
            batch.withColumn(
                "version_num",
                (F.coalesce(F.first("base_num").over(w) - 1, F.lit(0)) + F.row_number().over(w)).cast("int"),
            )
            .filter(F.col("base_num").isNull())
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
        self._append(batch, stage)
        staged = ds.dataset(stage, schema=_STAGED_SCHEMA, format=_STAGED_FORMAT).to_table()
        if staged.num_rows:
            self._drop_snapshots_from(parse_time(pc.min(staged["ts"]).as_py()))
        try:
            with self._mutating():
                self._promote_stage(stage, tag)
                if stage_tag is None:
                    shutil.rmtree(stage)  # the commit point
        except OSError:
            self._undo_stage(stage, tag)  # a failed append leaves no row behind
            raise
        hi = staged.group_by("record_id").aggregate([("version_num", "max")])
        latest.update(zip(hi["record_id"].to_pylist(), hi["version_num_max"].to_pylist()))
        self._invalidate()
        self._timed("record_bulk", t0)
        return staged.num_rows

    # -- transactional ingest (staged commit) --------------------------------

    def _stage_path(self, tag: str) -> str:
        if not re.fullmatch(r"[A-Za-z0-9_-]+", tag):
            raise ValueError(f"ingest tag must be filename-safe, got {tag!r}")
        return f"{self.root}/.ingest_stage_{tag}"

    def _promote_stage(self, stage: str, tag: str) -> None:
        """Move a stage's part-files into the live log, each renamed
        ``ingest-<tag>-<name>`` (per-file renames are atomic; the tag makes
        any partial promotion identifiable, and ``_undo_stage`` reverses
        it)."""
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
        """Drop the staging dir after the caller's commit marker is durable
        (the data is already live). Idempotent."""
        shutil.rmtree(self._stage_path(tag), ignore_errors=True)

    def abort_ingest(self, tag: str) -> None:
        """Undo an uncommitted ingest with ``_undo_stage``: its log files
        go, whether the promotion finished or died halfway, then its
        staging dir. Idempotent — safe to re-run after a crash during the
        abort."""
        self._undo_stage(self._stage_path(tag), tag)

    def _undo_stage(self, stage: str, tag: str) -> None:
        """The one undo of a bulk append (``abort_ingest``, and
        ``_recover_swaps`` for an untagged append that never committed):
        delete every log file named ``ingest-<tag>-...``, then the stage, so
        a crash in between leaves the stage to undo again. Drops the version
        map: the removed rows may have held a key's max."""
        with self._mutating():
            for files in self._partitions().values():
                for f in files:
                    if os.path.basename(f).startswith(f"ingest-{tag}-"):
                        os.remove(f)
        self._latest = None
        shutil.rmtree(stage, ignore_errors=True)
        self._invalidate()

    def _append(self, df: DataFrame, path: str | None = None) -> None:
        """The one dt-partitioned writer (appends, staged ingest and
        ``_replace_log``): ``df`` by its session-zone date into ``path``
        (the log by default), one file per dt= directory, its rows sorted by
        (record_id, version_num). Every file of the log is therefore sorted
        (``record()``'s files hold one row), so a partition with one file is
        already compact. ``dt`` leads the sort, so the writer adds none."""
        (
            df.withColumn("dt", F.date_format("ts", "yyyy-MM-dd"))
            .repartition("dt")
            .sortWithinPartitions("dt", "record_id", "version_num")
            .write.mode("append")
            .partitionBy("dt")
            .parquet(path or self.records_path)
        )

    def _replace_log(self, df: DataFrame, dts, audit: pa.Table | None = None) -> None:
        """Atomically replace the log's ``dt=`` partitions ``dts`` with the
        rows of ``df``, each of which must belong in one of them — the one
        log rewrite (rollback, compact, expire; naming every partition
        rewrites the whole log). The new log is built in a hidden sibling
        ``.records_tmp_*``: every data file of every other partition is
        hard-linked in (``os.link``, so records/ and the tmp must share one
        local filesystem), then one Spark write adds ``df``, whose
        ``_SUCCESS`` lands last and marks the tmp complete. records/ is then
        renamed aside to ``.records_old_*``, the tmp renamed in and the old
        directory removed. A rollback passes its ``audit`` row, which rides
        the swap inside the tmp and is published to rollback_log/ only once
        the tmp is the live log. A crash at any step leaves a state that
        ``_recover_swaps`` repairs to the log before or after the rewrite."""
        tmp = f"{self.root}/.records_tmp_{uuid.uuid4().hex[:8]}"
        os.makedirs(tmp)
        if audit is not None:
            pq.write_table(audit, f"{tmp}/{_PENDING_AUDIT}")
        for dt, files in self._partitions().items():
            if dt not in dts:
                os.makedirs(f"{tmp}/dt={dt}")
                for f in files:
                    os.link(f, f"{tmp}/dt={dt}/{os.path.basename(f)}")
        self._append(df, tmp)
        old = f"{self.root}/.records_old_{uuid.uuid4().hex[:8]}"
        if os.path.isdir(self.records_path):
            os.rename(self.records_path, old)
        os.rename(tmp, self.records_path)
        self._publish_audit()
        if os.path.isdir(old):
            shutil.rmtree(old)
        self._invalidate()

    def _publish_audit(self) -> None:
        """Move the audit row of a rollback whose swap took effect from the
        live log into rollback_log/, where ``history()`` reads it."""
        pending = f"{self.records_path}/{_PENDING_AUDIT}"
        if os.path.exists(pending):
            os.makedirs(self.rollback_log_path, exist_ok=True)
            os.rename(pending, f"{self.rollback_log_path}/part-{uuid.uuid4().hex}.parquet")

    def _drop_snapshots_from(self, ts: datetime) -> None:
        """Drop every snapshot stamped at or after ``ts``. A write stamped
        at-or-before a snapshot's timestamp makes that snapshot stale (it was
        materialized without the new row, yet claims the state at snap_ts) —
        snapshot-aware reads would silently miss the version. Found by the
        model-based property test: record@T, snapshot@T, record@T again →
        state_at returned v1 instead of v2. Writers call this before their
        data lands, so a crash in between leaves no stale snapshot."""
        for snap_ts, path in self._snapshots():
            if snap_ts >= ts:
                shutil.rmtree(path)

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
        out = asof_all_versions(self.log(until=ts), ts)
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
        out = latest_per_key(log)
        self._timed("state_at", t0)
        return out

    # -- snapshots ------------------------------------------------------------

    def snapshot(self, timestamp) -> str:
        """Materialize state_at(T) to snapshots/<iso>/ (the declared-but-dead
        snapshots table, models.py:27-38, actually implemented)."""
        ts = parse_time(timestamp)
        path = f"{self.snapshots_path}/{ts.strftime(_SNAPSHOT_NAME)}"
        self.state_at(ts).write.mode("overwrite").parquet(path)
        return path

    def _snapshots(self) -> list[tuple[datetime, str]]:
        """(snap_ts, path) of every snapshot, oldest first — the one reader
        of snapshot directory names."""
        if not os.path.isdir(self.snapshots_path):
            return []
        out = []
        for name in os.listdir(self.snapshots_path):
            try:
                snap_ts = datetime.strptime(name, _SNAPSHOT_NAME)
            except ValueError:
                continue
            out.append((snap_ts, f"{self.snapshots_path}/{name}"))
        return sorted(out)

    def _nearest_snapshot(self, ts: datetime):
        """(snap_ts, DataFrame) of the newest snapshot at or before ts, or
        (None, None)."""
        older = [(snap_ts, path) for snap_ts, path in self._snapshots() if snap_ts <= ts]
        if not older:
            return None, None
        snap_ts, path = older[-1]
        return snap_ts, self.spark.read.schema(RECORD_SCHEMA).parquet(path)

    # -- rollback (reference main.py:154-248) --------------------------------

    def rollback(self, timestamp) -> dict:
        """Roll the table back to T. Rows with ts > T live only in the
        partitions from date(T) on (session zone), so rollback reads, audits
        and rewrites only those: one aggregate job audits them (count +
        affected keys, main.py:174-188), then one rewrite job writes their
        post-rollback rows — pre-T rows unchanged; post-T rows of keys alive
        at T rewritten to the as-of state's data AND version labels
        (version/version_num/previous_version, matching the reference UPDATE
        main.py:200-214); keys born after T dropped (main.py:217-224) — and
        ``_replace_log`` swaps them in, hard-linking the earlier partitions.
        One shuffle replaces the reference's per-record UPDATE/DELETE loop.
        With no row after T the log is left alone and only the audit row is
        written. Otherwise the audit row rides the swap and shows in
        ``history()`` only once the swap took effect. Deliberate deviation:
        the reference stamps rewritten rows timestamp=CURRENT_TIMESTAMP
        (main.py:204), which makes a rolled-back row look newer than the
        rollback target and breaks subsequent as-of reads; we preserve each
        row's original ts instead."""
        t0 = time.perf_counter()
        self._recover_swaps()
        ts = parse_time(timestamp)
        # refuse BEFORE the audit: below the floor, state_at would raise only
        # after the audit job had run
        self._check_floor(ts, "rollback")
        scope = {dt for dt in self._partitions() if dt >= self._dt_of(ts)}
        log = self._read_partitions(scope)
        affected = log.filter(F.col("ts") > F.lit(ts))
        audit = affected.agg(
            F.count("*").alias("n_affected"),
            F.array_sort(F.collect_set("record_id")).alias("affected_keys"),
        ).collect()[0]
        audit_row = _arrow_table(
            [{
                "ts": datetime.now().replace(microsecond=0),
                "rollback_to": ts,
                "n_affected": audit["n_affected"],
                "rollback_data": json.dumps({"record_ids": list(audit["affected_keys"])}),
            }],
            AUDIT_SCHEMA,
        )
        if not audit["n_affected"]:
            _write_parquet(self.rollback_log_path, audit_row)
        else:
            # post-T rows of surviving keys are rewritten to the target
            # version's data AND labels (version / version_num /
            # previous_version), exactly like the reference UPDATE
            # (main.py:200-214); only the reference's
            # timestamp=CURRENT_TIMESTAMP is deviated from (ts preserved —
            # see docstring)
            state = self.state_at(ts).select(
                "record_id",
                F.col("data").alias("asof_data"),
                F.col("version").alias("asof_version"),
                F.col("version_num").alias("asof_version_num"),
                F.col("previous_version").alias("asof_previous_version"),
            )
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
            new_rows = log.filter(F.col("ts") <= F.lit(ts)).unionByName(rewritten)
            # snapshots materialized AFTER the rollback target contain
            # rolled-back rows — keeping them would resurrect deleted keys on
            # the next snapshot-aware state_at(); snapshots <= ts are still
            # exact (rollback never touches pre-ts history). ts and snapshot
            # names both have whole seconds (parse_time truncates), so "from
            # ts + 1 s" is exactly "after ts". Dropped before the swap: a
            # crash in between leaves the old log with fewer snapshots, never
            # a stale one.
            self._drop_snapshots_from(ts + timedelta(seconds=1))
            with self._mutating():
                self._replace_log(new_rows, scope, audit=audit_row)
            # rewritten labels and dropped keys lower maxima: rebuild on next write
            self._latest = None
        self._timed("rollback", t0)
        return {
            "rolled_back_to": ts.isoformat(),
            "n_affected": audit["n_affected"],
            "affected_keys": list(audit["affected_keys"]),
        }

    def compact(self) -> dict:
        """Rewrite every ``dt=`` directory holding two or more files to one
        file, rows sorted by (record_id, version_num). Single-record appends
        each add a file; at an append-heavy 100 TB log the file count — not
        the byte count — is what kills scan planning (footer reads, task
        scheduling). The sort restores key locality, so parquet min/max stats
        on record_id prune key-filtered reads (the index role). Every file
        the log's writers make is already sorted, so a partition with one
        file is compact and is left alone (hard-linked by the rewrite); on a
        compact log this runs no Spark job. The rewrite is
        ``_replace_log``'s; contents are row-identical, so readers never
        observe a difference."""
        t0 = time.perf_counter()
        self._recover_swaps()
        parts = self._partitions()
        scope = {dt for dt, files in parts.items() if len(files) > 1}
        if scope:
            self._replace_log(self._read_partitions(scope), scope)
        after = sum(map(len, self._partitions().values()))
        self._timed("compact", t0)
        return {"files_before": sum(map(len, parts.values())), "files_after": after}

    # -- retention ------------------------------------------------------------

    def retention_floor(self) -> datetime | None:
        """The time-travel floor set by expire(), or None: as-of reads below
        it are refused (their history is gone)."""
        p = f"{self.root}/_retention"
        if not os.path.isfile(p):
            return None
        with open(p) as f:
            return parse_time(f.read().strip())

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

        Rows before the cutoff live only in the partitions up to the
        cutoff's date (session zone), so only those are read and rewritten:
        keep = their rows at or after the cutoff plus ``latest_per_key`` of
        the pre-cutoff rows — the same single per-key shuffle every temporal
        op pays — swapped in by ``_replace_log``, the later partitions
        hard-linked. Time travel below the cutoff is gone BY DESIGN, so the
        cutoff persists as a floor marker (_retention) and
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
        scope = {dt for dt in self._partitions() if dt <= self._dt_of(cutoff)}
        log = self._read_partitions(scope)
        baseline = latest_per_key(log.filter(F.col("ts") < F.lit(cutoff)))
        kept = log.filter(F.col("ts") >= F.lit(cutoff)).unionByName(baseline)
        n_total = self.log().count()
        # (the floor marker was written up front, BEFORE the swap: a crash
        # between the swap and a post-swap marker write would leave
        # truncated history with no floor — reads below the cutoff would
        # silently return collapsed state. Marker-first fails in the safe
        # direction: crash after marker, before swap → history intact,
        # sub-cutoff reads refused — conservative, never wrong.)
        if scope:
            self._replace_log(kept, scope)
        n_kept = self.log().count()
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
