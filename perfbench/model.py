"""Pure-Python model of the vault's version log, for untimed output checks.

It applies ``record``, ``record_bulk`` and ``rollback`` with the semantics
the ``TemporalVault`` docstrings state, and answers ``query``, ``state_at``
and ``compare`` from them. Snapshots and compaction change no logical
state, so the model has none. Rows are dicts with the vault's columns;
timestamps are naive UTC datetimes truncated to the second.

``query`` and ``state_at`` results are compared as (row count, checksum):
the checksum is the sum of CRC32 over ``record_id|version|data|epoch
seconds`` of each row, which Spark computes with ``crc32`` and Python with
``zlib.crc32`` — order-insensitive and free of the row ids that
``record()`` draws at random.
"""

from __future__ import annotations

import calendar
import json
import zlib
from datetime import datetime


def _epoch(ts: datetime) -> int:
    return calendar.timegm(ts.utctimetuple())


def row_crc(record_id: str, version: str, data: str, ts: datetime) -> int:
    return zlib.crc32(f"{record_id}|{version}|{data}|{_epoch(ts)}".encode())


def checksum(rows) -> tuple[int, int]:
    """(row count, checksum) of model rows, which carry their CRC."""
    return len(rows), sum(r["crc"] for r in rows)


def spark_checksum(df) -> tuple[int, int]:
    """The same (count, checksum) pair computed by Spark over a result."""
    from pyspark.sql import functions as F

    crc = F.crc32(F.concat_ws(
        "|", "record_id", "version", "data", F.unix_timestamp("ts").cast("string")))
    row = df.agg(F.count(F.lit(1)), F.sum(crc)).collect()[0]
    return int(row[0]), int(row[1] or 0)


class VersionLog:
    def __init__(self):
        self.rows: list[dict] = []
        self._latest: dict[str, int] = {}  # record_id -> max version_num

    # -- writes ---------------------------------------------------------------

    def _add(self, record_id: str, data: str, ts: datetime, num: int) -> dict:
        row = {
            "record_id": record_id,
            "version": f"v{num}",
            "version_num": num,
            "data": data,
            "ts": ts,
            "previous_version": f"v{num - 1}" if num > 1 else None,
            "crc": row_crc(record_id, f"v{num}", data, ts),
        }
        self.rows.append(row)
        self._latest[record_id] = max(num, self._latest.get(record_id, 0))
        return row

    def record(self, record_id: str, data: str, ts: datetime) -> dict:
        """One new version: v{max + 1} of the key, whatever its timestamp."""
        return self._add(record_id, data, ts.replace(microsecond=0),
                         self._latest.get(record_id, 0) + 1)

    def record_bulk(self, batch: list[tuple[str, str, datetime]]) -> int:
        """Each key's batch rows continue its chain in (ts, data) order."""
        base = dict(self._latest)
        by_key: dict[str, list[tuple[datetime, str]]] = {}
        for rid, data, ts in batch:
            by_key.setdefault(rid, []).append((ts.replace(microsecond=0), data))
        for rid, items in by_key.items():
            for off, (ts, data) in enumerate(sorted(items), start=1):
                self._add(rid, data, ts, base.get(rid, 0) + off)
        return len(batch)

    def rollback(self, ts: datetime) -> dict:
        """Rows after ``ts`` of keys alive at ``ts`` take the as-of row's
        data and version labels (keeping their own ts); keys born after
        ``ts`` disappear."""
        affected = [r for r in self.rows if r["ts"] > ts]
        state = {r["record_id"]: r for r in self._latest_rows(ts)}
        kept = [r for r in self.rows if r["ts"] <= ts]
        for r in affected:
            s = state.get(r["record_id"])
            if s is not None:
                kept.append({**s, "ts": r["ts"],
                             "crc": row_crc(s["record_id"], s["version"], s["data"], r["ts"])})
        self.rows = kept
        self._latest = {}
        for r in kept:
            self._latest[r["record_id"]] = max(r["version_num"], self._latest.get(r["record_id"], 0))
        return {
            "rolled_back_to": ts.isoformat(),
            "n_affected": len(affected),
            "affected_keys": sorted({r["record_id"] for r in affected}),
        }

    # -- reads ----------------------------------------------------------------

    def _latest_rows(self, ts: datetime) -> list[dict]:
        best: dict[str, dict] = {}
        for r in self.rows:
            if r["ts"] <= ts:
                b = best.get(r["record_id"])
                if b is None or (r["version_num"], r["ts"]) > (b["version_num"], b["ts"]):
                    best[r["record_id"]] = r
        return list(best.values())

    def query(self, ts: datetime) -> tuple[int, int]:
        return checksum([r for r in self.rows if r["ts"] <= ts])

    def state_at(self, ts: datetime) -> tuple[int, int]:
        return checksum(self._latest_rows(ts))

    def compare(self, record_id: str, start: datetime, end: datetime) -> dict:
        key_rows = [r for r in self.rows if r["record_id"] == record_id]

        def point(t):
            live = [r for r in key_rows if r["ts"] <= t]
            return max(live, key=lambda r: r["version_num"]) if live else None

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
        return {
            "record_id": record_id,
            "start_timestamp": start.isoformat(),
            "end_timestamp": end.isoformat(),
            "start_version": s_row["version"] if s_row else None,
            "end_version": e_row["version"] if e_row else None,
            "differences": diff,
        }
