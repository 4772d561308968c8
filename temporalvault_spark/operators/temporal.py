"""Temporal core operators — the reference's actual query surface
(SURVEY.md §2.1), re-expressed as single declarative Spark plans.

Reference cites are into /root/reference/app/. The reference delegates every
one of these to PostgreSQL row-at-a-time (and rollback is an N+1 loop,
main.py:191-224); here each is ONE distributed job: scan → pushed-down filter
→ (at most) one shuffle on record_id → project.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from temporalvault_spark.catalog import load_catalog, temporal_oracle
from temporalvault_spark.constants import (
    PROBE_KEY,
    PROBE_TS,
    PROBE_TS_EARLY,
    PROBE_TS_LATE,
)
from temporalvault_spark.registry import query


def _tr(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_catalog(spark, sf_dir).temporal_records


# --- as-of reads -----------------------------------------------------------


def latest_per_key(df: DataFrame) -> DataFrame:
    """Each key's latest row of ``df``, with ``df``'s columns — the one
    latest-per-key kernel, shared by every as-of operator here and by the
    vault (state_at, expire's baselines). One window over record_id = one
    shuffle; Spark plans partial filtering via WindowGroupLimit before the
    shuffle (rank<=1 pushdown).

    Ties on version_num fall to (ts, id): after a vault rollback the log can
    hold several rows with the same (record_id, version_num) — the rewritten
    rows keep their own ts and id — so the pick must still be deterministic.
    The catalog numbers versions with row_number(), unique per key, so the
    tie-breakers change no registry result."""
    w = Window.partitionBy("record_id").orderBy(
        F.desc("version_num"), F.desc("ts"), F.desc("id")
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(df.columns)
    )


def asof_all_versions(tr: DataFrame, ts: str | datetime) -> DataFrame:
    """All versions of all keys at or before ts, newest first — the faithful
    /query semantic (main.py:127-129: no per-key dedup). The filter is pushed
    to the parquet scan; the sort is presentation-only."""
    return (
        tr.filter(F.col("ts") <= F.lit(ts).cast("timestamp"))
        .select("id", "record_id", "version", "data", "ts")
        .orderBy(F.desc("ts"), F.desc("id"))
    )


def asof_latest_per_key(tr: DataFrame, ts: str) -> DataFrame:
    """State of every key as of ts — latest version ≤ ts per key
    (main.py:193-196 does this per-key in a loop; README.md:7 is the claim)."""
    return latest_per_key(tr.filter(F.col("ts") <= F.lit(ts).cast("timestamp"))).select(
        "record_id", "version", "data", "ts"
    )


@query(
    "asof_all_versions",
    temporal_oracle(
        f"""SELECT id, record_id, version, data, ts
        FROM temporal_records WHERE ts <= TIMESTAMP '{PROBE_TS}'"""
    ),
)
def q_asof_all_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return asof_all_versions(_tr(spark, sf_dir), PROBE_TS)


@query(
    "asof_latest_per_key",
    temporal_oracle(
        f"""SELECT record_id, version, data, ts FROM (
          SELECT record_id, version, data, ts,
                 ROW_NUMBER() OVER (PARTITION BY record_id ORDER BY version_num DESC) AS rn
          FROM temporal_records WHERE ts <= TIMESTAMP '{PROBE_TS}'
        ) t WHERE rn = 1"""
    ),
)
def q_asof_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    return asof_latest_per_key(_tr(spark, sf_dir), PROBE_TS)


# --- snapshot-accelerated as-of --------------------------------------------
# The vault's snapshot-bounded reconstruction (vault.state_at: newest
# materialized snapshot <= T unioned with ONLY the partition-pruned log tail
# after it — the cost bound the reference's declared-but-dead snapshots
# table, models.py:27-38, was meant to provide). Result is IDENTICAL to
# asof_latest_per_key by construction, so the oracle is the same SQL; what
# this row adds to the scorecard is the accelerated read path itself, whose
# pruned tail scan tests/test_plan_hygiene.py pins (dt >= snapshot date in
# PartitionFilters).

SNAP_TS = "2024-01-10 00:00:00"  # mid-range: 9 days of log become snapshot

_SNAPSHOT_VAULTS: dict[tuple[str, str], str] = {}


def snapshot_vault(spark: SparkSession, sf_dir: str):
    """A vault seeded ONCE per (Spark application, sf_dir) with the
    corpus's temporal_records — rows appended verbatim (ids, versions,
    timestamps preserved), then a snapshot materialized at SNAP_TS. Every
    subsequent state_at() reads snapshot + pruned tail."""
    import os as _os
    import tempfile as _tempfile

    from temporalvault_spark.vault import TemporalVault

    key = (spark.sparkContext.applicationId, _os.path.normpath(sf_dir))
    root = _SNAPSHOT_VAULTS.get(key)
    if root is None:
        root = _tempfile.mkdtemp(prefix="tv_snapvault_")
        vault = TemporalVault(spark, root)
        vault._append(_tr(spark, sf_dir))
        vault.snapshot(SNAP_TS)
        _SNAPSHOT_VAULTS[key] = root
        return vault
    return TemporalVault(spark, root)


@query(
    "asof_via_snapshot",
    temporal_oracle(
        f"""SELECT record_id, version, data, ts FROM (
          SELECT record_id, version, data, ts,
                 ROW_NUMBER() OVER (PARTITION BY record_id ORDER BY version_num DESC) AS rn
          FROM temporal_records WHERE ts <= TIMESTAMP '{PROBE_TS}'
        ) t WHERE rn = 1"""
    ),
)
def q_asof_via_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    vault = snapshot_vault(spark, sf_dir)
    return vault.state_at(PROBE_TS).select("record_id", "version", "data", "ts")


# --- write-path reads ------------------------------------------------------


@query(
    "latest_version_lookup",
    temporal_oracle(
        f"""SELECT record_id, version, data, ts
        FROM temporal_records WHERE record_id = '{PROBE_KEY}'
        ORDER BY version_num DESC LIMIT 1"""
    ),
)
def q_latest_version_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newest version of ONE key — the read-before-write (main.py:77-79).
    Key filter pushed to the scan; LIMIT 1 plans as TakeOrderedAndProject
    (top-k, no total sort)."""
    return (
        _tr(spark, sf_dir)
        .filter(F.col("record_id") == PROBE_KEY)
        .orderBy(F.desc("version_num"))
        .limit(1)
        .select("record_id", "version", "data", "ts")
    )


@query(
    "version_assign",
    temporal_oracle(
        """SELECT record_id,
               CONCAT('v', CAST(MAX(version_num) + 1 AS STRING)) AS next_version
        FROM temporal_records GROUP BY record_id"""
    ),
)
def q_version_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next version string per key, set-based form of main.py:82's
    ``v{int(latest[1:]) + 1}``. Partial max is map-side combined — no
    wide rows cross the shuffle."""
    return (
        _tr(spark, sf_dir)
        .groupBy("record_id")
        .agg(
            F.concat(F.lit("v"), (F.max("version_num") + 1).cast("string")).alias(
                "next_version"
            )
        )
    )


@query(
    "version_chain",
    temporal_oracle(
        """SELECT record_id, version, previous_version, ts FROM temporal_records"""
    ),
)
def q_version_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The previous_version backward chain (models.py:19, main.py:87) —
    stored by the reference, *computed* here with lag() at catalog build."""
    return _tr(spark, sf_dir).select("record_id", "version", "previous_version", "ts")


# --- compare ---------------------------------------------------------------


@query(
    "compare_bounds",
    temporal_oracle(
        f"""SELECT record_id, MIN(ts) AS first_ts, MAX(ts) AS last_ts
        FROM temporal_records WHERE record_id = '{PROBE_KEY}' GROUP BY record_id"""
    ),
)
def q_compare_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Default /compare range: first & last occurrence of a key
    (main.py:280-294 does it with two ORDER BY ... first() round trips;
    one aggregate here)."""
    return (
        _tr(spark, sf_dir)
        .filter(F.col("record_id") == PROBE_KEY)
        .groupBy("record_id")
        .agg(F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts"))
    )


def compare_diff(tr: DataFrame, record_id: str, ts_start: str, ts_end: str) -> DataFrame:
    """Field-level diff of one key's JSON payload between two as-of points
    (main.py:296-332): key-union of both payloads (main.py:324), keep keys
    whose values differ (null-safe), emit (field, from_val, to_val) rows —
    flattened so the oracle can check it (SURVEY.md §7).

    Pure builtins: from_json → map, map_keys union, element_at. Both as-of
    point reads are LIMIT-1 key-filtered scans (driver-cheap); the diff is a
    1×1 crossJoin — no data-sized shuffle anywhere.
    """

    def point(ts: str, alias: str) -> DataFrame:
        # the trailing agg(first(...)) keeps this a 1-row frame even when the
        # key has NO version <= ts (null payload): an empty frame would make
        # the crossJoin empty and silently report "no differences" for a key
        # whose fields were all added after ts_start
        return (
            tr.filter((F.col("record_id") == record_id) & (F.col("ts") <= F.lit(ts).cast("timestamp")))
            .orderBy(F.desc("version_num"))
            .limit(1)
            .agg(F.first("data").alias(alias))
        )

    start = point(ts_start, "start_data")
    end = point(ts_end, "end_data")
    empty_map = F.from_json(F.lit("{}"), "map<string,string>")
    m = start.crossJoin(end).select(
        F.coalesce(F.from_json("start_data", "map<string,string>"), empty_map).alias("sm"),
        F.coalesce(F.from_json("end_data", "map<string,string>"), empty_map).alias("em"),
    )
    fields = m.select(
        F.explode(
            F.array_distinct(F.concat(F.map_keys("sm"), F.map_keys("em")))
        ).alias("field"),
        "sm",
        "em",
    )
    return (
        fields.select(
            "field",
            F.element_at("sm", F.col("field")).alias("from_val"),
            F.element_at("em", F.col("field")).alias("to_val"),
        )
        .filter(~F.col("from_val").eqNullSafe(F.col("to_val")))
    )


@query(
    "compare_diff",
    temporal_oracle(
        f"""SELECT field, from_val, to_val FROM (
          WITH s AS (SELECT data FROM temporal_records
                     WHERE record_id = '{PROBE_KEY}' AND ts <= TIMESTAMP '{PROBE_TS_EARLY}'
                     ORDER BY version_num DESC LIMIT 1),
               e AS (SELECT data FROM temporal_records
                     WHERE record_id = '{PROBE_KEY}' AND ts <= TIMESTAMP '{PROBE_TS_LATE}'
                     ORDER BY version_num DESC LIMIT 1),
               ks AS (SELECT DISTINCT k FROM (
                   SELECT unnest(json_keys((SELECT data FROM s))) AS k
                   UNION ALL
                   SELECT unnest(json_keys((SELECT data FROM e))) AS k) u)
          SELECT k AS field,
                 json_extract_string((SELECT data FROM s), '$.' || k) AS from_val,
                 json_extract_string((SELECT data FROM e), '$.' || k) AS to_val
          FROM ks
        ) d WHERE from_val IS DISTINCT FROM to_val"""
    ),
)
def q_compare_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    return compare_diff(_tr(spark, sf_dir), PROBE_KEY, PROBE_TS_EARLY, PROBE_TS_LATE)


# --- rollback & history ----------------------------------------------------


@query(
    "rollback_audit",
    temporal_oracle(
        f"""SELECT COUNT(*) AS n_affected,
               COUNT(DISTINCT record_id) AS n_keys,
               STRING_AGG(DISTINCT record_id, ',' ORDER BY record_id) AS affected_keys
        FROM temporal_records WHERE ts > TIMESTAMP '{PROBE_TS}'"""
    ),
)
def q_rollback_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audit row a rollback writes first (main.py:174-188): count +
    affected record ids. collect_set is sorted then joined so the value is
    deterministic (Spark's collect order isn't)."""
    return (
        _tr(spark, sf_dir)
        .filter(F.col("ts") > F.lit(PROBE_TS).cast("timestamp"))
        .agg(
            F.count("*").alias("n_affected"),
            F.countDistinct("record_id").alias("n_keys"),
            F.array_join(F.array_sort(F.collect_set("record_id")), ",").alias(
                "affected_keys"
            ),
        )
    )


def rollback_state(tr: DataFrame, ts: str) -> DataFrame:
    """The table state a rollback produces (main.py:154-248), as one pure
    transformation instead of the reference's per-record UPDATE/DELETE loop:
      - rows at or before ts survive unchanged;
      - later rows of keys alive at ts are rewritten to the key's as-of state
        (main.py:200-214) — the inner join to the as-of state also drops keys
        born after ts (main.py:217-224's DELETE) in the same pass;
      - original row timestamps are preserved (the reference stamps
        CURRENT_TIMESTAMP — nondeterministic; deliberate deviation).
    Spark tables are immutable, so the engine applies this as an atomic
    overwrite (see vault.TemporalVault.rollback) — cleaner and one shuffle
    instead of 2 round-trips per record.
    """
    t = F.lit(ts).cast("timestamp")
    state = asof_latest_per_key(tr, ts).select(
        "record_id", F.col("data").alias("asof_data")
    )
    kept = tr.filter(F.col("ts") <= t).select("id", "record_id", "version", "data", "ts")
    rewritten = (
        tr.filter(F.col("ts") > t)
        .join(state, "record_id", "inner")
        .select("id", "record_id", "version", F.col("asof_data").alias("data"), "ts")
    )
    return kept.unionByName(rewritten)


@query(
    "rollback_state",
    temporal_oracle(
        f"""SELECT id, record_id, version, data, ts
        FROM temporal_records WHERE ts <= TIMESTAMP '{PROBE_TS}'
        UNION ALL
        SELECT t.id, t.record_id, t.version, s.data AS data, t.ts
        FROM temporal_records t
        JOIN (
          SELECT record_id, data FROM (
            SELECT record_id, data,
                   ROW_NUMBER() OVER (PARTITION BY record_id ORDER BY version_num DESC) AS rn
            FROM temporal_records WHERE ts <= TIMESTAMP '{PROBE_TS}'
          ) x WHERE rn = 1
        ) s USING (record_id)
        WHERE t.ts > TIMESTAMP '{PROBE_TS}'"""
    ),
)
def q_rollback_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rollback_state(_tr(spark, sf_dir), PROBE_TS)


@query(
    "history_topn",
    temporal_oracle(
        """SELECT id, record_id, version, ts FROM temporal_records
        ORDER BY ts DESC, id DESC LIMIT 20"""
    ),
)
def q_history_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-N-entries-newest-first (main.py:257-262, over the rollback log
    there; over the version log here since that's the shipped table). Spark
    plans TakeOrderedAndProject — per-partition top-k then a k-row merge on
    the driver, no total sort at any scale."""
    return (
        _tr(spark, sf_dir)
        .orderBy(F.desc("ts"), F.desc("id"))
        .limit(20)
        .select("id", "record_id", "version", "ts")
    )


PROBE_VERSION = 10


@query(
    "asof_by_version",
    temporal_oracle(
        f"""SELECT record_id, version, data, ts FROM (
          SELECT record_id, version, data, ts,
                 ROW_NUMBER() OVER (PARTITION BY record_id ORDER BY version_num DESC) AS rn
          FROM temporal_records WHERE version_num <= {PROBE_VERSION}
        ) t WHERE rn = 1"""
    ),
)
def q_asof_by_version(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-style ``VERSION AS OF``: each key's state at its version number
    ≤ N (vs asof_latest_per_key's timestamp probe). The reference addresses
    history only by timestamp (main.py:103-152); version-number time travel
    is the natural companion its ``version`` column implies (models.py:12).
    Same single-window shape as asof_latest_per_key: the version_num
    predicate is pushed to the scan, WindowGroupLimit keeps only one row per
    key per partition ahead of the shuffle."""
    return latest_per_key(
        _tr(spark, sf_dir).filter(F.col("version_num") <= PROBE_VERSION)
    ).select("record_id", "version", "data", "ts")


@query(
    "compare_diff_all",
    temporal_oracle(
        f""", s AS (
          SELECT record_id, data FROM (
            SELECT record_id, data,
                   ROW_NUMBER() OVER (PARTITION BY record_id
                                      ORDER BY version_num DESC) AS rn
            FROM temporal_records WHERE ts <= TIMESTAMP '{PROBE_TS_EARLY}') x
          WHERE rn = 1),
        e AS (
          SELECT record_id, data FROM (
            SELECT record_id, data,
                   ROW_NUMBER() OVER (PARTITION BY record_id
                                      ORDER BY version_num DESC) AS rn
            FROM temporal_records WHERE ts <= TIMESTAMP '{PROBE_TS_LATE}') x
          WHERE rn = 1),
        j AS (
          SELECT COALESCE(s.record_id, e.record_id) AS record_id,
                 s.data AS sd, e.data AS ed
          FROM s FULL OUTER JOIN e ON s.record_id = e.record_id),
        ks AS (
          SELECT record_id, sd, ed, unnest(list_distinct(
                   COALESCE(json_keys(sd), []) || COALESCE(json_keys(ed), [])
                 )) AS field
          FROM j)
        SELECT record_id, field,
               json_extract_string(sd, '$.' || field) AS from_val,
               json_extract_string(ed, '$.' || field) AS to_val
        FROM ks
        WHERE json_extract_string(sd, '$.' || field)
              IS DISTINCT FROM json_extract_string(ed, '$.' || field)"""
    ),
)
def q_compare_diff_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of /compare: field-level diffs for EVERY key between two
    as-of points — "what changed last week" across the whole vault, where
    the reference can only ask one key per HTTP call (main.py:270-343).

    One window per as-of state (both reuse the record_id partitioning the
    version log is already organized by), a full-outer join so keys born
    after T1 (all fields 'added') and keys absent at T2 surface too, then a
    per-row key-union explode — map payloads never ride a shuffle wider
    than the two states themselves. Output is (record_id, field, from, to)
    rows, the same flattened contract as compare_diff."""
    tr = _tr(spark, sf_dir)

    def state(ts: str, data_alias: str) -> DataFrame:
        return latest_per_key(tr.filter(F.col("ts") <= F.lit(ts).cast("timestamp"))).select(
            "record_id", F.col("data").alias(data_alias)
        )

    s = state(PROBE_TS_EARLY, "sd")
    e = state(PROBE_TS_LATE, "ed")
    empty_map = F.from_json(F.lit("{}"), "map<string,string>")
    j = (
        s.join(e, "record_id", "full_outer")
        .select(
            "record_id",
            F.coalesce(F.from_json("sd", "map<string,string>"), empty_map).alias("sm"),
            F.coalesce(F.from_json("ed", "map<string,string>"), empty_map).alias("em"),
        )
    )
    ks = j.select(
        "record_id",
        "sm",
        "em",
        F.explode(F.array_distinct(F.concat(F.map_keys("sm"), F.map_keys("em")))).alias(
            "field"
        ),
    )
    return ks.select(
        "record_id",
        "field",
        F.element_at("sm", F.col("field")).alias("from_val"),
        F.element_at("em", F.col("field")).alias("to_val"),
    ).filter(~F.col("from_val").eqNullSafe(F.col("to_val")))


@query(
    "keys_alive_daily",
    temporal_oracle(
        """, births AS (
          SELECT record_id, CAST(MIN(ts) AS DATE) AS birth_day
          FROM temporal_records GROUP BY record_id),
        per_day AS (
          SELECT birth_day AS day, CAST(COUNT(*) AS BIGINT) AS n_new
          FROM births GROUP BY birth_day),
        b AS (SELECT CAST(MIN(ts) AS DATE) AS d0, CAST(MAX(ts) AS DATE) AS d1
              FROM temporal_records),
        grid AS (
          SELECT unnest(generate_series(b.d0, b.d1, INTERVAL 1 DAY))::DATE AS day
          FROM b)
        SELECT g.day,
               COALESCE(p.n_new, 0) AS n_new_keys,
               CAST(SUM(COALESCE(p.n_new, 0)) OVER (
                   ORDER BY g.day ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS n_keys_alive
        FROM grid g LEFT JOIN per_day p ON p.day = g.day"""
    ),
)
def q_keys_alive_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vault growth curve: for every day in the log's range, how many keys
    were born (first version) and how many exist in total — the cumulative-
    distinct-over-time series a dashboard plots, computed WITHOUT a
    per-day as-of scan: one min-per-key aggregate (the only data-sized
    pass), a day-grid from broadcast bounds, and a running-sum window over
    grid-sized rows (same gapfill-grid shape as hypertable.gapfill_locf)."""
    tr = _tr(spark, sf_dir)
    births = tr.groupBy("record_id").agg(F.min("ts").cast("date").alias("birth_day"))
    per_day = births.groupBy(F.col("birth_day").alias("day")).agg(
        F.count("*").cast("bigint").alias("n_new")
    )
    bounds = tr.agg(
        F.min("ts").cast("date").alias("d0"), F.max("ts").cast("date").alias("d1")
    )
    grid = bounds.select(
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return grid.join(per_day, "day", "left").select(
        "day",
        F.coalesce("n_new", F.lit(0).cast("bigint")).alias("n_new_keys"),
        F.sum(F.coalesce("n_new", F.lit(0).cast("bigint"))).over(w).cast("bigint").alias("n_keys_alive"),
    )


# --- MERGE INTO (upsert) ---------------------------------------------------

# Deterministic upsert batch for the registered query: five existing keys
# (updates) + five beyond the key range (inserts). Part of the operator
# contract; callers use merge_upsert() below with their own batch frame.
MERGE_BATCH_KEYS = ("0", "1", "2", "3", "4", "200", "201", "202", "203", "204")


def merge_upsert(current: DataFrame, batch: DataFrame) -> DataFrame:
    """MERGE INTO semantics over the vault's latest state — the lakehouse
    upsert the reference's POST /records implies but only supports
    row-at-a-time (main.py:68-100: one INSERT per call; a bulk load replays
    the endpoint N times).

      - matched   → new data, version bumped (vN -> vN+1), action='update'
      - unmatched batch row → version v1, action='insert'
      - unmatched current row → unchanged, action='keep'

    ``current``: (record_id, version_num, data) — the latest version per
    key. ``batch``: (record_id, new_data), tiny relative to the vault.

    The naive rendering is one FULL OUTER join — but Spark cannot broadcast
    a full-outer build side, so at 100 TB that sort-merge-shuffles the
    entire vault to merge a thousand-row batch. This shape never shuffles
    the vault: (1) updates+keeps = vault LEFT JOIN broadcast(batch) — a
    BroadcastHashJoin, vault partitioning preserved; (2) the matched keys
    (≤ |batch| rows by construction) come off that same join; (3) inserts =
    batch ANTI-JOIN matched — tiny vs tiny. The union is exactly what a
    Delta/Iceberg MERGE would commit; the no-vault-shuffle plan is pinned
    by tests/test_merge_upsert.py."""
    c = current.alias("c")
    b = F.broadcast(batch).alias("b")
    joined = c.join(b, F.col("c.record_id") == F.col("b.record_id"), "left")
    upd_keep = joined.select(
        F.col("c.record_id").alias("record_id"),
        F.concat(
            F.lit("v"),
            F.when(F.col("b.record_id").isNull(), F.col("c.version_num"))
            .otherwise(F.col("c.version_num") + 1)
            .cast("string"),
        ).alias("version"),
        F.when(F.col("b.record_id").isNull(), F.col("c.data"))
        .otherwise(F.col("b.new_data"))
        .alias("data"),
        F.when(F.col("b.record_id").isNull(), F.lit("keep"))
        .otherwise(F.lit("update"))
        .alias("action"),
    )
    matched = (
        joined.filter(F.col("b.record_id").isNotNull())
        .select(F.col("c.record_id").alias("record_id"))
    )
    inserts = batch.join(F.broadcast(matched), "record_id", "left_anti").select(
        "record_id",
        F.lit("v1").alias("version"),
        F.col("new_data").alias("data"),
        F.lit("insert").alias("action"),
    )
    return upd_keep.unionAll(inserts)


@query(
    "merge_upsert",
    temporal_oracle(
        """, cur AS (
          SELECT record_id, version_num, data FROM (
            SELECT record_id, version_num, data,
                   ROW_NUMBER() OVER (PARTITION BY record_id
                                      ORDER BY version_num DESC) AS rn
            FROM temporal_records) x
          WHERE rn = 1),
        batch(record_id) AS (
          VALUES ('0'), ('1'), ('2'), ('3'), ('4'),
                 ('200'), ('201'), ('202'), ('203'), ('204')),
        b AS (SELECT record_id, 'upsert:' || record_id AS new_data FROM batch)
        SELECT COALESCE(c.record_id, b.record_id) AS record_id,
               'v' || CAST(CASE WHEN b.record_id IS NULL THEN c.version_num
                                WHEN c.record_id IS NULL THEN 1
                                ELSE c.version_num + 1 END AS STRING) AS version,
               CASE WHEN b.record_id IS NULL THEN c.data
                    ELSE b.new_data END AS data,
               CASE WHEN b.record_id IS NULL THEN 'keep'
                    WHEN c.record_id IS NULL THEN 'insert'
                    ELSE 'update' END AS action
        FROM cur c FULL OUTER JOIN b ON c.record_id = b.record_id"""
    ),
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered MERGE: upsert the fixed 10-key batch (5 updates, 5
    inserts — MERGE_BATCH_KEYS) into the latest state of the vault and
    return the post-merge table with per-row actions."""
    current = latest_per_key(_tr(spark, sf_dir)).select("record_id", "version_num", "data")
    spark_b = spark.createDataFrame(
        [(k,) for k in MERGE_BATCH_KEYS], "record_id string"
    ).select("record_id", F.concat(F.lit("upsert:"), F.col("record_id")).alias("new_data"))
    return merge_upsert(current, spark_b)
