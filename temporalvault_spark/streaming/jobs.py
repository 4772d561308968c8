"""Structured Streaming jobs over the event log (SURVEY.md §2.10).

The reference has no streaming at all (request/response FastAPI; TimescaleDB
claimed in README.md:16 but never actually used: no hypertable calls
anywhere in app/). Its domain, an append-only timestamped log, is
exactly Structured Streaming's model, so the engine ships the streaming tier:

  - tumbling / sliding / session windowed aggregates with watermarks —
    the same grouping logic as the oracle-checked batch queries
    (operators/timewindow.py): an in-order (or single-batch) drain produces
    identical rows, while events arriving later than the watermark are
    DROPPED by design (tests pin both behaviors — equality on a complete
    drain, and the late-drop in test_watermark_drops_late_events);
  - latest-state-per-key as a stateful operator (applyInPandasWithState) —
    the streaming form of asof_latest_per_key;
  - ``run_available_now`` drains a stream in batch mode (the testing/backfill
    trigger).

Scale notes: watermarks bound state; the stateful operator partitions by key
(the same shuffle every per-key batch op needs); sinks in production are
partitioned parquet/kafka — tests use the memory sink.
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# run_concurrent moved to temporalvault_spark.concurrency (round-14: the
# curation capstone now shares it); the alias keeps the gates' call sites
# and the SCALE.md narrative name stable.
from temporalvault_spark.concurrency import run_concurrent as _run_concurrent
from temporalvault_spark.session import tune


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table. Whatever physical type the
    testdata parquet stores ts as (int64 nanos under nanosAsLong, tz-naive
    TIMESTAMP_NTZ, or LTZ), it is normalized to session-tz TIMESTAMP via the
    same shared normalize_ts_cols the batch catalog uses — watermarks REQUIRE
    LTZ (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE otherwise), so the conversion
    must hold for every source variant. A production deployment points this
    at a date-partitioned directory and new files stream in incrementally."""
    from temporalvault_spark.session import normalize_ts_cols

    tune(spark)
    batch_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    df = (
        spark.readStream.schema(batch_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_ts_cols(df, ("ts",))


def tumbling_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of win_tumbling_hour: late events beyond the watermark
    are dropped; state = one row per open (window, event_type)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )


def sliding_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of win_sliding (1h windows, 15min slide)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
    )


def session_counts(events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of win_session: 30-minute-gap sessions per user; the
    watermark lets Spark finalize (and evict) sessions whose gap has passed."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("user_id"), F.col("w.start").alias("session_start"), "n_events", "sum_value")
    )


def hourly_distinct_users(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Distinct users per tumbling hour on a STREAM via the HLL sketch
    (approx_count_distinct): exact COUNT(DISTINCT) is unsupported in
    streaming aggregations because its state is the full value set —
    unbounded in the cardinality — while the sketch keeps one ~KB register
    set per window regardless, merged across micro-batches like any other
    partial. The SAME function runs in batch mode (withWatermark is a
    no-op on bounded Datasets) and produces identical estimates because
    HLL register merge is commutative and deterministic
    (stream ≡ batch pinned in tests/test_streaming.py)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.approx_count_distinct("user_id").alias("approx_users"))
        .select(F.col("w.start").alias("window_start"), "approx_users")
    )


def dedup_events_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup on event_id via dropDuplicatesWithinWatermark:
    at-least-once sources (Kafka redeliveries, file-source replays) emit the
    same event twice, and this is the standard exactly-once repair. The
    BOUNDED-state form: a key's dedup state is evicted once the watermark
    passes its event time, so state size tracks the watermark window, not
    the stream's lifetime (a plain dropDuplicates on a stream accumulates
    every key forever — the 100 TB failure mode)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def user_totals_stream(events: DataFrame) -> DataFrame:
    """Per-user running totals (event count, value sum, latest event time)
    via ``transformWithStateInPandas`` — Spark 4's arbitrary-stateful API
    (the successor to applyInPandasWithState, which latest_state_stream
    demonstrates): explicit named state variables on the RocksDB state
    store, per-key Arrow batches, optional timers/TTL. This is the shape
    every streaming feature-store aggregation takes at scale: state is one
    fixed-width tuple per user, partitioned by the same key shuffle any
    per-key op needs, and RocksDB keeps state off-heap so executor state
    size is bounded by disk, not memory.

    Timestamps cross the state/Arrow boundary as epoch MICROS (bigint) —
    deterministic and tz-proof — and convert back to TIMESTAMP in one
    projection on the way out.

    State-schema compatibility: the value-state tuple is 5 fields
    (``has_value`` was added alongside ``has_ts`` for the NULL-sum
    contract). A checkpoint written by the earlier 4-field schema canNOT be
    restored by this version — stateful schema evolution on a running query
    fails at restart. Deploying this version over an existing stream
    requires a NEW checkpoint directory (reprocess from the source or
    accept a state reset); this is Spark's standard stateful-upgrade
    constraint, called out here because the field addition is ours.

    Environment seam (same policy as multimodal's codec tiers): the
    transformWithState Python driver worker requires ``protobuf`` (its
    state-server protocol), which this sandbox doesn't ship — the import
    gate below raises a clear error here and the operator runs unchanged
    wherever protobuf exists (any real Spark 4 deployment). The
    applyInPandasWithState tier (latest_state_stream, funnel_state_stream)
    is the dependency-free fallback and stays fully tested."""
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError as exc:
        raise ImportError(
            "transformWithStateInPandas needs the 'protobuf' package for its "
            "state-server protocol (pip install protobuf); this environment "
            "doesn't ship it. Use latest_state_stream "
            "(applyInPandasWithState) as the dependency-free stateful tier."
        ) from exc
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    spark = events.sparkSession
    # transformWithState requires the RocksDB provider (bundled with Spark
    # 4); harmless for the other stateful ops, which also run on RocksDB
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )

    class _UserTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            # has_ts distinguishes "no non-NULL ts seen yet" from a real
            # epoch value — without it a user whose events all carry NULL
            # ts would surface last_ts=1970-01-01 instead of NULL (the
            # batch contract is F.max('ts'), which is NULL for that user)
            # has_value mirrors has_ts: the batch contract is F.sum('value'),
            # which is NULL for a user whose events ALL carry NULL value —
            # fillna(0.0) alone would surface 0.0 instead
            self._totals = handle.getValueState(
                "totals",
                "n bigint, total double, last_us bigint, has_ts boolean, "
                "has_value boolean",
            )

        def handleInputRows(self, key, rows, timerValues):
            prev = self._totals.get() if self._totals.exists() else None
            n, total, last_us, has_ts, has_value = (
                prev if prev is not None else (0, 0.0, 0, False, False)
            )
            for pdf in rows:
                n += len(pdf)
                non_null = pdf["value"].dropna()
                if len(non_null):
                    total += float(non_null.sum())
                    has_value = True
                if len(pdf["us"].dropna()):
                    batch_max = int(pdf["us"].max())
                    last_us = max(last_us, batch_max) if has_ts else batch_max
                    has_ts = True
            self._totals.update(
                (int(n), float(total), int(last_us), bool(has_ts), bool(has_value))
            )
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [int(n)],
                    "total_value": [float(total) if has_value else None],
                    "last_us": [int(last_us) if has_ts else None],
                }
            )

        def close(self) -> None:
            pass

    keyed = events.select(
        "user_id", "value", F.unix_micros("ts").alias("us")
    ).groupBy("user_id")
    out = keyed.transformWithStateInPandas(
        statefulProcessor=_UserTotals(),
        outputStructType="user_id bigint, n_events bigint, total_value double, last_us bigint",
        outputMode="Update",
        timeMode="None",
    )
    return out.select(
        "user_id",
        "n_events",
        F.round("total_value", 6).alias("total_value"),
        F.timestamp_micros("last_us").alias("last_ts"),
    )


_STATE_SCHEMA = "version_num int, ts timestamp, data string, n_total int"
_OUT_SCHEMA = "record_id string, version string, data string, ts timestamp, n_versions int"


def _latest_state_fn(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Per-key reducer: keep the (version_num, ts, data) of the newest version
    seen; emit the key's current state once per batch it appears in."""
    if state.exists:
        version_num, ts, data, n_total = state.get
    else:
        version_num, ts, data, n_total = 0, None, None, 0
    for pdf in pdfs:
        n_total += len(pdf)  # cumulative across batches, not per-batch
        top = pdf.loc[pdf["version_num"].idxmax()]
        if top["version_num"] > version_num:
            version_num = int(top["version_num"])
            ts = top["ts"]
            data = top["data"]
    state.update((version_num, ts, data, n_total))
    yield pd.DataFrame(
        {
            "record_id": [key[0]],
            "version": [f"v{version_num}"],
            "data": [data],
            "ts": [ts],
            "n_versions": [n_total],
        }
    )


def latest_state_stream(records: DataFrame) -> DataFrame:
    """Stateful latest-version-per-key over a stream of version-log rows
    (record_id, version_num, ts, data) — asof_latest_per_key as a continuously
    maintained state (the materialized-view form of README.md:7). Arrow-batched
    per-key groups via applyInPandasWithState; state is one tuple per key."""
    return records.groupBy("record_id").applyInPandasWithState(
        _latest_state_fn,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_FUNNEL_STATE = "t_signup timestamp, t_click timestamp, t_purchase timestamp"
_FUNNEL_OUT = (
    "user_id bigint, t_signup timestamp, t_click timestamp, t_purchase timestamp, "
    "stage int"
)


def _funnel_state_fn(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Per-user reducer: first-occurrence timestamp per funnel event type
    (a min — ORDER-INDEPENDENT, which is what makes the streaming result
    converge to the batch funnel exactly, whatever the arrival order);
    emits the user's current stage each batch they appear in."""
    ts, tc, tp = state.get if state.exists else (None, None, None)

    def _min(cur, series):
        vals = series.dropna()
        if len(vals) == 0:
            return cur
        m = vals.min()
        return m if cur is None or m < cur else cur

    for pdf in pdfs:
        ts = _min(ts, pdf.loc[pdf["event_type"] == "signup", "ts"])
        tc = _min(tc, pdf.loc[pdf["event_type"] == "click", "ts"])
        tp = _min(tp, pdf.loc[pdf["event_type"] == "purchase", "ts"])
    state.update((ts, tc, tp))
    signed = ts is not None
    clicked = signed and tc is not None and tc > ts
    purchased = clicked and tp is not None and tp > tc
    stage = 3 if purchased else 2 if clicked else 1 if signed else 0
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "t_signup": [ts],
            "t_click": [tc],
            "t_purchase": [tp],
            "stage": [stage],
        }
    )


def funnel_state_stream(events: DataFrame) -> DataFrame:
    """Continuously-maintained funnel position per user — the streaming twin
    of funnel_signup_click_purchase (operators/temporal_analytics.py): state
    is three first-occurrence timestamps per user (bounded — one tuple per
    user, the same cardinality any per-user aggregate carries), the emitted
    stage applies the identical ordering predicates (click counts only
    after signup, purchase only after click). Because every state component
    is a min, a complete drain equals the batch funnel bit-for-bit
    (tests/test_streaming.py pins the equality)."""
    return events.groupBy("user_id").applyInPandasWithState(
        _funnel_state_fn,
        outputStructType=_FUNNEL_OUT,
        stateStructType=_FUNNEL_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def clicks_to_purchases_join(events: DataFrame, horizon: str = "1 hour") -> DataFrame:
    """Stream-stream interval join: each purchase joined to the same user's
    clicks in the preceding ``horizon``. Both sides carry watermarks and the
    join condition bounds event-time distance, so Spark can size and EVICT
    the join state — the two requirements that make an unbounded
    stream-stream join feasible at all. Batch execution of the same plan
    gives the backfill twin (tested equal in tests/test_streaming.py)."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", horizon)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", horizon)
    )
    return purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {horizon}")),
    ).select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "purchase_ts",
        "purchase_value",
        "click_id",
        "click_ts",
    )


def ingest_into_vault(vault, events: DataFrame, available_now: bool = True):
    """Continuous ingestion: an event stream becomes vault versions via
    foreachBatch → record_bulk — each micro-batch is one bulk append with
    window-assigned version numbers (the streaming form of the reference's
    POST /records write path, main.py:68-100, without per-row round trips).

    Retry safety — EXACTLY-ONCE, not just idempotent-skip: foreachBatch
    replays a micro-batch after failures/restarts, and a blind re-append
    would double every version. Each batch commits through the stage every
    bulk append takes (record_bulk(stage_tag=...)): the batch is written to
    the vault's ``.ingest_stage_b<id>`` and its files enter the log with the
    batch id embedded in their filenames; a tagged stage, unlike an
    untagged one, outlives the call. The sink then writes its durable
    commit marker (temp file + fsync + rename — never a half-written
    marker), and only then drops the stage (finish_ingest). On start,
    recovery walks vault.pending_ingest_tags(): tag with a marker → the
    crash hit after commit, just clean up; tag without → the crash hit
    mid-append or pre-marker, abort_ingest (the vault's one undo of a bulk
    append) deletes the tagged files and the replay re-ingests exactly
    once. Markers are COMPACTED into a single
    floor file (all ids <= floor committed) so the marker dir stays O(1).
    Batch ids are scoped to the stream's checkpoint — restarting with a
    fresh checkpoint restarts ids at 0, so pair each checkpoint with its own
    vault (or clear the marker dir)."""
    import os

    rec = events.select(
        F.col("user_id").cast("string").alias("record_id"),
        F.col("props").alias("data"),
        F.col("ts"),
    )
    marker_dir = f"{vault.root}/_ingest_batches"
    os.makedirs(marker_dir, exist_ok=True)
    floor_path = f"{marker_dir}/_floor"
    _COMPACT_EVERY = 64

    def _floor() -> int:
        try:
            with open(floor_path) as f:
                return int(f.read().strip())
        except (OSError, ValueError):
            return -1

    def _write_atomic(path: str, content: str) -> None:
        tmp = f"{path}.tmp"
        with open(tmp, "w") as f:
            f.write(content)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, path)

    def _compact_markers() -> None:
        ids = sorted(
            int(n) for n in os.listdir(marker_dir) if n.isdigit()
        )
        if len(ids) < _COMPACT_EVERY:
            return
        new_floor = _floor()
        for i in ids:  # advance over the contiguous committed prefix
            if i == new_floor + 1:
                new_floor = i
        _write_atomic(floor_path, str(new_floor))
        for i in ids:
            if i <= new_floor:
                os.remove(f"{marker_dir}/{i}")

    def _committed(batch_id: int) -> bool:
        return batch_id <= _floor() or os.path.exists(f"{marker_dir}/{batch_id}")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if _committed(batch_id):
            return  # replayed batch — already committed
        vault.record_bulk(batch_df, stage_tag=f"b{batch_id}")
        _write_atomic(f"{marker_dir}/{batch_id}", "committed")
        vault.finish_ingest(f"b{batch_id}")
        _compact_markers()

    # crash recovery: resolve every interrupted ingest before new batches run
    for tag in vault.pending_ingest_tags():
        if tag.startswith("b") and tag[1:].isdigit() and _committed(int(tag[1:])):
            vault.finish_ingest(tag)  # committed, only the cleanup was lost
        else:
            vault.abort_ingest(tag)  # uncommitted — undo; the replay re-adds

    _compact_markers()  # markers left by earlier runs fold up-front too

    writer = rec.writeStream.foreachBatch(sink).outputMode("append")
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return None
    return writer.start()


def stream_into_rollup(rollup, events: DataFrame, checkpoint: str, available_now: bool = True):
    """Continuous materialized aggregation: the event stream feeds the
    incremental hourly rollup (rollup.ContinuousAggregate) via foreachBatch,
    passing the epoch id through so each micro-batch's base append is an
    IDEMPOTENT dynamic-partition overwrite of its own (batch_id, bucket)
    partitions — a replayed epoch rewrites identical files instead of
    double-appending, and the dirty-bucket recompute then yields the same
    rollup. Exactly-once without the vault's marker protocol: the parquet
    partition layout IS the commit log. This is the TimescaleDB
    continuous-aggregate-on-a-live-hypertable shape (the tier the reference
    ships but never uses) expressed as Structured Streaming + parquet."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        rollup.ingest(batch_df, batch_id=batch_id)

    writer = (
        events.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return None
    return writer.start()


def _dedup_gate_run(
    stream_df: DataFrame,
    accepted_path: str,
    checkpoint: str,
    available_now: bool,
    process,
):
    """Shared ingest-gate skeleton for the five dedup gates (text /
    embedding / image / audio / video): batch-id marker files (replays of committed batches
    skip), the foreachBatch wiring, and the marker commit live ONCE here —
    the round-10 review found the triplicated copies already drifting.
    ``process(batch, batch_id)`` does the modality-specific
    probe/reject/persist work; everything it writes must be idempotent
    under replay (dynamic partition overwrite on ingest partitions — the
    gates' shared exactly-once contract)."""
    import os

    marker_dir = f"{accepted_path}/_ingest_batches"
    os.makedirs(marker_dir, exist_ok=True)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        marker = f"{marker_dir}/{batch_id}"
        if os.path.exists(marker):
            return  # replayed batch — already committed
        # stream source -> plain frame, materialized once for every
        # downstream job in the gate body
        process(batch_df.localCheckpoint(eager=True), batch_id)
        with open(marker, "w") as f:
            f.write("committed")

    writer = (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return None
    return writer.start()


def _accepted_overwrite(frame: DataFrame, batch_id: int, accepted_path: str) -> None:
    """Idempotent accepted-corpus append: a replayed batch REWRITES its own
    ingest_batch partition instead of double-appending."""
    (
        frame.withColumn("ingest_batch", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest_batch")
        .parquet(accepted_path)
    )


def _gate_survivors(batch: DataFrame, id_col: str, local_rej, cross_rej) -> DataFrame:
    """Batch rows minus within-batch rejects minus cross-corpus rejects."""
    surv = batch.join(local_rej, id_col, "left_anti")
    if cross_rej is not None:
        surv = surv.join(cross_rej, id_col, "left_anti")
    return surv


def _quarantine_overwrite(frame: DataFrame, batch_id: int, accepted_path: str) -> None:
    """Idempotent quarantine sink for corrupt-payload rows: the binary-decode
    gates decode with errors='quarantine' (one truncated file in a
    million-row ingest batch must not wedge the stream in an infinite
    replay loop — with errors='raise' the batch fails, Structured Streaming
    replays the SAME batch, and the same payload fails again forever).
    Quarantined source rows land under ``{accepted_path}/_quarantine``
    (underscore-prefixed, so accepted-corpus scans ignore it) partitioned by
    ingest batch with dynamic overwrite — the same replay contract as the
    accepted corpus. Quarantined ids are neither survivors nor index rows."""
    _accepted_overwrite(frame, batch_id, f"{accepted_path}/_quarantine")


def _quarantine_sync(
    frame: DataFrame, has_quar: bool, batch_id: int, accepted_path: str
) -> None:
    """Keep the quarantine sink consistent under replay in BOTH directions:
    a quarantining batch overwrites its own ingest partition; a CLEAN batch
    removes any stale partition a previous replay of the same batch id left
    behind. Quarantine decisions are environment-dependent (the optional
    Pillow/soundfile adapters change decode outcomes), so a marker-lost
    replay on an upgraded worker image can accept a payload an earlier run
    quarantined — without the clear, the row would sit in BOTH the accepted
    corpus and the quarantine sink (review-pass finding). The clear goes
    through the Hadoop FileSystem API (one metadata call, never a Spark
    job), so it works for ANY scheme the sink itself supports — a
    driver-local rmtree would silently no-op on hdfs://…/s3a://… paths and
    leave exactly the inconsistency this function exists to prevent."""
    if has_quar:
        _quarantine_overwrite(frame, batch_id, accepted_path)
        return
    spark = frame.sparkSession
    stale = f"{accepted_path}/_quarantine/ingest_batch={batch_id}"
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(stale)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.delete(hpath, True)  # recursive; False (absent) is the common case


def _gate_index_ready(spark, index_path: str, accepted_path: str) -> bool:
    """The gates' build-vs-append decision, with a loud failure mode for a
    vanished index: ``index_ready`` alone reads 'no readable _meta' as
    'first batch — cold-build', which is correct on a fresh gate but
    catastrophic on an established one (an externally deleted or torn
    long-lived index would be silently restarted from a single batch,
    permanently losing dedup coverage against the whole historic corpus).
    Committed-batch markers are the gate's own durable record that an index
    MUST exist — if any marker is present and the index is not ready, the
    gate raises instead of cold-building. The one legitimate
    markers-without-index window (a crash mid-swap during rebuild-if-grown)
    is repaired before this check by ``meta_row``'s adopt-on-read recovery
    (index_common.adopt_swapped)."""
    import os

    from temporalvault_spark.operators.index_common import index_ready

    if index_ready(spark, index_path):
        return True
    marker_dir = f"{accepted_path}/_ingest_batches"
    if os.path.isdir(marker_dir) and any(os.scandir(marker_dir)):
        raise ValueError(
            f"dedup gate at {accepted_path} has committed-batch markers but "
            f"no readable index at {index_path} — the index vanished or its "
            "sidecar tore outside the crash windows the gate repairs; "
            "cold-rebuilding from one batch would silently drop dedup "
            "coverage against the historic corpus. Rebuild the index from "
            "the accepted corpus, then resume the stream."
        )
    return False


def dedup_ingest_stream(
    docs_stream: DataFrame,
    index_path: str,
    accepted_path: str,
    checkpoint: str,
    threshold: float = 0.6,
    available_now: bool = True,
):
    """Streaming incremental near-dup gate: each micro-batch of documents is
    probed against the persisted MinHash band index
    (operators/minhash_index.py); batch docs that near-dup an already-
    ingested doc (jaccard >= threshold) are REJECTED, the survivors are
    appended to the accepted-corpus parquet AND their sketch+signatures are
    appended to the index — so later batches dedup against them too. This
    is the composition a continuous training-data ingest actually runs:
    sketch once per batch, probe partition-pruned, corpus never rescanned.

    Within-batch duplicates are also collapsed (the in-memory pair join on
    just the batch — batch-sized, cheap): the lowest doc_id of each
    batch-local near-dup group survives, mirroring dedup_apply's keeper
    rule.

    Exactly-once across EVERY crash window: committed batches are marked
    with batch_id files and replays skip them; a crash BETWEEN the appends
    and the marker is repaired by the writes themselves — the accepted
    corpus AND the index appends are partitioned by ingest batch and
    written with dynamic partition overwrite, so a replayed batch REWRITES
    its own partitions instead of double-appending: neither the corpus nor
    the index grows duplicate rows under any crash/replay interleaving
    (the survivor set is deterministic on replay — survivors-only are
    indexed, and surviving pairs are below threshold by construction, so a
    half-indexed batch cannot reject its own survivors). The probe path
    additionally deduplicates signatures by doc_id as defense in depth.
    tests/test_minhash_index.py simulates the marker-lost crash and pins
    both properties."""
    from temporalvault_spark.operators.llm import ngram_jaccard_pairs
    from temporalvault_spark.operators.minhash_index import (
        build_minhash_index,
        query_minhash_index,
    )

    def process(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        # cross-batch rejects: anything near-dupping the indexed corpus.
        # Keyed on a READABLE _meta — the LAST artifact the build writes —
        # so a crash anywhere inside a first-batch build (including DURING
        # the _meta write itself, which leaves a half-existing directory a
        # bare exists() would approve) replays as a full rebuild
        idx_exists = _gate_index_ready(spark, index_path, accepted_path)
        if idx_exists:
            hits = query_minhash_index(spark, index_path, batch, threshold)
            cross_rej = hits.select(F.col("query_doc").alias("doc_id")).distinct()
        else:
            cross_rej = None
        # within-batch rejects: keep the lowest doc_id of each local pair
        local_rej = (
            ngram_jaccard_pairs(batch, threshold)
            .select(F.col("doc_b").alias("doc_id"))
            .distinct()
        )
        survivors = _gate_survivors(batch, "doc_id", local_rej, cross_rej)
        survivors = survivors.localCheckpoint(eager=True)
        # the two tail sinks consume the checkpointed survivors and write
        # distinct paths — concurrent jobs, the joint gate's round-14 shape
        _run_concurrent(
            [
                lambda: _accepted_overwrite(survivors, batch_id, accepted_path),
                lambda: build_minhash_index(
                    survivors, index_path, append=idx_exists, ingest_id=batch_id
                ),
            ]
        )

    return _dedup_gate_run(
        docs_stream, accepted_path, checkpoint, available_now, process
    )


def embedding_dedup_ingest_stream(
    emb_stream: DataFrame,
    index_path: str,
    accepted_path: str,
    checkpoint: str,
    threshold: float | None = None,
    available_now: bool = True,
):
    """Streaming incremental COSINE near-dup gate — the embedding twin of
    ``dedup_ingest_stream``: each micro-batch of vectors is probed against
    the persisted RP-LSH band index (operators/rp_lsh_index.py); batch
    vectors that near-dup an already-ingested vector (cosine >= threshold)
    are REJECTED, survivors are appended to the accepted parquet AND their
    signatures are appended to the index (signed with the index's
    PERSISTED width), so later batches dedup against them too. Within-batch
    duplicates collapse via the in-memory pair join on just the batch
    (batch-sized): the lowest vec_id of each local near-dup group survives.

    Exactly-once across every crash window, by the same two mechanisms as
    the text gate: committed batches leave batch_id marker files (replays
    skip); a crash BETWEEN the appends and the marker is repaired by the
    writes themselves — the accepted corpus AND the index appends
    partition by ingest batch with dynamic partition overwrite (a replayed
    batch rewrites its own partitions), so neither corpus nor index grows
    duplicate rows under any crash/replay interleaving. The probe path
    additionally deduplicates (DISTINCT candidate pairs, vec_id-deduped
    ``_vectors`` reads) as defense in depth. tests/test_rp_lsh_index.py
    simulates the marker-lost crash and pins both properties."""
    from temporalvault_spark.operators.rp_lsh import rp_lsh_pairs
    from temporalvault_spark.operators.rp_lsh_index import (
        build_rp_index,
        query_rp_index,
    )
    from temporalvault_spark.operators.similarity import EMB_DUP_THRESHOLD

    thr = EMB_DUP_THRESHOLD if threshold is None else threshold

    def process(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        # READABLE _meta, not bare exists(): a crash during the first
        # batch's _meta write must replay as a full rebuild (see the text
        # gate's note)
        idx_exists = _gate_index_ready(spark, index_path, accepted_path)
        if idx_exists:
            hits = query_rp_index(spark, index_path, batch, thr)
            cross_rej = hits.select(F.col("query_vec").alias("vec_id")).distinct()
        else:
            cross_rej = None
        local_rej = (
            rp_lsh_pairs(batch, thr)
            .select(F.col("vec_b").alias("vec_id"))
            .distinct()
        )
        survivors = _gate_survivors(batch, "vec_id", local_rej, cross_rej)
        survivors = survivors.localCheckpoint(eager=True)
        # concurrent tail sinks (the joint gate's round-14 shape)
        _run_concurrent(
            [
                lambda: _accepted_overwrite(survivors, batch_id, accepted_path),
                lambda: build_rp_index(
                    survivors, index_path, append=idx_exists, ingest_id=batch_id
                ),
            ]
        )

    return _dedup_gate_run(
        emb_stream, accepted_path, checkpoint, available_now, process
    )


def image_dedup_ingest_stream(
    img_stream: DataFrame,
    index_path: str,
    accepted_path: str,
    checkpoint: str,
    threshold: int | None = None,
    available_now: bool = True,
    prefer_adapter: bool = False,
):
    """Streaming perceptual IMAGE near-dup gate — the third modality of the
    ingest-gate family (text: dedup_ingest_stream, embeddings:
    embedding_dedup_ingest_stream): each micro-batch of (img_id, image
    binary) rows is decoded+aHashed ONCE (operators/phash.ahash_frame, the
    Arrow-batched real-PPM kernel), probed against the persisted phash band
    index (operators/phash_index.py); images whose hash sits within
    Hamming-``threshold`` of an already-ingested image are REJECTED,
    survivors' raw bytes append to the accepted parquet AND their hash rows
    append to the index, so later batches dedup against them. Within-batch
    duplicates collapse via the in-memory banded pair join on just the
    batch's hashes: the lowest img_id of each local near-dup group
    survives.

    Exactly-once across every crash window by the shared mechanism:
    committed batches leave batch_id markers (replays skip); the accepted
    corpus AND the index appends partition by ingest batch with dynamic
    partition overwrite, so a marker-lost replay rewrites its own
    partitions — neither grows duplicate rows (survivor determinism: only
    survivors are indexed, and surviving pairs are above-threshold-distant
    by construction, so a half-indexed batch cannot reject its own
    survivors). tests/test_phash_index.py pins both properties."""
    from temporalvault_spark.operators.phash import (
        PHASH_THRESHOLD,
        ahash_frame,
        phash_hamming_pairs,
    )
    from temporalvault_spark.operators.phash_index import (
        build_phash_index,
        query_phash_index,
    )

    thr = PHASH_THRESHOLD if threshold is None else threshold

    if prefer_adapter:
        # fail fast at gate START on a mixed fleet (round-13 ADVICE #2):
        # prefer mode's damaged-payload quarantine verdict must not ride
        # task placement across replays; one tiny probe job, once per gate
        from temporalvault_spark.operators.multimodal import (
            assert_homogeneous_pillow_fleet,
        )

        assert_homogeneous_pillow_fleet(img_stream.sparkSession)

    def process(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        # ONE decode pass; errors='quarantine' so a corrupt payload cannot
        # wedge the stream in an infinite batch-replay loop.
        # prefer_adapter routes PNG/BMP to the C-backed decoder where the
        # worker has Pillow — verdict-identical on clean payloads by the
        # adapter contract; REQUIRES a homogeneous fleet (Pillow on all
        # executors or none, probed above), else a damaged payload's
        # quarantine verdict rides task placement across replays
        # (decode_pixels_rgb's note)
        all_h = ahash_frame(
            batch, errors="quarantine", prefer_adapter=prefer_adapter
        ).localCheckpoint(eager=True)
        quarantined = all_h.filter(F.col("hash64").isNull()).select("img_id")
        # clean batches (the common case) skip the sink job; a clean REPLAY
        # clears any stale partition (see _quarantine_sync)
        _quarantine_sync(
            batch.join(quarantined, "img_id", "semi"),
            quarantined.limit(1).count() > 0,
            batch_id,
            accepted_path,
        )
        hashes = all_h.filter(F.col("hash64").isNotNull())
        # READABLE _meta, not bare exists(): a crash during the first
        # batch's _meta write must replay as a full rebuild (see the text
        # gate's note)
        idx_exists = _gate_index_ready(spark, index_path, accepted_path)
        if idx_exists:
            hits = query_phash_index(spark, index_path, hashes, thr)
            cross_rej = hits.select(F.col("query_img").alias("img_id")).distinct()
        else:
            cross_rej = None
        local_rej = (
            phash_hamming_pairs(hashes, thr)
            .select(F.col("img_b").alias("img_id"))
            .distinct()
        )
        surv_ids = _gate_survivors(
            hashes.select("img_id"), "img_id", local_rej, cross_rej
        ).localCheckpoint(eager=True)
        # concurrent tail sinks (the joint gate's round-14 shape)
        _run_concurrent(
            [
                lambda: _accepted_overwrite(
                    batch.join(surv_ids, "img_id", "semi"), batch_id, accepted_path
                ),
                lambda: build_phash_index(
                    hashes.join(surv_ids, "img_id", "semi"),
                    index_path,
                    append=idx_exists,
                    ingest_id=batch_id,
                ),
            ]
        )

    return _dedup_gate_run(
        img_stream, accepted_path, checkpoint, available_now, process
    )


def audio_dedup_ingest_stream(
    aud_stream: DataFrame,
    index_path: str,
    accepted_path: str,
    checkpoint: str,
    threshold: int | None = None,
    available_now: bool = True,
):
    """Streaming incremental AUDIO near-dup gate — the fourth modality's
    ingest gate (text: dedup_ingest_stream, embeddings:
    embedding_dedup_ingest_stream, images: image_dedup_ingest_stream,
    audio: THIS; all four ride the shared skeleton). Each micro-batch of
    (aud_id, audio) rows is fingerprinted ONCE (the real stdlib-wave
    envelope kernel), probed against the persisted band index
    (operators/afp_index.py); near-dups of already-ingested clips are
    REJECTED; survivors land in the accepted corpus AND append to the
    index, so later batches dedup against them. Within-batch duplicates
    collapse via the in-memory banded pair join on just the batch's
    fingerprints: the lowest aud_id of each local near-dup group survives.

    Exactly-once across every crash window by the shared mechanism:
    committed batches leave batch_id markers (replays skip); the accepted
    corpus AND the index appends partition by ingest batch with dynamic
    partition overwrite, so a marker-lost replay rewrites its own
    partitions — neither grows duplicate rows (survivor determinism: only
    survivors are indexed, and surviving pairs are above-threshold-distant
    by construction, so a half-indexed batch cannot reject its own
    survivors). tests/test_afp_index.py pins both properties."""
    from temporalvault_spark.operators.afp_index import (
        build_afp_index,
        query_afp_index,
    )
    from temporalvault_spark.operators.audio_fp import (
        AFP_THRESHOLD,
        afp_frame,
        afp_hamming_pairs,
    )

    thr = AFP_THRESHOLD if threshold is None else threshold

    def process(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        # ONE decode pass; errors='quarantine' (the image gate's contract)
        all_h = afp_frame(batch, errors="quarantine").localCheckpoint(eager=True)
        quarantined = all_h.filter(F.col("hash64").isNull()).select("aud_id")
        _quarantine_sync(  # the image gate's clean-batch skip + stale clear
            batch.join(quarantined, "aud_id", "semi"),
            quarantined.limit(1).count() > 0,
            batch_id,
            accepted_path,
        )
        hashes = all_h.filter(F.col("hash64").isNotNull())
        idx_exists = _gate_index_ready(spark, index_path, accepted_path)
        if idx_exists:
            hits = query_afp_index(spark, index_path, hashes, thr)
            cross_rej = hits.select(F.col("query_aud").alias("aud_id")).distinct()
        else:
            cross_rej = None
        local_rej = (
            afp_hamming_pairs(hashes, thr)
            .select(F.col("aud_b").alias("aud_id"))
            .distinct()
        )
        surv_ids = _gate_survivors(
            hashes.select("aud_id"), "aud_id", local_rej, cross_rej
        ).localCheckpoint(eager=True)
        # concurrent tail sinks (the joint gate's round-14 shape)
        _run_concurrent(
            [
                lambda: _accepted_overwrite(
                    batch.join(surv_ids, "aud_id", "semi"), batch_id, accepted_path
                ),
                lambda: build_afp_index(
                    hashes.join(surv_ids, "aud_id", "semi"),
                    index_path,
                    append=idx_exists,
                    ingest_id=batch_id,
                ),
            ]
        )

    return _dedup_gate_run(
        aud_stream, accepted_path, checkpoint, available_now, process
    )


def video_dedup_ingest_stream(
    vid_stream: DataFrame,
    index_path: str,
    accepted_path: str,
    checkpoint: str,
    threshold: int | None = None,
    min_frames: int | None = None,
    available_now: bool = True,
):
    """Streaming incremental VIDEO near-dup gate — the FIFTH modality's
    ingest gate (text / embeddings / images / audio: see the siblings
    above; all five ride the shared skeleton). Each micro-batch of
    (vid_id, video binary) rows is GIF-decoded and per-frame-hashed ONCE
    (operators/videohash.vfp_frame, the real stdlib LZW kernel), probed
    against the persisted frame band index (operators/vfp_index.py) with
    the sampled-frame VOTING verdict (>= ``min_frames`` same-position
    matches within Hamming ``threshold``); near-dups of already-ingested
    videos are REJECTED; survivors land in the accepted corpus AND their
    frame rows append to the index, so later batches dedup against them.
    Within-batch duplicates collapse via the in-memory voted pair join on
    just the batch's frames: the lowest vid_id of each local pair
    survives.

    Exactly-once across every crash window by the shared mechanism:
    committed batches leave batch_id markers (replays skip); the accepted
    corpus AND the index appends partition by ingest batch with dynamic
    partition overwrite, so a marker-lost replay rewrites its own
    partitions — neither grows duplicate rows (survivor determinism at the
    VERDICT level: survivors share fewer than ``min_frames`` matching
    positions by construction, so a half-indexed batch cannot vote out its
    own survivors). tests/test_vfp_index.py pins both properties."""
    from temporalvault_spark.operators.vfp_index import (
        _as_fid,
        build_vfp_index,
        query_vfp_index,
    )
    from temporalvault_spark.operators.videohash import (
        VFP_THRESHOLD,
        VID_MATCH_MIN,
        vfp_frame,
        video_fp_pairs,
    )

    thr = VFP_THRESHOLD if threshold is None else threshold
    mf = VID_MATCH_MIN if min_frames is None else min_frames

    def process(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        # ONE decode pass; errors='quarantine' — a corrupt container yields
        # one (vid_id, frame_idx=-1, NULL) row instead of wedging the stream
        all_fps = vfp_frame(batch, errors="quarantine").localCheckpoint(eager=True)
        quarantined = (
            all_fps.filter(F.col("frame_idx") < 0).select("vid_id").distinct()
        )
        _quarantine_sync(  # the image gate's clean-batch skip + stale clear
            batch.join(quarantined, "vid_id", "semi"),
            quarantined.limit(1).count() > 0,
            batch_id,
            accepted_path,
        )
        fps = all_fps.filter(F.col("frame_idx") >= 0)
        idx_exists = _gate_index_ready(spark, index_path, accepted_path)
        if idx_exists:
            hits = query_vfp_index(spark, index_path, fps, thr, mf)
            cross_rej = hits.select(F.col("query_vid").alias("vid_id")).distinct()
        else:
            cross_rej = None
        local_rej = (
            video_fp_pairs(fps, thr, mf)
            .select(F.col("vid_b").alias("vid_id"))
            .distinct()
        )
        surv_ids = _gate_survivors(
            fps.select("vid_id").distinct(), "vid_id", local_rej, cross_rej
        ).localCheckpoint(eager=True)
        # concurrent tail sinks (the joint gate's round-14 shape)
        _run_concurrent(
            [
                lambda: _accepted_overwrite(
                    batch.join(surv_ids, "vid_id", "semi"), batch_id, accepted_path
                ),
                lambda: build_vfp_index(
                    _as_fid(fps.join(surv_ids, "vid_id", "semi")),
                    index_path,
                    append=idx_exists,
                    ingest_id=batch_id,
                ),
            ]
        )

    return _dedup_gate_run(
        vid_stream, accepted_path, checkpoint, available_now, process
    )


def multimodal_dedup_ingest_stream(
    doc_stream: DataFrame,
    index_paths: dict,
    accepted_path: str,
    checkpoint: str,
    text_threshold: float = 0.6,
    image_threshold: int | None = None,
    audio_threshold: int | None = None,
    video_threshold: int | None = None,
    video_min_frames: int | None = None,
    quality_gate: bool = False,
    available_now: bool = True,
    prefer_adapter: bool = False,
):
    """The CAPSTONE ingest gate: one stream of full multimodal documents
    (doc_id, text, image, audio, video — binary payloads nullable per
    row), one verdict — a document is REJECTED if ANY modality near-dups
    an already-ingested or batch-local sibling. This is the streaming twin
    of dedup_multimodal_apply: the four per-modality probes
    (minhash text / phash image / envelope audio / voted video) run
    against their own persisted indexes, rejects union, survivors land in
    ONE accepted corpus and append to ALL FOUR indexes. ``index_paths``:
    {"text": ..., "image": ..., "audio": ..., "video": ...}.

    Rows with a NULL payload for some modality simply don't participate in
    that modality's probe (a text-only document can't image-dup anything).

    ``quality_gate=True`` prepends the curation policy's FIRST stage (the
    corpus_curate_end_to_end order: quality, then dedup): documents whose
    text fails the Gopher repetition rules (corpus.gopher_quality keep)
    are rejected BEFORE the decode/shingle passes AND the dedup probes —
    not decoded, not accepted, not indexed in ANY modality (rejects never
    pay the dominant per-payload cost, and a quality-rejected doc with a
    corrupt payload never reaches the environment-dependent quarantine
    sink — unlike quarantine, quality rejection is deterministic across
    environments, so replays decide identically with no sink to
    reconcile). Low-quality docs do not suppress future copies of
    themselves: each copy is re-rejected by the same deterministic rule,
    which is cheaper than carrying their signatures in every index.
    NULL-text documents fail the gate (no tokens to judge — a multimodal
    pipeline that wants media-only rows keeps the gate off or scores them
    upstream).

    Exactly-once by the shared mechanism, jointly: the batch marker is ONE
    file covering all four index appends + the accepted write, every build
    passes ingest_id=batch_id (appends rewrite their own partitions on
    replay), and survivor determinism holds per modality (survivors are
    pairwise below EVERY modality's match rule, so a half-indexed batch
    cannot reject its own survivors in any modality). A crash that leaves
    SOME indexes built and others not replays coherently: ready indexes
    re-append (dynamic overwrite of the same ingest partitions), missing
    ones rebuild — the markers-without-index guard still fails loudly on
    an established gate whose index vanished."""
    from temporalvault_spark.operators.afp_index import (
        build_afp_index,
        query_afp_index,
    )
    from temporalvault_spark.operators.audio_fp import afp_frame, afp_hamming_pairs
    from temporalvault_spark.operators.audio_fp import AFP_THRESHOLD
    from temporalvault_spark.operators.llm import (
        ngram_jaccard_pairs,
        shingle_signatures,
    )
    from temporalvault_spark.operators.minhash_index import (
        build_minhash_index,
        query_minhash_index,
    )
    from temporalvault_spark.operators.phash import (
        PHASH_THRESHOLD,
        ahash_frame,
        phash_hamming_pairs,
    )
    from temporalvault_spark.operators.videohash import (
        VFP_THRESHOLD,
        VID_MATCH_MIN,
    )
    from temporalvault_spark.operators.phash_index import (
        build_phash_index,
        query_phash_index,
    )
    from temporalvault_spark.operators.vfp_index import (
        _as_fid,
        build_vfp_index,
        query_vfp_index,
    )
    from temporalvault_spark.operators.videohash import vfp_frame, video_fp_pairs

    for k in ("text", "image", "audio", "video"):
        if k not in index_paths:
            raise ValueError(f"multimodal gate: index_paths missing {k!r}")
    thr_img = PHASH_THRESHOLD if image_threshold is None else image_threshold
    thr_aud = AFP_THRESHOLD if audio_threshold is None else audio_threshold
    thr_vid = VFP_THRESHOLD if video_threshold is None else video_threshold
    mf_vid = VID_MATCH_MIN if video_min_frames is None else video_min_frames

    if prefer_adapter:
        # gate-start mixed-fleet fail-fast — the image gate's guard
        # (round-13 ADVICE #2); see assert_homogeneous_pillow_fleet
        from temporalvault_spark.operators.multimodal import (
            assert_homogeneous_pillow_fleet,
        )

        assert_homogeneous_pillow_fleet(doc_stream.sparkSession)

    def process(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        if quality_gate:
            from temporalvault_spark.operators.corpus import gopher_quality

            # quality FIRST (the curation order) and BEFORE any decode:
            # Gopher rejects a large fraction of raw web text, so rejected
            # docs must not pay the dominant shingle-md5/decode cost — and a
            # quality-rejected doc with a corrupt payload never reaches the
            # environment-dependent quarantine sink, keeping its rejection
            # fully deterministic (review-pass ordering fix). The semi-join
            # withdraws rejects from EVERYTHING downstream at once: decodes,
            # probes, pair joins, index appends, and the accepted write.
            quality_ok = (
                gopher_quality(
                    batch.filter(F.col("text").isNotNull()).select(
                        "doc_id", "text"
                    )
                )
                .filter(F.col("keep") == True)  # noqa: E712 — NULL-safe
                .select("doc_id")
            )
            batch = batch.join(quality_ok, "doc_id", "semi").localCheckpoint(
                eager=True
            )
        # one decode pass per modality, NULL payloads excluded up front
        docs = batch.filter(F.col("text").isNotNull()).select("doc_id", "text")
        imgs = batch.filter(F.col("image").isNotNull()).select(
            F.col("doc_id").alias("img_id"), "image"
        )
        auds = batch.filter(F.col("audio").isNotNull()).select(
            F.col("doc_id").alias("aud_id"), "audio"
        )
        vids = batch.filter(F.col("video").isNotNull()).select(
            F.col("doc_id").alias("vid_id"), "video"
        )
        # errors='quarantine' on every binary decode (the single-modality
        # gates' contract): a document with ANY corrupt payload is routed to
        # the quarantine sink — neither survivor nor index row — instead of
        # wedging the stream in an infinite batch-replay loop.
        # prefer_adapter: the image gate's homogeneous-fleet contract
        # applies here too (decode_pixels_rgb's note; probed at gate start).
        # The four decode+checkpoint jobs are independent until the
        # quarantine union — run them CONCURRENTLY (round-13 verdict task
        # 2: sequential, they were the joint gate's ~4× fixed overhead vs
        # a single gate). sigs is the ONE shingle+md5 pass shared by
        # probe, local pairs, and build (the text path's dominant CPU).
        sigs, img_all, aud_all, vid_all = _run_concurrent(
            [
                lambda: shingle_signatures(docs).localCheckpoint(eager=True),
                lambda: ahash_frame(
                    imgs, errors="quarantine", prefer_adapter=prefer_adapter
                ).localCheckpoint(eager=True),
                lambda: afp_frame(auds, errors="quarantine").localCheckpoint(
                    eager=True
                ),
                lambda: vfp_frame(vids, errors="quarantine").localCheckpoint(
                    eager=True
                ),
            ]
        )
        quarantined = (
            img_all.filter(F.col("hash64").isNull())
            .select(F.col("img_id").alias("doc_id"))
            .unionByName(
                aud_all.filter(F.col("hash64").isNull()).select(
                    F.col("aud_id").alias("doc_id")
                )
            )
            .unionByName(
                vid_all.filter(F.col("frame_idx") < 0).select(
                    F.col("vid_id").alias("doc_id")
                )
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        # skip the sink job entirely on clean batches (the common case on
        # the hot path); a clean replay clears any stale partition a prior
        # environment's run left (see _quarantine_sync)
        has_quar = quarantined.limit(1).count() > 0
        _quarantine_sync(
            batch.join(quarantined, "doc_id", "semi"),
            has_quar,
            batch_id,
            accepted_path,
        )
        img_h = img_all.filter(F.col("hash64").isNotNull())
        aud_h = aud_all.filter(F.col("hash64").isNotNull())
        vid_h = vid_all.filter(F.col("frame_idx") >= 0)
        if has_quar:
            # a quarantined document is FULLY withdrawn from the batch: its
            # HEALTHY modalities must not participate in the pair joins or
            # index appends either (review finding: a corrupt-audio doc's
            # valid image would otherwise vote out the kept sibling copy —
            # the sibling lands in neither the corpus nor any index, and no
            # future copy ever dedups against it)
            docs = docs.join(quarantined, "doc_id", "left_anti")
            sigs = sigs.join(quarantined, "doc_id", "left_anti")
            img_h = img_h.join(
                quarantined.select(F.col("doc_id").alias("img_id")),
                "img_id",
                "left_anti",
            )
            aud_h = aud_h.join(
                quarantined.select(F.col("doc_id").alias("aud_id")),
                "aud_id",
                "left_anti",
            )
            vid_h = vid_h.join(
                quarantined.select(F.col("doc_id").alias("vid_id")),
                "vid_id",
                "left_anti",
            )

        ready = {
            k: _gate_index_ready(spark, index_paths[k], accepted_path)
            for k in ("text", "image", "audio", "video")
        }
        rejects = []
        if ready["text"]:
            rejects.append(
                query_minhash_index(
                    spark, index_paths["text"], docs, text_threshold,
                    signatures=sigs,
                ).select(F.col("query_doc").alias("doc_id"))
            )
        if ready["image"]:
            rejects.append(
                query_phash_index(
                    spark, index_paths["image"], img_h, thr_img
                ).select(F.col("query_img").alias("doc_id"))
            )
        if ready["audio"]:
            rejects.append(
                query_afp_index(
                    spark, index_paths["audio"], aud_h, thr_aud
                ).select(F.col("query_aud").alias("doc_id"))
            )
        if ready["video"]:
            rejects.append(
                query_vfp_index(
                    spark, index_paths["video"], vid_h, thr_vid, mf_vid
                ).select(F.col("query_vid").alias("doc_id"))
            )
        # within-batch rejects, per modality (keep the lower doc_id)
        rejects.append(
            ngram_jaccard_pairs(docs, text_threshold, signatures=sigs).select(
                F.col("doc_b").alias("doc_id")
            )
        )
        rejects.append(
            phash_hamming_pairs(img_h, thr_img).select(
                F.col("img_b").alias("doc_id")
            )
        )
        rejects.append(
            afp_hamming_pairs(aud_h, thr_aud).select(
                F.col("aud_b").alias("doc_id")
            )
        )
        rejects.append(
            video_fp_pairs(vid_h, thr_vid, mf_vid).select(
                F.col("vid_b").alias("doc_id")
            )
        )
        rej = rejects[0]
        for r in rejects[1:]:
            rej = rej.unionByName(r)
        rej = rej.distinct()
        surv_ids = (
            batch.select("doc_id")
            .join(rej, "doc_id", "left_anti")
            .join(quarantined, "doc_id", "left_anti")
        ).localCheckpoint(eager=True)
        # the five tail sinks — accepted corpus + four index appends — are
        # independent writes to five distinct paths, every one idempotent
        # under replay (dynamic overwrite of this batch's own ingest
        # partitions): run them as concurrent jobs too (verdict task 2);
        # _run_concurrent re-raises the first failure, so a failed write
        # still fails the batch before its marker commits
        _run_concurrent(
            [
                lambda: _accepted_overwrite(
                    batch.join(surv_ids, "doc_id", "semi"),
                    batch_id,
                    accepted_path,
                ),
                lambda: build_minhash_index(
                    docs.join(surv_ids, "doc_id", "semi"),
                    index_paths["text"],
                    append=ready["text"],
                    signatures=sigs.join(surv_ids, "doc_id", "semi"),
                    ingest_id=batch_id,
                ),
                lambda: build_phash_index(
                    img_h.join(
                        surv_ids, img_h["img_id"] == surv_ids["doc_id"], "semi"
                    ),
                    index_paths["image"],
                    append=ready["image"],
                    ingest_id=batch_id,
                ),
                lambda: build_afp_index(
                    aud_h.join(
                        surv_ids, aud_h["aud_id"] == surv_ids["doc_id"], "semi"
                    ),
                    index_paths["audio"],
                    append=ready["audio"],
                    ingest_id=batch_id,
                ),
                lambda: build_vfp_index(
                    _as_fid(
                        vid_h.join(
                            surv_ids,
                            vid_h["vid_id"] == surv_ids["doc_id"],
                            "semi",
                        )
                    ),
                    index_paths["video"],
                    append=ready["video"],
                    ingest_id=batch_id,
                ),
            ]
        )

    return _dedup_gate_run(
        doc_stream, accepted_path, checkpoint, available_now, process
    )


def run_available_now(
    stream_df: DataFrame,
    name: str,
    output_mode: str = "complete",
    latest_by: tuple[str, ...] = (),
    order_col: str | None = None,
) -> DataFrame:
    """Drain the stream's currently-available data into an in-memory table and
    return it as a DataFrame (Trigger.AvailableNow — the backfill/test path).

    ``latest_by``/``order_col``: in update mode the memory sink accumulates
    one row per key per micro-batch; pass the key columns and a monotone
    column (e.g. version_num) to collapse to each key's newest row —
    otherwise a multi-batch drain returns stale duplicates alongside the
    current state."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = stream_df.sparkSession.table(name)
    if latest_by and order_col:
        from pyspark.sql import Window

        w = Window.partitionBy(*latest_by).orderBy(F.desc(order_col))
        out = (
            out.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    return out
