"""Shared machinery for the persisted band-index family (minhash_index /
rp_lsh_index / phash_index). These three indexes carry the identical
write-mode, meta-sidecar, occupancy, and rebuild-swap contracts — round 10's
code review caught the contracts drifting when each module re-stated them
(a missing self-pair filter here, a differently-keyed existence check
there), so the mechanical parts live HERE once:

- ``resolve_write_mode``: bulk namespace ingest=-1 vs per-batch dynamic
  partition overwrite (the exactly-once streaming append);
- ``meta_row``: the mtime-cached 1-row ``_meta`` sidecar read (a full Spark
  parquet job per probe otherwise);
- ``assert_ingest_layout``: refuse appends into a pre-ingest-layer index —
  mixed partition depths are unreadable by Spark's partition discovery
  (probes on a pure legacy layout still work: the explicit read schemas
  null-fill the missing ingest column); the remedy is a rebuild, which
  writes the current layout;
- ``atomic_swap_rebuild``: build into a sibling, rename-swap, drop the old
  — probes never see a half-rebuilt index.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def resolve_write_mode(
    append: bool, ingest_id: int | None
) -> tuple[str, bool, int]:
    """(mode, dynamic_overwrite, ingest partition value) for an index write.

    Appends with an explicit ``ingest_id`` (a streaming batch id) run as
    dynamic partition overwrites of that ingest's own partitions, so a
    crash-replayed batch REWRITES its rows instead of duplicating them.
    Everything else — base builds and bulk appends — lives in the ``-1``
    namespace, so a stream's batch-id overwrites can never clobber base or
    bulk rows (one gate per index is the caller's contract for batch-id
    uniqueness)."""
    if append and ingest_id is not None:
        return "overwrite", True, int(ingest_id)
    if append:
        return "append", False, -1
    return "overwrite", False, int(ingest_id) if ingest_id is not None else -1


# normpath(_meta) -> (mtime_ns, row dict). An append never rewrites _meta;
# a rebuild does, which bumps the mtime and replaces the entry (keying on
# the path alone keeps the cache bounded at one entry per live index —
# keying on (path, mtime) leaked one stale entry per rebuild for the life
# of the session).
_META_ROW_CACHE: dict[str, tuple[int, dict]] = {}


def adopt_swapped(path: str) -> bool:
    """Adopt-on-read recovery for the ``atomic_swap_rebuild`` crash window:
    the swap is two renames (``path`` -> ``path.old`` then
    ``path.rebuild`` -> ``path``), and a crash BETWEEN them leaves no index
    at ``path`` while the complete old index sits untouched at
    ``path.old``. Without recovery the streaming gates' ``index_ready``
    would read that as no-index and silently cold-rebuild from a single
    batch — permanently losing dedup coverage against the historic corpus.
    So every sidecar read first checks for exactly that signature (nothing
    at ``path``, a directory at ``path.old``) and renames the old index
    back. A leftover ``path.old`` NEXT TO a live index (crash after the
    second rename, before the cleanup rmtree) is NOT adopted — the new
    index won — and is removed here (completing the crashed cleanup):
    letting it linger would let a LATER external deletion of the live
    index silently resurrect the stale pre-rebuild index instead of
    tripping the gates' markers-without-index guard. Cross-PROCESS races
    (a reader adopting while a live rebuild sits between its two renames)
    are handled on the writer side: atomic_swap_rebuild retries its second
    rename after re-parking an adopted directory."""
    old = f"{path}.old"
    if os.path.isdir(old):
        if not os.path.exists(path):
            try:
                os.rename(old, path)
                return True
            except OSError:
                pass  # racing reader already adopted it — path now exists
        else:
            # stale .old beside a live index: finish the crashed rmtree so
            # it can never be adopted after a future deletion of path
            shutil.rmtree(old, ignore_errors=True)
    return False


def meta_sidecar_exists(path: str) -> bool:
    """Whether a ``_meta`` sidecar entry is physically present on disk —
    readable or not. Lets callers distinguish 'sidecar absent' (a genuinely
    pre-sidecar legacy index, where a width fallback is legitimate) from
    'sidecar present but unreadable' (a torn write, which must raise: a
    guessed width there would silently probe zero partitions)."""
    meta = f"{path}/_meta"
    return os.path.isdir(meta) or os.path.isfile(meta)


def meta_row(
    spark: SparkSession, path: str, missing_ok: bool = False
) -> dict | None:
    """The index's 1-row ``_meta`` sidecar as a dict, cached on the
    sidecar's mtime. ``None`` (with ``missing_ok``) or raises when the
    sidecar is absent — a torn write (crash between the data overwrite and
    the _meta rewrite); probing with a guessed width would silently find
    nothing. Callers validate their own field invariants on top. Use
    ``meta_sidecar_exists`` to tell absent from torn when that distinction
    changes the remedy. Recovers a crashed rebuild swap first (see
    ``adopt_swapped``)."""
    adopt_swapped(path)
    meta = f"{path}/_meta"
    if os.path.isdir(meta) or os.path.isfile(meta):
        mtime = os.stat(meta).st_mtime_ns
        cached = _META_ROW_CACHE.get(os.path.normpath(meta))
        if cached is not None and cached[0] == mtime:
            return cached[1]
        # a crash DURING the sidecar write leaves a half-existing _meta
        # directory (only _temporary inside, or zero committed rows) that
        # passes the exists() check but cannot be read — treat it exactly
        # like a missing sidecar (torn write), or every replay of a gate
        # would wedge on an undiagnostic AnalysisException instead of
        # self-repairing
        try:
            from pyspark.errors import AnalysisException

            row = spark.read.parquet(meta).first()
        except AnalysisException:
            row = None
        if row is not None:
            got = row.asDict()
            _META_ROW_CACHE[os.path.normpath(meta)] = (mtime, got)
            return got
    if missing_ok:
        return None
    raise ValueError(
        f"index at {path} has no readable _meta sidecar — torn/partial "
        "index write; rebuild the index"
    )


def index_ready(spark: SparkSession, path: str) -> bool:
    """True iff the index has a READABLE ``_meta`` sidecar — the LAST
    artifact a build writes. The streaming gates key their build-vs-append
    decision on this (never on a bare exists()): an unreadable sidecar
    means the only write that creates it — the first batch's build — tore,
    so nothing of value is in the index and the replay self-repairs with a
    full rebuild. (External corruption of a long-lived index's sidecar
    would also read as not-ready and rebuild from the current batch; batch
    probes raise loudly on the same state, so the corruption cannot pass
    silently outside the gate.)"""
    return meta_row(spark, path, missing_ok=True) is not None


def collect_prune(keys: DataFrame, band_col: str = "band", bkt_col: str = "bkt") -> Column | None:
    """The probe-side partition-pruning predicate shared by the three
    band indexes: the batch's DISTINCT (band, bkt) keys — at most
    bands x |batch| of them, bounded by construction — collect to the
    driver and become an explicit OR-of-isin predicate over the partition
    columns, so the index scan reads only the batch's own directories.
    ``None`` when the batch produced no keys (empty batch)."""
    hit: dict = {}
    for r in keys.select(band_col, bkt_col).distinct().collect():
        hit.setdefault(r[band_col], []).append(r[bkt_col])
    if not hit:
        return None
    return reduce(
        lambda a, b: a | b,
        [
            (F.col(band_col) == band) & F.col(bkt_col).isin(v)
            for band, v in hit.items()
        ],
    )


def assert_ingest_layout(path: str, family: str) -> None:
    """Refuse to append into a pre-round-10 (no ingest layer) index: new
    files at ``band=*/.../ingest=*`` next to old files directly under the
    leaf would give Spark's partition discovery conflicting directory
    depths and every subsequent read would fail. Probing a PURE legacy
    index still works (explicit schemas null-fill ingest), and the rebuild
    ops read legacy layouts fine and write the current one — so the raise
    names that remedy."""
    if not os.path.isdir(path):
        return  # fresh index: nothing on disk yet
    # scan EVERY band directory: a single legacy leaf anywhere is enough to
    # corrupt the layout on append (an early version settled on the first
    # band dir and silently approved when that one happened to be empty)
    stack = [
        os.path.join(path, e) for e in os.listdir(path) if e.startswith("band=")
    ]
    while stack:
        d = stack.pop()
        entries = os.listdir(d)
        if any(e.startswith("ingest=") for e in entries):
            continue  # this branch is current-layout
        subdirs = [
            os.path.join(d, e)
            for e in entries
            if "=" in e and os.path.isdir(os.path.join(d, e))
        ]
        if subdirs:
            stack.extend(subdirs)
        elif any(e.endswith(".parquet") for e in entries):
            raise ValueError(
                f"{family} index at {path} uses the pre-ingest-layer "
                "layout — appending would mix partition depths and "
                "break every subsequent read; rebuild the index first "
                "(rebuild-if-grown reads legacy layouts and writes the "
                "current one)"
            )


def atomic_swap_rebuild(path: str, build_to: Callable[[str], None]) -> None:
    """Build a replacement index into a SIBLING directory and rename-swap
    it in (the vault's ``_replace_log`` does the same for its log): probes
    racing the rebuild see either the old index or the new one, never a
    mixture. The index family keeps its own protocol because its readers
    repair a crashed swap on their own (``adopt_swapped`` renames the old
    copy back), where the vault decides promote-or-restore at open from the
    new copy's ``_SUCCESS`` marker. The swap
    itself is two renames, so a crash exactly between them leaves no index
    at ``path`` and the complete old one at ``path.old`` — that window is
    repaired by ``adopt_swapped``, which every sidecar read (and this
    function's own entry) runs first, so the next touch of the index
    renames the old one back instead of reading it as vanished."""
    tmp_new, tmp_old = f"{path}.rebuild", f"{path}.old"
    adopt_swapped(path)  # a crashed prior swap: restore before rebuilding
    shutil.rmtree(tmp_new, ignore_errors=True)
    shutil.rmtree(tmp_old, ignore_errors=True)
    build_to(tmp_new)
    os.rename(path, tmp_old)
    # a cross-process reader can adopt tmp_old back into path between the
    # two renames (adopt_swapped cannot tell that crash signature from a
    # LIVE swap); re-park it and retry — each retry empties path again, so
    # this converges unless readers adopt continuously (bounded attempts,
    # then raise rather than spin)
    for attempt in range(5):
        try:
            os.rename(tmp_new, path)
            break
        except OSError:
            os.rename(path, tmp_old)
    else:
        raise OSError(
            f"atomic_swap_rebuild: could not swap {path} after 5 attempts — "
            "a racing reader keeps adopting the old index; serialize "
            "rebuilds against probes (external lock) and retry"
        )
    shutil.rmtree(tmp_old)


# --- hot-bucket skew (round-12 verdict #5) ------------------------------------
# ONE definition of the band-family hot-bucket rendering, shared by all five
# occupancy probes (minhash / rp / phash / afp / vfp) on both sides:
# max_bucket = rows in the fullest (band, bucket) directory, skew =
# max_bucket / (rows / n_bkts) — the centroid family's skew semantic
# (ivf_index.centroid_index_occupancy). A boilerplate-heavy corpus
# concentrates one LSH bucket, and probe fan-out rides max_bucket, not the
# mean the occupancy column reports. Quantized as half-up integer
# micro-units, FLOOR(x*1e6 + 0.5)/1e6 (round-13 ADVICE #1): the previous
# ROUND(x, 6) was only convention-aligned across engines — Spark's F.round
# half-ups the shortest decimal repr while DuckDB rounds the scaled binary,
# leaving a residual 7th-decimal tie surface on these small-integer
# quotients. The floor form is bit-exact by construction: both engines
# evaluate the same IEEE multiply/add/floor/divide on the same
# integer-derived double, so there is no tie surface at all.


def quant6_col(col: Column) -> Column:
    """``constants.micro_units``' half-up quantizer as a Spark Column —
    FLOOR(x*1e6 + 0.5)/1e6. Pair with :func:`quant6_sql` so the Spark and
    DuckDB sides run the identical IEEE op sequence (see module note
    above); ``constants.quant6`` is the same function driver-side."""
    return F.floor(col * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)


def quant6_sql(expr: str) -> str:
    """The DuckDB twin of :func:`quant6_col` — same ops, same literals."""
    return f"FLOOR(({expr}) * 1e6 + 0.5) / 1e6"


def bucket_skew(idx: DataFrame, bucket_cols: tuple, n_bkts, rows) -> tuple[int, float]:
    """Dict-probe side: (max_bucket, skew) of an index frame. The skew
    division and quantization run as the SAME Spark expression the oracled
    probes use (quant6_col; bit-identical to constants.quant6 on the same
    quotient) — Python round() is banker's and was reviewed out (pass 2:
    round(1.0078125, 6) half-to-evens to 1.007812 while half-up lands
    1.007813), so the dict probe and the registered query can never report
    different skew for one index."""
    row = (
        idx.groupBy(*bucket_cols)
        .agg(F.count("*").alias("nb"))
        .agg(F.max("nb").alias("mx"))
        .select(
            "mx",
            quant6_col(
                F.col("mx") * F.lit(int(n_bkts)) / F.lit(max(int(rows), 1))
            ).alias("skew"),
        )
        .first()
    )
    if row is None or row["mx"] is None:
        return 0, 0.0
    return int(row["mx"]), float(row["skew"])


def with_bucket_skew(stats: DataFrame, idx: DataFrame, bucket_cols: tuple) -> DataFrame:
    """Oracled-query side: append max_bucket/skew columns to a 1-row
    occupancy stats frame carrying ``n_rows``/``n_bkts`` (1-row x 1-row
    crossJoin — the aggregate needs its own groupBy pass, so it cannot fold
    into the stats aggregate). The COALESCE/GREATEST guards render a
    zero-row index as (0, 0.0) on every skew surface — dict probe, this
    frame, and the oracle SQL agree by construction (r13 pass 3)."""
    mx = idx.groupBy(*bucket_cols).agg(F.count("*").alias("nb")).agg(
        F.coalesce(F.max("nb").cast("bigint"), F.lit(0)).alias("max_bucket")
    )
    return stats.crossJoin(mx).withColumn(
        "skew",
        quant6_col(
            F.col("max_bucket") * F.col("n_bkts")
            / F.greatest(F.col("n_rows"), F.lit(1))
        ),
    )


def skew_oracle_sql(base: str, bucket_cols: str) -> tuple[str, str]:
    """(extra CTEs, select fragment) for the DuckDB twin — rendered from the
    SAME constants as the Spark side so the five oracles cannot drift."""
    ctes = (
        f"bkt AS (SELECT {bucket_cols}, COUNT(*) AS nb FROM {base} "
        f"GROUP BY {bucket_cols}),\n"
        "    mb AS (SELECT CAST(COALESCE(MAX(nb), 0) AS BIGINT)"
        " AS max_bucket FROM bkt)"
    )
    skew = quant6_sql("max_bucket * n_bkts / CAST(GREATEST(n_rows, 1) AS DOUBLE)")
    sel = f"max_bucket,\n           {skew} AS skew"
    return ctes, sel
