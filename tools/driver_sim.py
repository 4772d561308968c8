"""Driver simulation: run the full __spark_entry__ contract exactly as the
grading driver does — plain SparkSession (no builder confs), every
``queries()`` entry vs its ``oracle_sql()`` twin via DuckDB at sf0.01.

Usage: python tools/driver_sim.py [sf_dir] [out_json] [name_pattern ...]

With name patterns (fnmatch globs) only the matching queries run and the
entry() smoke is skipped — the fast inner loop (tools/check_subset.py is
the ergonomic front-end). Without patterns this is the driver-identical
full sweep, entry() smoke included.
"""

from __future__ import annotations

import fnmatch
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def run(sf_dir: str, out: str | None, patterns: list[str] | None = None) -> int:
    """ONE implementation of the grading-driver loop (review-pass dedup:
    check_subset.py had a drifting copy of the session construction and the
    compare loop). ``patterns`` filters query names; None = full contract
    including the entry() smoke."""
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    import __spark_entry__ as m
    from tests.oracle_check import compare, duckdb_conn

    queries = m.queries()
    oracles = m.oracle_sql()
    if patterns:
        names = [n for n in queries if any(fnmatch.fnmatch(n, p) for p in patterns)]
        if not names:
            print(f"no queries match {patterns}")
            return 1
    else:
        edf = m.entry(spark)
        assert edf.count() > 0, "entry() smoke failed"
        names = list(queries)

    con = duckdb_conn(sf_dir)
    results: dict[str, dict] = {}
    n_fail = 0
    for i, name in enumerate(names):
        fn = queries[name]
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            if name in oracles:
                ok, msg = compare(df, con, oracles[name])
                if not ok:
                    n_fail += 1
                results[name] = {"ok": ok, "msg": msg, "sec": round(time.time() - t0, 2)}
                # 0 = 0 hash-matches trivially (the pii_scan trap, round 9):
                # record it so empty-by-data oracle rows stay VISIBLE and
                # get a crafted-corpus test instead of silent green. The
                # count comes from compare()'s already-materialized oracle
                # rows — no second execution of the oracle SQL
                if ok and msg == "ok rows=0":
                    results[name]["zero_rows"] = True
            else:
                n = df.count()
                results[name] = {"ok": True, "msg": f"rows_only:{n}", "sec": round(time.time() - t0, 2)}
        except Exception as e:  # noqa: BLE001 — record, keep going
            n_fail += 1
            results[name] = {"ok": False, "msg": f"EXC {type(e).__name__}: {e}", "sec": round(time.time() - t0, 2)}
        tag = "ok" if results[name]["ok"] else "FAIL"
        print(f"[{i:2d}/{len(names)}] {tag:4s} {name} ({results[name]['sec']}s) {'' if results[name]['ok'] else results[name]['msg'][:200]}", flush=True)

    if out:
        with open(out, "w") as f:
            json.dump(results, f, indent=1)
    zero = sorted(n for n, r in results.items() if r.get("zero_rows"))
    if zero:
        print(f"note: {len(zero)} oracle row(s) matched on ZERO rows "
              f"(verify them with crafted corpora): {', '.join(zero)}")
    print(f"\n{len(names) - n_fail}/{len(names)} green" + (f" -> {out}" if out else ""))
    return 1 if n_fail else 0


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = sys.argv[2] if len(sys.argv) > 2 else os.path.join(REPO, "CORRECTNESS_LOCAL.json")
    patterns = sys.argv[3:] or None
    return run(sf_dir, out, patterns)


if __name__ == "__main__":
    raise SystemExit(main())
