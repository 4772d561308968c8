"""The analytics workload: passes over fixed registry queries, one client.

Set-up (timed): register the catalog over a fresh copy of the generated
tables and build its cached ``temporal_records`` view (repeated, median
taken), then one first pass that runs every query and collects its rows.
The first pass builds the operators' staged artifacts, so it belongs to
set-up; its collected rows are checked, untimed, against each query's
``registry.ORACLES`` SQL on DuckDB with ``tests/oracle_check.compare``.

Measured passes run the same queries into the ``noop`` sink. Whole passes
only, so every run measures the same query mix.
"""

from __future__ import annotations

import time

# One query per operators module, the lightest of its kind, so that the
# cold first pass and one measured pass fit the run's time budget: temporal
# core, data quality, relational + joins, TPC-H (two modules), windows,
# hypertable, session analytics, LLM text, corpus filters, retrieval,
# similarity, graph.
QUERIES = [
    "asof_latest_per_key",
    "dq_version_chain",
    "join_asof",
    "tpch_q3_shipping_priority",
    "tpch_q9_product_profit",
    "win_session",
    "win_gapfill_locf",
    "sessions_overlap_binned",
    "text_tfidf_topk",
    "gopher_quality_rules",
    "bm25_topk",
    "sim_topk_cosine",
    "pagerank_trade_network",
]


class _Collected:
    """A query result whose rows were already collected: lets
    ``oracle_check.compare`` check the first pass's rows without running
    the query a second time."""

    def __init__(self, df, rows):
        self.columns, self.dtypes, self._rows = df.columns, df.dtypes, rows

    def collect(self):
        return self._rows


class AnalyticsPass:
    def __init__(self, spark, tracer, data_dirs):
        from temporalvault_spark.registry import QUERIES as REGISTRY

        self.spark, self.tr, self.data_dirs = spark, tracer, data_dirs
        self.fns = {n: REGISTRY[n] for n in QUERIES}
        self.modules = {n: fn.__module__.rsplit(".", 1)[-1] for n, fn in self.fns.items()}
        self.sf_dir = None
        self.wrong: list[str] = []
        self.failed: list[str] = []

    def setup_catalog(self, rep: int) -> float:
        from temporalvault_spark.catalog import load_catalog

        t0 = time.perf_counter()
        with self.tr.span("setup", "bench", op=f"setup{rep}"):
            with self.tr.span("catalog.load_catalog", "catalog", spark=self.spark):
                cat = load_catalog(self.spark, self.data_dirs[rep])
            with self.tr.span("catalog.temporal_records_cache", "catalog", spark=self.spark):
                cat.temporal_records.count()
        self.sf_dir = self.data_dirs[rep]
        return time.perf_counter() - t0

    def _run(self, name: str, sink, pass_id: str):
        with self.tr.span(f"op.{name}", "bench", op=f"{pass_id}.{name}"):
            with self.tr.span(f"query.{name}", f"operators.{self.modules[name]}", spark=self.spark):
                return sink(self.fns[name](self.spark, self.sf_dir))

    def first_pass(self) -> tuple[float, dict]:
        """Timed collect of every query; returns (seconds, name -> result)."""
        results, t0 = {}, time.perf_counter()
        for name in QUERIES:
            try:
                results[name] = self._run(name, lambda df: _Collected(df, df.collect()), "pass0")
            except Exception as e:  # counted, and the run reports it
                self.failed.append(f"{name}: {e!r}"[:300])
        return time.perf_counter() - t0, results

    def check(self, results: dict) -> None:
        from temporalvault_spark.registry import ORACLES
        from tests.oracle_check import compare, duckdb_conn

        con = duckdb_conn(self.sf_dir)
        try:
            for name, res in results.items():
                ok, msg = compare(res, con, ORACLES[name])
                if not ok:
                    self.wrong.append(f"{name}: {msg}"[:300])
        finally:
            con.close()

    def measured_pass(self, pass_no: int, cpu_clock) -> list[tuple[str, float, float]]:
        """(query, wall seconds, CPU seconds by ``cpu_clock``) per query."""
        out = []
        for name in QUERIES:
            c0 = cpu_clock()
            t0 = time.perf_counter()
            try:
                self._run(name, lambda df: df.write.format("noop").mode("overwrite").save(),
                          f"pass{pass_no}")
            except Exception as e:
                self.failed.append(f"{name}: {e!r}"[:300])
                continue
            dt = time.perf_counter() - t0
            out.append((name, dt, cpu_clock() - c0))
        return out
