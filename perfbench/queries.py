"""The query workloads, ``sql_analytics`` and ``llm_operators``: registry
queries run as builder call plus collect, each checked against its
registry ``oracle`` SQL on DuckDB.

The collect is ``toPandas()``: the Arrow collect whose frame the
strict comparator of ``tests/oracle.py`` reads, so no query runs twice.
"""

from __future__ import annotations

import random
import time

#: shuffle, partition and Catalyst overhead: builders fire almost no
#: jobs, each query runs several jobs over the fixed shuffle partitions.
SQL_ANALYTICS = (
    "q1_scan_topk", "q3_composite_distinct", "q5_summary_stats", "q7_grouped_count",
    "q8_join_count_per_customer", "q10_broadcast_dim_join", "q15_last_write_wins",
    "tpch_q1_pricing_summary", "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume", "tpch_q7_nation_volume", "tpch_q8_market_share",
    "tpch_q13_order_distribution", "tpch_q18_large_volume_customer",
    "tpch_q22_idle_balance", "events_sessionize", "events_range_join",
    "events_value_percentiles",
)

#: eager Spark jobs inside the builders (dedup_cluster_sizes fires 30,
#: emb_hygiene_audit 7), and kernels on Arrow/Python workers.
LLM_OPERATORS = (
    "dedup_cluster_sizes", "events_kmv_user_overlap", "events_sketch_rollup",
    "emb_hygiene_audit", "dedup_minhash_lsh", "corpus_clean", "docs_dup_spans",
    "dedup_edit_distance", "docs_tfidf_topk",
)

WORKLOADS = {"sql_analytics": SQL_ANALYTICS, "llm_operators": LLM_OPERATORS}


class _Collected:
    """What ``tests.oracle.compare`` reads from a Spark frame."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


class QueryPass:
    """Runs ``names`` in a seeded order over the tables in ``sf_dir``."""

    def __init__(self, spark, names: tuple[str, ...], sf_dir: str, seed: int, tracer=None):
        from meteo_etl_spark.plans import queries as registry

        specs = registry.all_queries()
        self.spark = spark
        self.specs = {n: specs[n] for n in names}
        self.order = random.Random(seed).sample(list(names), len(names))
        self.sf_dir = sf_dir
        self.tracer = tracer
        self.latency_s: list[float] = []
        self.latency_by_name: dict[str, list[float]] = {}
        self.results: dict[str, object] = {}
        self.errors: dict[str, str] = {}
        self.attempted = 0

    def run_once(self) -> None:
        for name in self.order:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                if self.tracer is None:
                    pdf = self.specs[name].fn(self.spark, self.sf_dir).toPandas()
                else:
                    pdf = self._traced(name)
            except Exception as exc:  # noqa: BLE001 — a raising query is a failed operation
                self.errors[name] = f"{type(exc).__name__}: {str(exc)[:300]}"
                continue
            self.latency_s.append(time.perf_counter() - t0)
            self.latency_by_name.setdefault(name, []).append(self.latency_s[-1])
            self.results[name] = pdf

    def _traced(self, name: str):
        from perfbench.probes import catalyst_phases_ms

        with self.tracer.op("query", name):
            with self.tracer.span(name, "plans"):
                df = self.specs[name].fn(self.spark, self.sf_dir)
            with self.tracer.span("toPandas", "execution") as s:
                pdf = df.toPandas()
        s.meta.update(catalyst_phases_ms(df))
        return pdf

    def check(self) -> dict[str, str]:
        """Oracle gate: name -> mismatch, for every query that raised or
        whose rows differ from DuckDB's under the strict comparator."""
        from tests.oracle import compare, duckdb_connection

        failures = dict(self.errors)
        con = duckdb_connection(self.sf_dir)
        try:
            for name, pdf in self.results.items():
                oracle = self.specs[name].oracle
                if oracle is None:
                    failures[name] = "no oracle SQL in the registry"
                    continue
                try:
                    compare(_Collected(pdf), con.execute(oracle).df(), name=name)
                except AssertionError as exc:
                    failures[name] = str(exc)[:300]
        finally:
            con.close()
        return failures
