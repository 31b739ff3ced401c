"""The ``ingest`` workload: the reference's own purpose, end to end.

Phase A runs fetch-and-store jobs (``batch.run_etl`` with its default
strategy, one merge per fetch). Phase B runs fetch-and-publish jobs
(``run_etl(extract_and_save_to_disk)`` then ``publish_finished_fetch``)
and plants corrupt lines in the topic. Phase C drains the topic once
(``consume_fetch_events(available_now=True)``, bounded micro-batches).
Phase D refreshes the dashboard (``plans/analytics``) on the table the
other phases built. Upstream fetches are served from ``fleet`` inside
this process: there is no network.
"""

from __future__ import annotations

import math
import os
import shutil
import time
from contextlib import nullcontext

from meteo_etl_spark.errors import ExtractError
from meteo_etl_spark.pipeline import batch, control, warehouse
from meteo_etl_spark.pipeline.control import read_fetch_metadata
from meteo_etl_spark.plans import analytics
from meteo_etl_spark.sources import bronze
from meteo_etl_spark.sources.registry import Source
from meteo_etl_spark.streaming import consume, produce

from perfbench import fleet

#: fetches per phase and drain batching. Sized so one run of every
#: phase fits the benchmark's per-run budget on 4 cores.
N_STORE = 2
N_PUBLISH = 2
N_POISON = 2
MAX_FILES_PER_TRIGGER = 2


class FleetUpstream:
    """Serves ``Source.extract`` from a seeded fleet plan. The payloads
    are built up front (set-up); the fetch the workload is running is
    ``current``. Planted failures raise the ``ExtractError`` the HTTP
    client raises once its retries are spent."""

    def __init__(self, seed: int):
        self.plan = fleet.plan_fleet(seed, N_STORE, N_PUBLISH, n_poison=N_POISON)
        self.payloads = {
            f.op: fleet.payload(seed, f) for f in self.plan.fetches if not f.fails
        }
        self.current: fleet.Fetch | None = None

    def install(self) -> None:
        upstream = self

        def extract(source, **extra):
            f = upstream.current
            if f.fails:
                raise ExtractError(
                    f"GET {source.url} returned {fleet.UPSTREAM_FAILURE_STATUS}",
                    status=fleet.UPSTREAM_FAILURE_STATUS,
                )
            return upstream.payloads[f.op]

        Source.extract = extract


DASHBOARD_CALLS = ("get_counts", "describe_observations", "last_job_status", "load_observations")


def install_trace(tracer) -> None:
    """Span wrappers on the module attributes the pipeline calls through
    (traced run only)."""

    def merged_rows(span, stats):
        span.meta["rows_merged"] = stats.inserted + stats.updated

    tracer.wrap(batch, "run_etl", "pipeline")
    tracer.wrap(control, "insert_fetch_metadata", "pipeline")
    tracer.wrap(control, "update_fetch_metadata", "pipeline")
    tracer.wrap(batch, "merge_observations", "pipeline")
    tracer.wrap(consume, "merge_observations", "pipeline")
    tracer.wrap(warehouse, "merge_parquet", "operators", on_result=merged_rows)
    tracer.wrap(bronze, "save_payload", "sources")
    tracer.wrap(produce, "publish_finished_fetch", "streaming")
    tracer.wrap(consume, "process_event_batch", "streaming")
    for name in DASHBOARD_CALLS:
        tracer.wrap(analytics, name, "plans")


class IngestRun:
    """One pass of phases A-D in a fresh warehouse under ``root``."""

    def __init__(self, spark, upstream: FleetUpstream, root: str, tracer=None):
        self.spark = spark
        self.upstream = upstream
        upstream.install()
        self.plan = upstream.plan
        self.expect = fleet.Expectation(self.plan.seed)
        shutil.rmtree(root, ignore_errors=True)
        self.root = root
        self.wh = warehouse.Warehouse(root=os.path.join(root, "warehouse"))
        self.topic = os.path.join(root, "topic")
        self.dead_letter = os.path.join(root, "dead_letter")
        self.tracer = tracer
        self.fetch_ids: dict[int, str] = {}
        self.failures: list[str] = []
        self.timings: dict[str, list[float]] = {
            "store_job_s": [], "publish_job_s": [], "drain_s": [], "dashboard_s": [],
        }
        self.consume_stats = None
        self.dashboard: dict[str, object] = dict.fromkeys(DASHBOARD_CALLS)

    def _op(self, name: str, op_id):
        return self.tracer.op(name, op_id) if self.tracer else nullcontext()

    def _span(self, name: str, layer: str):
        return self.tracer.span(name, layer) if self.tracer else nullcontext()

    def _fetch(self, f: fleet.Fetch, store: bool) -> None:
        self.upstream.current = f
        self.expect.register(f)
        kind = "store_job" if store else "publish_job"
        t0 = time.perf_counter()
        try:
            with self._op(kind, f.op):
                if store:
                    res = batch.run_etl(
                        self.spark, self.wh, f.source, f.params, raise_on_error=False
                    )
                else:
                    res = batch.run_etl(
                        self.spark, self.wh, f.source, f.params,
                        fetch_job=batch.extract_and_save_to_disk, raise_on_error=False,
                    )
                    produce.publish_finished_fetch(
                        self.spark, self.wh, res.fetch_id, self.topic
                    )
        except Exception as exc:  # noqa: BLE001 — a raising job is a failed operation
            self.failures.append(f"fetch {f.op}: raised {type(exc).__name__}: {str(exc)[:200]}")
        else:
            self.fetch_ids[f.op] = res.fetch_id
            want = "error" if f.fails else "success"
            if res.status != want:
                self.failures.append(f"fetch {f.op}: status {res.status!r}, expected {want!r}")
        self.timings[f"{kind}_s"].append(time.perf_counter() - t0)
        if store:
            self.expect.land(f)

    def run(self) -> None:
        for f in self.plan.phase("store"):
            self._fetch(f, store=True)
        publish = self.plan.phase("publish")
        for i, f in enumerate(publish):
            self._fetch(f, store=False)
            if i < len(self.plan.poison_lines):  # poison sits between events
                path = os.path.join(self.topic, f"poison-{i}.json")
                with open(path, "w", encoding="utf-8") as fh:
                    fh.write(self.plan.poison_lines[i] + "\n")
        self._drain()
        for f in publish:
            self.expect.land(f)
        self._dashboard()

    def _drain(self) -> None:
        stats = consume.ConsumeStats()
        t0 = time.perf_counter()
        with self._op("drain", 0), self._span("consume_fetch_events", "streaming"):
            q = consume.consume_fetch_events(
                self.spark, self.wh, self.topic, os.path.join(self.root, "checkpoint"),
                dead_letter_dir=self.dead_letter, available_now=True, stats=stats,
                max_files_per_trigger=MAX_FILES_PER_TRIGGER,
            )
            try:
                q.awaitTermination()
            except Exception as exc:  # noqa: BLE001 — a failed drain is a failed operation
                self.failures.append(f"drain: raised {type(exc).__name__}: {str(exc)[:200]}")
        self.timings["drain_s"].append(time.perf_counter() - t0)
        self.consume_stats = stats

    def _dashboard(self) -> None:
        """One refresh: the four calls, in the dashboard's order. A call
        that raises is a failed operation and leaves its answer None."""
        spark, wh = self.spark, self.wh
        calls = {
            "get_counts": lambda: analytics.get_counts(spark, wh),
            "describe_observations": lambda: self._collect(
                analytics.describe_observations(spark, wh)
            ),
            "last_job_status": lambda: analytics.last_job_status(spark, wh),
            "load_observations": lambda: self._collect(analytics.load_observations(spark, wh)),
        }
        t0 = time.perf_counter()
        with self._op("dashboard", 0):
            for name, call in calls.items():
                try:
                    self.dashboard[name] = call()
                except Exception as exc:  # noqa: BLE001 — a raising call is a failed operation
                    self.failures.append(
                        f"dashboard {name}: raised {type(exc).__name__}: {str(exc)[:200]}"
                    )
        self.timings["dashboard_s"].append(time.perf_counter() - t0)

    def _collect(self, df):
        with self._span("collect", "execution") as s:
            rows = df.collect()
        if s is not None:
            from perfbench.probes import catalyst_phases_ms

            s.meta.update(catalyst_phases_ms(df))
        return rows

    # -- correctness gate ---------------------------------------------------

    def check(self) -> tuple[int, int, dict]:
        """Compare the warehouse with the expectation.

        Returns ``(attempted, failed, detail)``. Operations are the
        fetch jobs, the drain and the four dashboard calls. A fetch
        fails if its control row is wrong or any key it last wrote is
        missing or carries other values in silver; the drain fails on a
        wrong poison or event count; a dashboard call fails if its
        answer differs from the expectation."""
        failed_ops: set[str] = {m.split(":")[0] for m in self.failures}
        op_of_id = {fid: op for op, fid in self.fetch_ids.items()}

        got = {}
        for r in warehouse.read_observations(self.spark, self.wh).select(
            "latitude", "longitude", "timestamp", *fleet.MEASURES, "fetch_id"
        ).collect():
            got[(r[0], r[1], fleet.utc(r[2]))] = (r[3], r[4], r[5], op_of_id.get(r[6]))
        lost_rows = 0
        for key, want in self.expect.silver.items():
            if got.get(key) != want:
                lost_rows += key not in got
                failed_ops.add(f"fetch {want[-1]}")
        extra_rows = len(set(got) - set(self.expect.silver))

        control = {
            op_of_id.get(r.id): (r.status, r.response_status)
            for r in read_fetch_metadata(self.spark, self.wh).collect()
        }
        for op, want in self.expect.control.items():
            if control.get(op) != want:
                failed_ops.add(f"fetch {op}")

        # the consumer counts the events that carry a payload path
        stats = self.consume_stats
        n_events = sum(1 for f in self.plan.phase("publish") if not f.fails)
        dead = _count_lines(self.dead_letter)
        if (stats.poison, stats.events, dead) != (N_POISON, n_events, N_POISON):
            failed_ops.add("drain")

        dash = self.dashboard
        if dash["get_counts"] is None or tuple(dash["get_counts"]) != self.expect.counts():
            failed_ops.add("dashboard get_counts")
        if not _describe_matches(dash["describe_observations"], self.expect.describe()):
            failed_ops.add("dashboard describe_observations")
        if dash["last_job_status"] != self.expect.status_label():
            failed_ops.add("dashboard last_job_status")
        first_rows = dash["load_observations"] or []
        first_ts = sorted(fleet.utc(r["timestamp"]) for r in first_rows)
        if first_ts != self.expect.first_timestamps(analytics.SCAN_LIMIT):
            failed_ops.add("dashboard load_observations")

        attempted = len(self.plan.fetches) + 1 + len(DASHBOARD_CALLS)
        lost_stations = len(self.expect.stations() - {(k[0], k[1]) for k in got})
        detail = {
            "expected_rows": len(self.expect.silver),
            "silver_rows": len(got),
            "lost_rows": lost_rows,
            "extra_rows": extra_rows,
            "lost_stations": lost_stations,
            "expected_stations": len(self.expect.stations()),
            "failed_ops": sorted(failed_ops),
        }
        return attempted, len(failed_ops), detail


def _count_lines(path: str) -> int:
    n = 0
    for dirpath, _dirs, files in os.walk(path):
        for name in files:
            if name.startswith((".", "_")):
                continue
            with open(os.path.join(dirpath, name), encoding="utf-8") as fh:
                n += sum(1 for line in fh if line.strip())
    return n


def _describe_matches(rows, want: dict) -> bool:
    got = {r["measure"]: r for r in rows or []}
    if set(got) != set(want):
        return False
    for m, exp in want.items():
        r = got[m]
        vals = (r["count"], r["mean"], r["std"], r["min"], r["p25"], r["p50"], r["p75"], r["max"])
        for g, e in zip(vals, exp):
            if (g is None) != (e is None):
                return False
            if g is not None and not math.isclose(g, e, rel_tol=1e-9, abs_tol=1e-9):
                return False
    return True
