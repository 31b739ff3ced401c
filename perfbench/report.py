"""Metrics, the correctness outcome and the human-readable report."""

from __future__ import annotations

import json
import os
import statistics
import sys

from perfbench import spans as sp
from perfbench import stats

LAYERS = ("plans", "execution", "pipeline", "sources", "streaming", "operators")

#: per-layer metrics that only ``ingest`` reaches; the query workloads
#: leave them out of their result line rather than print zeros.
INGEST_ONLY = (
    "plans.dashboard_", "pipeline.", "sources.", "streaming.", "operators.",
    "layer.pipeline_s", "layer.sources_s", "layer.streaming_s", "layer.operators_s",
)


def _m(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def check(workload: str, runs) -> dict:
    """Run the correctness gate; print what failed to stderr."""
    attempted = failed = 0
    for run in runs:
        if workload == "ingest":
            a, f, detail = run.check()
            attempted, failed = attempted + a, failed + f
            print(f"ingest gate: {json.dumps(detail)}", file=sys.stderr)
            run.gate = detail
        else:
            failures = run.check()
            attempted, failed = attempted + run.attempted, failed + len(failures)
            for name, why in sorted(failures.items()):
                print(f"oracle mismatch: {name}: {why}", file=sys.stderr)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed}


def end_to_end(setup_s: float, passes: list[float], cpu_per_pass: float) -> dict:
    return {
        "setup_s": _m(setup_s, "s"),
        "pass_s": _m(statistics.median(passes), "s"),
        "pass_cpu_s": _m(cpu_per_pass, "s"),
    }


def print_report(workload, seed, passes, runs, outcome, session_s, setup_rest, peak_mb) -> None:
    """The workload's named figures, one per line, before the result."""
    lines = [
        ("session_start_s", session_s, "s"),
        ("setup_s", session_s + setup_rest, "s"),
        ("pass_s", statistics.median(passes), "s"),
        ("passes", len(passes), "count"),
        ("peak_rss_mb", peak_mb, "MB"),
        ("error_rate", outcome["failed"] / outcome["attempted"], "ratio"),
    ]
    if workload == "ingest":
        timings: dict[str, list[float]] = {}
        for run in runs:
            for k, v in run.timings.items():
                timings.setdefault(k, []).extend(v)
        for kind in ("store_job", "publish_job"):
            vals = timings[f"{kind}_s"]
            pct, val, n = stats.tail(vals)
            lines += [
                (f"{kind}_p50_s", statistics.median(vals), "s"),
                (f"{kind}_tail_s", val, f"s (p{pct} of {n})"),
            ]
        rows = sum(r.consume_stats.merged_rows for r in runs)
        lines += [
            ("drain_rows_per_s", rows / sum(timings["drain_s"]), "1/s"),
            ("dashboard_s", statistics.median(timings["dashboard_s"]), "s"),
        ]
        gate = runs[-1].gate
        lines += [
            ("silver_rows", gate["silver_rows"], f"count (expected {gate['expected_rows']})"),
            ("lost_rows", gate["lost_rows"], "count"),
            ("lost_stations", gate["lost_stations"], f"count of {gate['expected_stations']}"),
        ]
    else:
        lat = [v for run in runs for v in run.latency_s]
        if lat:
            pct, val, n = stats.tail(lat)
            lines += [
                ("query_p50_s", statistics.median(lat), "s"),
                ("query_tail_s", val, f"s (p{pct} of {n})"),
            ]
        for run in runs:
            for name, vals in run.latency_by_name.items():
                lines.append((f"query {name}", statistics.median(vals), "s"))
    print(f"perfbench {workload} seed={seed}")
    for name, value, unit in lines:
        print(f"  {name:<18} {value:>14.6g} {unit}")


def _dir_files(path: str, suffix: str) -> tuple[int, int]:
    n = size = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(suffix):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


def layer_metrics(workload, runs, tracer, passes, work, seed, probe_s) -> dict:
    """Per-layer figures of a traced run; also writes every span, with
    its self time, to ``{work}/trace-{workload}-{seed}.json``."""
    spans = tracer.spans
    wall = sum(passes)
    self_t = sp.self_times(spans)
    self_c = sp.self_counters(spans)

    def total(pred, key) -> float:
        return sum(self_c[s.id].get(key, 0.0) for s in spans if pred(s))

    def dur(name) -> float:
        return sum(s.duration for s in spans if s.name == name)

    def count(name) -> int:
        return sum(1 for s in spans if s.name == name)

    def inclusive(name, key) -> float:
        return sum(s.counters.get(key, 0.0) for s in spans if s.name == name)

    in_plans = lambda s: s.layer in ("plans", "execution")  # noqa: E731
    build = lambda s: s.layer == "plans"  # noqa: E731
    build_jobs = total(build, "jobs")
    collect_jobs = total(lambda s: s.layer == "execution", "jobs")
    run_s = total(in_plans, "executor_run_s")
    cpu_s = total(in_plans, "executor_cpu_s")
    phases = {
        k: sum(s.meta.get(k, 0.0) for s in spans) for k in ("analysis_ms", "optimization_ms", "planning_ms")
    }
    ops = [s for s in spans if s.layer == sp.OP_LAYER]
    m = {
        "plans.build_s": _m(sum(self_t[s.id] for s in spans if build(s)), "s"),
        "plans.build_jobs": _m(build_jobs, "count"),
        "plans.build_job_share": _m(build_jobs / max(1.0, build_jobs + collect_jobs), "ratio"),
        "plans.collect_jobs": _m(collect_jobs, "count"),
        "plans.stages": _m(total(in_plans, "stages"), "count"),
        "plans.tasks": _m(total(in_plans, "tasks"), "count"),
        "plans.executor_run_s": _m(run_s, "s"),
        "plans.executor_cpu_s": _m(cpu_s, "s"),
        "plans.cpu_per_run": _m(cpu_s / run_s if run_s else 0.0, "ratio"),
        "plans.python_worker_cpu_s": _m(total(in_plans, "python_worker_cpu_s"), "s"),
        "plans.shuffle_bytes": _m(total(in_plans, "shuffle_bytes"), "B"),
        "plans.spill_bytes": _m(total(in_plans, "spill_bytes"), "B"),
        "plans.analysis_ms": _m(phases["analysis_ms"], "ms"),
        "plans.optimization_ms": _m(phases["optimization_ms"], "ms"),
        "plans.planning_ms": _m(phases["planning_ms"], "ms"),
        "plans.cached_blocks_left": _m(ops[-1].counters.get("cached_blocks_left", 0.0) if ops else 0.0, "count"),
        "plans.dashboard_jobs": _m(inclusive("dashboard", "jobs"), "count"),
        "plans.dashboard_tasks": _m(inclusive("dashboard", "tasks"), "count"),
        "pipeline.register_s": _m(dur("insert_fetch_metadata"), "s"),
        "pipeline.finalize_s": _m(dur("update_fetch_metadata"), "s"),
        "pipeline.jobs_per_fetch": _m(
            inclusive("run_etl", "jobs") / max(1, count("run_etl")), "count"
        ),
        "sources.bronze_write_s": _m(dur("save_payload"), "s"),
        "streaming.publish_s": _m(dur("publish_finished_fetch"), "s"),
        "streaming.batch_s": _m(dur("process_event_batch"), "s"),
        "streaming.batches": _m(count("process_event_batch"), "count"),
        "streaming.jobs_per_batch": _m(
            inclusive("drain", "jobs") / max(1, count("process_event_batch")), "count"
        ),
        "operators.merge_s": _m(dur("merge_parquet"), "s"),
        "operators.merge_jobs": _m(inclusive("merge_parquet", "jobs"), "count"),
    }
    rewritten = inclusive("merge_parquet", "output_rows")
    merged = sum(s.meta.get("rows_merged", 0) for s in spans)
    m["operators.rows_rewritten"] = _m(rewritten, "count")
    m["operators.rewrite_ratio"] = _m(merged / rewritten if rewritten else 0.0, "ratio")

    ingest_runs = [r for r in runs if hasattr(r, "wh")]
    files = size = control = events = poison = 0
    for r in ingest_runs:
        f, b = _dir_files(r.wh.observations_path, ".parquet")
        files, size = files + f, size + b
        control += _dir_files(r.wh.control_path, ".parquet")[0]
        events += r.consume_stats.events
        poison += r.consume_stats.poison
    m["pipeline.control_files"] = _m(control, "count")
    m["operators.silver_files"] = _m(files, "count")
    m["operators.silver_bytes"] = _m(size, "B")
    m["streaming.events"] = _m(events, "count")
    m["streaming.poison"] = _m(poison, "count")

    layers = sp.layer_self_times(spans, wall)
    for layer in (*LAYERS, "unattributed"):
        m[f"layer.{layer}_s"] = _m(layers.get(layer, 0.0), "s")
    m["trace.wall_s"] = _m(wall, "s")
    m["trace.probe_s"] = _m(probe_s, "s")

    with open(os.path.join(work, f"trace-{workload}-{seed}.json"), "w", encoding="utf-8") as fh:
        json.dump(
            {
                "wall_s": wall,
                "layer_self_s": layers,
                "spans": [
                    {**vars(s), "self_s": self_t[s.id], "self_counters": self_c[s.id]}
                    for s in spans
                ],
            },
            fh,
            indent=1,
            default=str,
        )
    if workload != "ingest":
        m = {k: v for k, v in m.items() if not k.startswith(INGEST_ONLY)}
    return m
