"""meteo-spark benchmark: one workload, one seed, one fresh engine process.

    python3 perfbench/run.py --workload sql_analytics --seed 1 --seconds 10 --trace 0

Prints a report, then as the last line one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics of a traced run with
``--trace 1``. Run it from the root of a checkout; everything it writes
goes under ``.perfbench/`` there. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / ".perfbench"

WORKLOADS = ("sql_analytics", "llm_operators", "ingest")

#: the query tables: scale factor (testdata row-count rule) and the
#: generator seed. The tables are fixed so that every run seed asks for
#: the same work (several builders iterate to a data-dependent fixed
#: point); the run seed orders the queries within a pass.
QUERY_SF = 0.002
TABLES_SEED = 20260105
#: input generation is repeated this many times in set-up; the median counts.
STAGING_REPEATS = 3


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _warmup(spark, work: Path) -> None:
    """The JVM's one-time start-up (first job, scan, shuffle and write,
    first cached block, first Python workers and Arrow batches), on data
    no workload reads, so that whichever query a seed puts first does
    not carry it."""
    from pyspark.sql import functions as F

    path = str(work / "warmup")
    spark.range(0, 200_000, numPartitions=4).selectExpr(
        "id % 97 AS k", "id * 0.5 AS v"
    ).write.mode("overwrite").parquet(path)
    t = spark.read.parquet(path)
    t.groupBy("k").agg(F.sum("v").alias("s")).join(
        t.select("k").distinct(), "k"
    ).orderBy("k").toPandas()

    def batches(it):
        yield from it

    cached = t.mapInPandas(batches, t.schema).persist()
    cached.groupBy("k").applyInPandas(lambda pdf: pdf.head(1), t.schema).toPandas()
    cached.unpersist(blocking=True)
    shutil.rmtree(path, ignore_errors=True)


def _engine_metrics(args, spark, tracer):
    """Set-up, then timed passes until ``--seconds`` would be exceeded
    (at least one). Returns (setup_s, passes, workload state)."""
    from perfbench import datagen, ingest, probes, queries

    staging = []
    if args.workload == "ingest":
        for _ in range(STAGING_REPEATS):
            t = time.perf_counter()
            upstream = ingest.FleetUpstream(args.seed)
            staging.append(time.perf_counter() - t)
    else:
        sf_dir = str(WORK / "tables")
        for _ in range(STAGING_REPEATS):
            t = time.perf_counter()
            datagen.write(TABLES_SEED, QUERY_SF, sf_dir)
            staging.append(time.perf_counter() - t)
    if tracer is not None and args.workload == "ingest":
        ingest.install_trace(tracer)
    t = time.perf_counter()
    _warmup(spark, WORK)
    setup_rest = statistics.median(staging) + time.perf_counter() - t

    if args.workload == "ingest":
        runs = []

        def one_pass() -> None:
            root = str(WORK / f"ingest-{len(runs)}")
            runs.append(ingest.IngestRun(spark, upstream, root, tracer=tracer))
            runs[-1].run()
    else:
        names = queries.WORKLOADS[args.workload]
        runs = [queries.QueryPass(spark, names, sf_dir, args.seed, tracer=tracer)]
        one_pass = runs[0].run_once

    passes = []
    cpu0 = probes.engine_cpu_s(probes.jvm_pid(spark))
    start = time.perf_counter()
    while not passes or time.perf_counter() - start + passes[-1] <= args.seconds:
        t = time.perf_counter()
        one_pass()
        passes.append(time.perf_counter() - t)
    cpu_per_pass = (probes.engine_cpu_s(probes.jvm_pid(spark)) - cpu0) / len(passes)
    return setup_rest, passes, runs, cpu_per_pass


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        return _fail("--seconds must be positive")

    sys.path.insert(0, str(ROOT))
    try:
        import meteo_etl_spark  # noqa: F401
        import tests.oracle  # noqa: F401
    except ImportError as exc:
        return _fail(f"run from a meteo-spark checkout: {exc}")

    from perfbench import probes, report

    shutil.rmtree(WORK, ignore_errors=True)
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["TMPDIR"] = str(tmp)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.chdir(WORK)  # Spark's default warehouse and metastore dirs land here

    from meteo_etl_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        },
    )
    session_s = time.perf_counter() - t0
    try:
        tracer = None
        if args.trace:
            from perfbench.spans import Tracer

            probe = probes.SparkProbe(spark)
            tracer = Tracer(probe.snapshot, probe.delta)
        with probes.PeakRss(probes.jvm_pid(spark)) as rss:
            setup_rest, passes, runs, cpu_per_pass = _engine_metrics(args, spark, tracer)
        outcome = report.check(args.workload, runs)
        if args.trace:
            metrics = report.layer_metrics(
                args.workload, runs, tracer, passes, WORK, args.seed, probe.spent_s
            )
        else:
            metrics = report.end_to_end(session_s + setup_rest, passes, cpu_per_pass)
        report.print_report(
            args.workload, args.seed, passes, runs, outcome, session_s, setup_rest, rss.peak_mb
        )
    finally:
        jvm = spark.sparkContext._gateway.proc
        spark.stop()
        jvm.stdin.close()  # the gateway JVM exits when its stdin closes
        jvm.wait(timeout=60)
    print(json.dumps({**outcome, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
