"""sparklog benchmark: runs one workload in one process and prints one JSON
result as the last line of stdout.

    python3 perfbench/run.py --workload pipeline_canonical --seed 1 \\
        --seconds 1 --trace 0

Workloads (see perfbench/README.md for why each exists):
  pipeline_canonical    run_pipeline over well-formed lines (fast path)
  pipeline_adversarial  run_pipeline over quirk/error lines and a hot key
  dedup_ann             seven dedup/ANN queries written to parquet

Each job runs as a failure-injected leg followed by its resume and is
checked against expected outputs (labels known by construction for the
pipeline, DuckDB oracles for the queries).  ``--trace 0`` prints the
end-to-end metrics; ``--trace 1`` prints the per-layer metrics and writes
the span file under ``.perfbench_work/traces/``.  Everything the run
writes stays under ``.perfbench_work/`` in the current checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "resume_s": "s",
    "sink_bytes_per_input_byte": "B/B",
    "peak_rss_mb": "MB",
}

QUERY_NAMES = ["dedup_minhash_lsh", "dedup_ngram_jaccard",
               "dedup_connected_components", "dedup_substring",
               "ann_ivf_topk", "ann_lsh_near_pairs",
               "dedup_embedding_cosine"]

PER_LAYER = {
    "encoding.decode_ns_per_row": "ns",
    "grammar.detect_ns_per_row": "ns",
    "fastpath.parse3164_ns_per_row": "ns",
    "fastpath.parse5424_ns_per_row": "ns",
    "fastpath.hit_ratio": "ratio",
    "fastpath.classified_rows": "count",
    "fastpath.classify_ns_per_row": "ns",
    "udfs.parse_ns_per_row": "ns",
    "udfs.slow_rows": "count",
    "udfs.slow_path_ns_per_row": "ns",
    "udfs.batch_ms_p50": "ms",
    "udfs.batch_ms_p99": "ms",
    "udfs.python_worker_run_s": "s",
    "udfs.python_worker_start_s": "s",
    "udfs.arrow_bytes_sent": "B",
    "udfs.arrow_bytes_returned": "B",
    "pipeline.scan_s": "s",
    "pipeline.parse_stage_s": "s",
    "enrich.enrich_s": "s",
    "route.repartition_s": "s",
    "route.shuffle_bytes": "B",
    "route.spill_bytes": "B",
    "route.partition_rows_p50": "count",
    "route.partition_rows_max": "count",
    "route.write_sinks_s": "s",
    "route.sink_files": "count",
    "route.audit_s": "s",
    "route.audit_shuffle_bytes": "B",
    "aggregate.hourly_counts_s": "s",
    "aggregate.parse_metrics_s": "s",
    "pipeline.trailing_counts_s": "s",
    "lineage.partition_lineage_s": "s",
    "lineage.manifest_commit_s": "s",
    "pipeline.stage_sinks_s": "s",
    "pipeline.stage_aggregates_s": "s",
    "pipeline.stage_metrics_s": "s",
    "pipeline.stage_audit_s": "s",
    **{k: u for q in QUERY_NAMES for k, u in (
        (f"queries.{q}_s", "s"),
        (f"queries.{q}.shuffle_bytes", "B"),
        (f"queries.{q}.spill_bytes", "B"),
        (f"queries.{q}.python_worker_s", "s"))},
    "queries.minhash.n_over_cap_buckets": "count",
    "queries.minhash.n_refined_rows": "count",
    "queries.minhash.n_salted_rows": "count",
    "queries.minhash.n_dropped_rows": "count",
    "queries.minhash.cc_iterations": "count",
    "queries.ann_lsh.verify_yield": "ratio",
    "session.start_s": "s",
    "session.worker_warm_s": "s",
    "pipeline.scaling_efficiency_1v4": "ratio",
    "trace.overhead_ratio": "ratio",
}

# A fixed 1 GiB driver heap (-Xms = -Xmx): the inputs need far less, the
# host is shared, and a heap the collector cannot resize keeps peak RSS
# from depending on its growth decisions.
DRIVER_MEM = "1g"


def host_settings(work: str) -> dict:
    """The session knobs sparklog already reads, derived from this host,
    plus the worker PYTHONPATH and scratch locations inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    settings = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARKLOG_DRIVER_MEM": DRIVER_MEM,
        "SPARKLOG_LOCAL_DIR": os.path.join(work, "spark-local"),
        # takes precedence over spark.local.dir when set in the environment
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "TMPDIR": tmp,
        # the launcher JVM that spark-submit starts first
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Xms{DRIVER_MEM} "
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"),
    }
    os.environ.update(settings)
    return settings


def start_session():
    """Session start, first task, and Python workers warmed by one parse
    batch per core -> (spark, timings)."""
    from pyspark.sql import functions as F

    from sparklog.grammar import ParseConfig
    from sparklog.session import get_spark
    from sparklog.udfs import MAP_IN_ARROW_SCHEMA, make_map_in_arrow_parser

    t0 = time.perf_counter()
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    cores = spark.sparkContext.defaultParallelism
    spark.range(0, cores, 1, cores).count()
    t2 = time.perf_counter()
    line = [ord(c) for c in "<34>Oct 11 22:14:15 host su: warm"]
    (spark.range(0, 64 * cores, 1, cores)
     .select(F.col("id").cast("string").alias("doc_id"),
             F.lit("warm").alias("source"),
             F.array(*[F.lit(c) for c in line]).alias("tokens"))
     .mapInArrow(make_map_in_arrow_parser(ParseConfig()),
                 MAP_IN_ARROW_SCHEMA)
     .write.format("noop").mode("overwrite").save())
    t3 = time.perf_counter()
    return spark, {"setup_s": t3 - t0, "session.start_s": t1 - t0,
                   "session.worker_warm_s": t3 - t2}


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def make_workload(name: str):
    import gen
    from dedup_wl import DedupAnnWorkload
    from pipeline_wl import PipelineWorkload

    return {
        "pipeline_canonical": lambda: PipelineWorkload(gen.canonical_lines),
        "pipeline_adversarial":
            lambda: PipelineWorkload(gen.adversarial_lines),
        "dedup_ann": DedupAnnWorkload,
    }[name]()


class Tally:
    """Output checks: one unit per pipeline job, one per dedup query."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def add(self, problems: dict) -> None:
        for unit, found in problems.items():
            self.attempted += 1
            if found:
                self.failed += 1
                print(f"check failed [{unit}]: {found}", file=sys.stderr)


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr,
          flush=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["pipeline_canonical", "pipeline_adversarial",
                             "dedup_ann"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="minimum measured time; at least one job runs")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    import sparklog  # noqa: F401 — the program under test must be here

    base = os.path.join(os.getcwd(), ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    settings = host_settings(work)

    import rss

    wl = make_workload(args.workload)
    wl.prepare(work, args.seed)
    tally = Tally()
    spark = None
    try:
        with rss.PeakRss() as peak:
            spark, setup = start_session()
            log(f"setup {setup['setup_s']:.2f}s")
            if args.trace:
                metrics = traced_run(args, spark, wl, tally, setup, base)
            else:
                metrics = timed_run(args, spark, wl, tally)
                metrics["setup_s"] = setup["setup_s"]
                metrics["peak_rss_mb"] = peak.peak_mb
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    units = END_TO_END if not args.trace else PER_LAYER
    print("# host settings: " + json.dumps(
        {k: v for k, v in settings.items()
         if k.startswith(("SPARK", "PYTHONPATH"))}))
    print(f"# failed_ratio: {tally.failed / tally.attempted}")
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()},
    }))
    return 0


def timed_run(args, spark, wl, tally) -> dict:
    results = []
    t0 = time.perf_counter()
    while not results or time.perf_counter() - t0 < args.seconds:
        res, problems = wl.operate(spark)
        tally.add(problems)
        results.append(res)
        log(f"job {res['job_s']:.2f}s resume {res['resume_s']:.2f}s")
    return {
        "rows_per_s": wl.rows / statistics.median(r["job_s"]
                                                  for r in results),
        "resume_s": statistics.median(r["resume_s"] for r in results),
        "sink_bytes_per_input_byte": wl.sink_bytes() / wl.src_bytes,
    }


def traced_run(args, spark, wl, tally, setup, base) -> dict:
    from spans import Tracer
    from spark_metrics import StatusStore

    _, problems = wl.operate(spark)          # the process's first job
    tally.add(problems)
    tracer = Tracer(f"{args.workload}-{args.seed}", spark)
    traced = wl.traced(spark, tracer, StatusStore(spark))
    tally.add(traced["problems"])
    res, problems = wl.operate(spark)        # untraced, equally warm
    tally.add(problems)
    metrics = dict.fromkeys(PER_LAYER, 0.0)
    metrics.update(traced["metrics"])
    metrics["session.start_s"] = setup["session.start_s"]
    metrics["session.worker_warm_s"] = setup["session.worker_warm_s"]
    metrics["trace.overhead_ratio"] = traced["traced_s"] / res["job_s"]
    os.makedirs(os.path.join(base, "traces"), exist_ok=True)
    path = os.path.join(base, "traces",
                        f"{args.workload}-seed{args.seed}.jsonl")
    tracer.write(path)
    log(f"spans written to {path}")
    return metrics


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 — report, exit non-zero, no result
        traceback.print_exc()
        sys.exit(1)
