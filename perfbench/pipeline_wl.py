"""The ``pipeline_*`` workloads: ``run_pipeline`` over a generated tokens
table, as a failure-injected leg (``fail_after="sinks"``) and its resume.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen
import spark_metrics
from kernels import kernel_metrics
from spans import Tracer, layer_of, leg, patched

ROWS = 50_000
NUM_PARTITIONS = 32     # run_pipeline's default shuffle width
SALT_BUCKETS = 16       # run_pipeline's default salt


def _cfg():
    from sparklog.grammar import ParseConfig

    return ParseConfig(default_year=gen.YEAR)


def _files(path: str) -> list[str]:
    """Data files under ``path`` (no hidden checksum or marker files)."""
    out = []
    for d, _, names in os.walk(path):
        out += [os.path.join(d, n) for n in names
                if not n.startswith((".", "_"))]
    return out


def _run_legs(spark, src: str, out: str, tracer=None) -> dict:
    from sparklog.pipeline import run_pipeline

    shutil.rmtree(out, ignore_errors=True)
    started_at = time.time()
    t0 = time.perf_counter()
    try:
        with leg(tracer, "leg.failure_injected"):
            run_pipeline(spark, src, out, cfg=_cfg(), fail_after="sinks")
    except RuntimeError as e:
        if "injected failure" not in str(e):
            raise
    else:
        raise AssertionError("failure-injected leg did not stop")
    resumed_at = time.time()
    t1 = time.perf_counter()
    with leg(tracer, "leg.resume"):
        stats = run_pipeline(spark, src, out, cfg=_cfg())
    t2 = time.perf_counter()
    return {"job_s": t2 - t0, "resume_s": t2 - t1, "stats": stats,
            "started_at": started_at, "resumed_at": resumed_at}


class PipelineWorkload:
    def __init__(self, make_lines):
        self.make_lines = make_lines

    def prepare(self, work: str, seed: int) -> None:
        self.lines = self.make_lines(ROWS, seed)
        self.src = os.path.join(work, "src_tokens")
        self.src_bytes = gen.write_tokens_table(self.lines, self.src)
        self.rows = ROWS
        self.out = os.path.join(work, "out")
        lab = self.lines.labels
        ok = lab[~lab.error].assign(
            sink_class=gen.SEV_CLASS[lab.severity[~lab.error]])
        self.expected_aggregates = (
            ok.groupby(["rfc", "sink_class", "facility", "severity",
                        "hour"]).size().rename("n_events").reset_index())
        self.expected_metrics = (
            lab.assign(ok=~lab.error)
            .groupby(["source", "rfc"])
            .agg(n_total=("ok", "size"), n_ok=("ok", "sum"),
                 n_failed=("error", "sum"))
            .reset_index())
        self.n_errors = int(lab.error.sum())

    # -- one operation ----------------------------------------------------
    def operate(self, spark) -> tuple[dict, dict]:
        res = _run_legs(spark, self.src, self.out)
        return res, {"job": self.check(res)}

    def sink_bytes(self) -> int:
        return sum(os.path.getsize(f)
                   for f in _files(os.path.join(self.out, "sinks")))

    def check(self, res: dict) -> list[str]:
        """Compare the job's outputs with the tables the labels imply."""
        problems = []
        st = res["stats"]
        if st["resumed_stages"] != ["sinks"]:
            problems.append(f"resume skipped {st['resumed_stages']}")
        if st["rows"] != len(self.lines):
            problems.append(f"{st['rows']} routed rows, "
                            f"expected {len(self.lines)}")
        if st["n_failed"] != self.n_errors:
            problems.append(f"{st['n_failed']} failed rows, "
                            f"expected {self.n_errors}")

        t = pq.read_table(os.path.join(self.out, "aggregates"))
        hour_us = pc.cast(t["hour"].cast(pa.timestamp("us",
                                                      t["hour"].type.tz)),
                          pa.int64())
        agg = t.drop(["hour"]).to_pandas().assign(
            hour=pc.fill_null(hour_us, -3_600_000_000).to_numpy()
            // 3_600_000_000)
        problems += _diff("aggregates", agg, self.expected_aggregates,
                          ["rfc", "sink_class", "facility", "severity",
                           "hour"])
        met = pq.read_table(os.path.join(self.out, "metrics")).to_pandas()
        problems += _diff("metrics", met, self.expected_metrics,
                          ["source", "rfc"])

        n_dead = sum(pq.read_metadata(f).num_rows
                     for f in _files(os.path.join(self.out, "sinks"))
                     if f"{os.sep}sink_class=dead{os.sep}" in f)
        if n_dead != self.n_errors:
            problems.append(f"{n_dead} dead-letter rows, "
                            f"expected {self.n_errors} planted errors")
        return problems

    # -- traced run -----------------------------------------------------
    def traced(self, spark, tracer: Tracer, store) -> dict:
        from pyspark.sql import functions as F

        from sparklog import aggregate, enrich, lineage, pipeline, route
        from sparklog.route import salted_repartition, with_route_columns

        with tracer.span("kernels"):
            out = kernel_metrics(self.src, _cfg())
        src = spark.read.parquet(self.src)

        def force(df):
            df.write.format("noop").mode("overwrite").save()

        # prefix plans: each layer's self time is its prefix minus the
        # previous one
        prefixes = [
            ("pipeline.scan_s", lambda s: s),
            ("pipeline.parse_stage_s",
             lambda s: pipeline.parse_stage(s, _cfg())),
            ("enrich.enrich_s", lambda s: enrich.enrich(
                pipeline.parse_stage(s, _cfg()), spark)),
            ("route.repartition_s", lambda s: salted_repartition(
                with_route_columns(enrich.enrich(
                    pipeline.parse_stage(s, _cfg()), spark)),
                NUM_PARTITIONS, SALT_BUCKETS)),
        ]
        prev = 0.0
        for name, build in prefixes:
            best = float("inf")
            for _ in range(2):
                with tracer.span("prefix." + name):
                    t0 = time.perf_counter()
                    force(build(src))
                    best = min(best, time.perf_counter() - t0)
            out[name] = best - prev
            prev = best

        with tracer.span("route.partition_sizes"):
            sizes = (prefixes[-1][1](src)
                     .groupBy(F.spark_partition_id()).count()
                     .toPandas()["count"])
        sizes = np.concatenate([sizes.to_numpy(),
                                np.zeros(NUM_PARTITIONS - len(sizes))])
        out["route.partition_rows_p50"] = float(np.median(sizes))
        out["route.partition_rows_max"] = float(sizes.max())

        with tracer.span("pipeline.scaling_1v4"):
            t0 = time.perf_counter()
            force(pipeline.parse_stage(src.coalesce(1), _cfg()))
            t1 = time.perf_counter() - t0
            t0 = time.perf_counter()
            force(pipeline.parse_stage(src, _cfg()))
            t4 = time.perf_counter() - t0
        out["pipeline.scaling_efficiency_1v4"] = t1 / (4 * t4)

        # the job itself, with every layer call it makes wrapped in a span
        first_id = store.last_execution_id()
        w = tracer.wrap
        orig_commit = lineage.Manifest.commit_stage

        def commit(manifest, stage, info):
            with tracer.span("lineage.manifest_commit", stage=stage) as sp:
                res = orig_commit(manifest, stage, info)
            # actions after the last commit are run_pipeline's re-scans
            tracer.tag(sp["span_id"], f"pipeline.after_{stage}")
            return res

        with patched([
            (pipeline, "parse_stage",
             w(pipeline.parse_stage, "pipeline.parse_stage")),
            (pipeline, "enrich", w(enrich.enrich, "enrich.enrich")),
            (pipeline, "with_route_columns",
             w(route.with_route_columns, "route.with_route_columns")),
            (pipeline, "write_sinks",
             w(route.write_sinks, "route.write_sinks")),
            (pipeline, "partition_lineage",
             w(lineage.partition_lineage, "lineage.partition_lineage")),
            (pipeline, "hourly_counts",
             w(aggregate.hourly_counts, "aggregate.hourly_counts")),
            (pipeline, "parse_metrics",
             w(aggregate.parse_metrics, "aggregate.parse_metrics")),
            (pipeline, "audit_token_equality",
             w(route.audit_token_equality, "route.audit_token_equality")),
            (lineage.Manifest, "commit_stage", commit),
        ]):
            with tracer.span("job"):
                t0 = time.perf_counter()
                res = _run_legs(spark, self.src, self.out, tracer)
                traced_s = time.perf_counter() - t0
        execs = store.executions(first_id)
        tracer.add_executions(execs)
        problems = {"job": self.check(res)}

        by_layer: dict = {}
        for e in execs:
            by_layer.setdefault(layer_of(e["description"]), []).append(e)

        def wall(layer):
            return sum(e["wall_s"] or 0.0 for e in by_layer.get(layer, []))

        def span_s(name):
            return sum(s["end"] - s["start"] for s in tracer.spans
                       if s["name"] == name)

        sinks = spark_metrics.totals(by_layer.get("route.write_sinks", []))
        audit = spark_metrics.totals(
            by_layer.get("route.audit_token_equality", []))
        py = spark_metrics.totals(execs)
        out.update({
            "udfs.python_worker_run_s": py["python_run_s"],
            "udfs.python_worker_start_s": py["python_start_s"],
            "udfs.arrow_bytes_sent": py["arrow_bytes_sent"],
            "udfs.arrow_bytes_returned": py["arrow_bytes_returned"],
            "route.shuffle_bytes": sinks["shuffle_bytes"],
            "route.spill_bytes": sinks["spill_bytes"],
            "route.write_sinks_s": span_s("route.write_sinks"),
            "route.sink_files": len(_files(os.path.join(self.out,
                                                         "sinks"))),
            "route.audit_s": span_s("route.audit_token_equality"),
            "route.audit_shuffle_bytes": audit["shuffle_bytes"],
            "aggregate.hourly_counts_s": wall("aggregate.hourly_counts"),
            "aggregate.parse_metrics_s": wall("aggregate.parse_metrics"),
            "pipeline.trailing_counts_s": wall("pipeline.after_audit"),
            "lineage.partition_lineage_s":
                span_s("lineage.partition_lineage"),
            "lineage.manifest_commit_s": span_s("lineage.manifest_commit"),
        })
        stages = lineage.Manifest(self.out).load()["stages"]
        at = {k: v["committed_at"] for k, v in stages.items()}
        out.update({
            "pipeline.stage_sinks_s": at["sinks"] - res["started_at"],
            "pipeline.stage_aggregates_s":
                at["aggregates"] - res["resumed_at"],
            "pipeline.stage_metrics_s": at["metrics"] - at["aggregates"],
            "pipeline.stage_audit_s": at["audit"] - at["metrics"],
        })
        return {"metrics": out, "traced_s": traced_s, "problems": problems}


def _diff(what: str, got: pd.DataFrame, want: pd.DataFrame,
          keys: list[str]) -> list[str]:
    cols = list(want.columns)
    g = got[cols].astype({k: want[k].dtype for k in cols})
    g = g.sort_values(keys).reset_index(drop=True)
    w = want.sort_values(keys).reset_index(drop=True)
    if len(g) != len(w) or not g.equals(w):
        m = g.merge(w, how="outer", on=cols, indicator=True)
        bad = m[m["_merge"] != "both"]
        return [f"{what}: {len(bad)} rows differ from the labels, e.g. "
                f"{bad.head(3).to_dict('records')}"]
    return []
