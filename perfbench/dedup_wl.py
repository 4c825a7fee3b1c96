"""The ``dedup_ann`` workload: seven declared dedup/ANN queries, each
written to parquet, staged through the lineage manifest like the sibling
jobs; the first leg stops after the first query and the resume runs the
other six.  Outputs are checked against each query's DuckDB ``oracle_sql()``.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

import pyarrow.parquet as pq

import gen
import spark_metrics
from spans import Tracer, layer_of, leg

N_DOCS = 500
N_VECS = 200
QUERIES = [
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_connected_components",
    "dedup_substring",
    "ann_ivf_topk",
    "ann_lsh_near_pairs",
    "dedup_embedding_cosine",
]
FAIL_AFTER = "dedup_minhash_lsh"


class _InjectedFailure(RuntimeError):
    pass


def _run_queries(spark, sf: str, out: str, fail_after=None, tracer=None):
    """Write every query not yet committed in ``out``'s manifest."""
    from sparklog.lineage import Manifest
    from sparklog.queries import REGISTRY, release_caches

    manifest = Manifest(out)
    for name in QUERIES:
        if manifest.is_done(name):
            continue
        with leg(tracer, f"queries.{name}"):
            REGISTRY[name][0](spark, sf).write.mode("overwrite").parquet(
                os.path.join(out, name))
        release_caches()
        manifest.commit_stage(name, {})
        if name == fail_after:
            raise _InjectedFailure(name)


def _run_legs(spark, sf: str, out: str, tracer=None) -> dict:
    shutil.rmtree(out, ignore_errors=True)
    t0 = time.perf_counter()
    try:
        with leg(tracer, "leg.failure_injected"):
            _run_queries(spark, sf, out, FAIL_AFTER, tracer)
    except _InjectedFailure:
        pass
    else:
        raise AssertionError("failure-injected leg did not stop")
    t1 = time.perf_counter()
    with leg(tracer, "leg.resume"):
        _run_queries(spark, sf, out, None, tracer)
    t2 = time.perf_counter()
    return {"job_s": t2 - t0, "resume_s": t2 - t1}


class DedupAnnWorkload:
    def prepare(self, work: str, seed: int) -> None:
        self.sf = os.path.join(work, "corpus")
        self.src_bytes = gen.write_corpus(self.sf, N_DOCS, N_VECS, seed)
        self.out = os.path.join(work, "out")
        self.rows = N_DOCS + N_VECS

    def operate(self, spark) -> tuple[dict, dict]:
        res = _run_legs(spark, self.sf, self.out)
        return res, self.check()

    def check(self) -> dict:
        """Each query's parquet output against its DuckDB oracle, with the
        normalization of tools/check_parity.py; -> {query: problems}."""
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        sys.path.insert(0, os.path.join(root, "tools"))
        import check_parity
        from sparklog.queries import REGISTRY

        con = check_parity.duck_conn(self.sf)
        problems = {}
        try:
            for name in QUERIES:
                sql = REGISTRY[name][1]
                want = con.execute(sql(self.sf) if callable(sql)
                                   else sql).df()
                got = pq.read_table(os.path.join(self.out, name)).to_pandas()
                problems[name] = check_parity.compare(name, got, want)
        finally:
            con.close()
        return problems

    def sink_bytes(self) -> int:
        total = 0
        for d, _, names in os.walk(self.out):
            if "_manifests" in d:
                continue
            total += sum(os.path.getsize(os.path.join(d, n)) for n in names
                         if not n.startswith((".", "_")))
        return total

    def traced(self, spark, tracer: Tracer, store) -> dict:
        from sparklog.queries import (
            ann_lsh_candidate_pairs,
            dedup_path_metrics,
            release_caches,
        )

        first_id = store.last_execution_id()
        with tracer.span("job"):
            t0 = time.perf_counter()
            _run_legs(spark, self.sf, self.out, tracer)
            traced_s = time.perf_counter() - t0
        execs = store.executions(first_id)
        tracer.add_executions(execs)
        problems = self.check()

        out: dict = {}
        for name in QUERIES:
            span = f"queries.{name}"
            out[f"{span}_s"] = sum(s["end"] - s["start"] for s in tracer.spans
                                   if s["name"] == span)
            tot = spark_metrics.totals(
                [e for e in execs if layer_of(e["description"]) == span])
            out[f"{span}.shuffle_bytes"] = tot["shuffle_bytes"]
            out[f"{span}.spill_bytes"] = tot["spill_bytes"]
            out[f"{span}.python_worker_s"] = tot["python_run_s"]

        with tracer.span("queries.dedup_path_metrics"):
            rows = {r["path"]: r for r in
                    dedup_path_metrics(spark, self.sf).collect()}
            release_caches()
        bands = rows["minhash_bands"]
        for k in ("n_over_cap_buckets", "n_refined_rows", "n_salted_rows",
                  "n_dropped_rows"):
            out[f"queries.minhash.{k}"] = float(bands[k] or 0)
        out["queries.minhash.cc_iterations"] = float(
            rows["minhash_components"]["cc_iterations"])

        with tracer.span("queries.ann_lsh_candidate_pairs"):
            n_cand = ann_lsh_candidate_pairs(spark, self.sf).count()
            release_caches()
        n_near = pq.read_table(os.path.join(self.out,
                                            "ann_lsh_near_pairs")).num_rows
        out["queries.ann_lsh.verify_yield"] = n_near / n_cand
        return {"metrics": out, "traced_s": traced_s, "problems": problems}
