"""Per-operator metrics from Spark's SQL status store, read over py4j.

The store (``sharedState().statusStore()``) is filled by the SQL listener
even with ``spark.ui.enabled=false``.  Every SQL execution carries the job
description that was set when its action ran, so the benchmark tags each
layer call with ``setJobDescription`` and joins executions back to spans
through that description.
"""

from __future__ import annotations

_SIZE = {"B": 1, "KiB": 2 ** 10, "MiB": 2 ** 20, "GiB": 2 ** 30,
         "TiB": 2 ** 40}
_TIME_S = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0,
           "h": 3600.0}

# metric name -> row key; sizes in bytes, times in seconds
NODE_METRICS = {
    "shuffle bytes written": "shuffle_bytes",
    "shuffle records written": "shuffle_records",
    "spill size": "spill_bytes",
    "peak memory": "peak_memory_bytes",
    "time to run Python workers": "python_run_s",
    "time to start Python workers": "python_start_s",
    "data sent to Python workers": "arrow_bytes_sent",
    "data returned from Python workers": "arrow_bytes_returned",
}


def parse_metric(text: str) -> float:
    """Spark's rendered metric -> number.  Accumulated metrics render as
    ``total (min, med, max ...)\\n<total> (<min>, <med>, <max> (...))``;
    plain ones as ``<value>``.  Returns the total in bytes, seconds or
    units."""
    head = text.strip().splitlines()[-1].split(" (")[0].split()
    value = float(head[0].replace(",", ""))
    if len(head) == 1:
        return value
    unit = head[1]
    if unit in _SIZE:
        return value * _SIZE[unit]
    if unit in _TIME_S:
        return value * _TIME_S[unit]
    raise ValueError(f"unknown metric unit in {text!r}")


def _seq(scala_seq):
    return [scala_seq.apply(i) for i in range(scala_seq.length())]


class StatusStore:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._store = spark._jsparkSession.sharedState().statusStore()

    def _drain(self):
        """Wait until the listener has seen every finished execution."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def last_execution_id(self) -> int:
        self._drain()
        ids = [e.executionId() for e in _seq(self._store.executionsList())]
        return max(ids, default=-1)

    def executions(self, after_id: int = -1) -> list[dict]:
        """One dict per SQL execution newer than ``after_id``: id,
        description, wall seconds and its per-node rows."""
        self._drain()
        out = []
        for e in _seq(self._store.executionsList()):
            eid = e.executionId()
            if eid <= after_id:
                continue
            done = e.completionTime()
            wall = ((done.get().getTime() - e.submissionTime()) / 1e3
                    if done.isDefined() else None)
            out.append({"execution_id": eid,
                        "description": e.description(),
                        "start": e.submissionTime() / 1e3,
                        "end": (done.get().getTime() / 1e3
                                if done.isDefined() else None),
                        "wall_s": wall,
                        "nodes": self.node_rows(eid)})
        return out

    def node_rows(self, eid: int) -> list[dict]:
        """Per plan node: name plus the NODE_METRICS it reports."""
        values = self._store.executionMetrics(eid)
        rows = []
        for node in _seq(self._store.planGraph(eid).allNodes()):
            row = {"node_id": node.id(), "node": node.name()}
            for m in _seq(node.metrics()):
                key = NODE_METRICS.get(m.name())
                v = values.get(m.accumulatorId())
                if key and v.isDefined():
                    row[key] = parse_metric(v.get())
            if len(row) > 2:
                rows.append(row)
        return rows


def totals(executions: list[dict]) -> dict:
    """Sum every NODE_METRICS key (peak memory: max) over executions."""
    out = {k: 0.0 for k in NODE_METRICS.values()}
    for e in executions:
        for row in e["nodes"]:
            for k in NODE_METRICS.values():
                if k not in row:
                    continue
                if k == "peak_memory_bytes":
                    out[k] = max(out[k], row[k])
                else:
                    out[k] += row[k]
    return out
