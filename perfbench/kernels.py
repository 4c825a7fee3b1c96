"""Driver-side timings of the parse kernels on a workload's own Arrow
batches (8192 rows, the session's ``maxRecordsPerBatch``).

The batch functions are called directly, in this process and one thread,
so the numbers are per-row CPU cost without Spark scheduling.  Inside
``parse_batch_arrow`` the fast-path parsers, the error classifier and the
pandas slow-path parsers are wrapped by timers for the duration of the
measurement.
"""

from __future__ import annotations

import time
from collections import defaultdict

import numpy as np
import pyarrow.dataset as ds

from spans import patched

BATCH_ROWS = 8192


def _timed(acc: dict, key: str, fn, count=None):
    def wrapper(*args, **kwargs):
        t0 = time.perf_counter()
        out = fn(*args, **kwargs)
        acc[key + ".s"] += time.perf_counter() - t0
        acc[key + ".rows"] += len(args[0])
        if count is not None:
            acc[key + ".count"] += count(out)
        return out
    return wrapper


def kernel_metrics(src_dir: str, cfg) -> dict:
    from sparklog import fastpath, grammar
    from sparklog.grammar import detect_rfc_arrow
    from sparklog.udfs import (
        make_decoder_fn,
        make_map_in_arrow_parser,
        parse_batch_arrow,
    )

    table = (ds.dataset(src_dir).to_table(columns=["doc_id", "source",
                                                    "tokens"])
             .combine_chunks())
    batches = table.to_batches(max_chunksize=BATCH_ROWS)
    n = table.num_rows

    t0 = time.perf_counter()
    decoded = list(make_decoder_fn()(iter(batches)))
    decode_s = time.perf_counter() - t0
    arrs = [b.column(1) for b in decoded]

    t0 = time.perf_counter()
    rfcs = [detect_rfc_arrow(a) for a in arrs]
    detect_s = time.perf_counter() - t0

    for a, r in zip(arrs[:1], rfcs):         # compile regexes, load code
        parse_batch_arrow(a, r, cfg)

    acc: dict = defaultdict(float)
    hits = lambda out: int(out[0].sum())  # noqa: E731
    classified = lambda out: sum(x is not None for x in out)  # noqa: E731
    with patched([
        (fastpath, "parse_rfc3164_fast",
         _timed(acc, "fast3164", fastpath.parse_rfc3164_fast, hits)),
        (fastpath, "parse_rfc5424_fast",
         _timed(acc, "fast5424", fastpath.parse_rfc5424_fast, hits)),
        (fastpath, "classify_errors_fast",
         _timed(acc, "classify", fastpath.classify_errors_fast,
                classified)),
        (grammar, "_parse_rfc3164_slow",
         _timed(acc, "slow", grammar._parse_rfc3164_slow)),
        (grammar, "_parse_rfc5424_slow",
         _timed(acc, "slow", grammar._parse_rfc5424_slow)),
    ]):
        t0 = time.perf_counter()
        for a, r in zip(arrs, rfcs):
            parse_batch_arrow(a, r, cfg)
        parse_s = time.perf_counter() - t0

    fn = make_map_in_arrow_parser(cfg)
    batch_ms = []
    for b in batches:
        t0 = time.perf_counter()
        for _ in fn(iter([b])):
            pass
        batch_ms.append((time.perf_counter() - t0) * 1e3)

    def ns_per(key):
        rows = acc[key + ".rows"]
        return acc[key + ".s"] * 1e9 / rows if rows else 0.0

    return {
        "encoding.decode_ns_per_row": decode_s * 1e9 / n,
        "grammar.detect_ns_per_row": detect_s * 1e9 / n,
        "fastpath.parse3164_ns_per_row": ns_per("fast3164"),
        "fastpath.parse5424_ns_per_row": ns_per("fast5424"),
        "fastpath.hit_ratio":
            (acc["fast3164.count"] + acc["fast5424.count"]) / n,
        "fastpath.classified_rows": acc["classify.count"],
        "fastpath.classify_ns_per_row": ns_per("classify"),
        "udfs.parse_ns_per_row": parse_s * 1e9 / n,
        "udfs.slow_rows": acc["slow.rows"],
        # the slow path's share of the per-row parse cost (all rows)
        "udfs.slow_path_ns_per_row": acc["slow.s"] * 1e9 / n,
        "udfs.batch_ms_p50": float(np.percentile(batch_ms, 50)),
        "udfs.batch_ms_p99": float(np.percentile(batch_ms, 99)),
    }
