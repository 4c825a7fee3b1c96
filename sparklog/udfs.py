"""The parse surface: one batch of raw lines in, one flat parsed record
per line out.

``parse_batch_arrow`` is the only code that builds parsed rows: it merges
Arrow fast-path hits, pre-classified errors, masked-column slow-path rows
and unknown-dialect rows into one set of Arrow columns.  Every surface
goes through it:

* Spark: ``make_map_in_arrow_parser`` is a mapInArrow batch function that
  decodes the token list (or takes the raw string column), detects the
  dialect and parses in ONE Python pass per Arrow batch.  It is the only
  JVM<->Python boundary in the pipeline; the broadcast enrich joins,
  routing and aggregates stay JVM-side.
* pandas: ``parse_pandas`` (behind ``grammar.parse_rfc3164`` /
  ``parse_rfc5424`` and ``api.parse_lines_pandas``) converts a Series to
  Arrow, parses it here and adapts the columns back to pandas dtypes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import types as T

from .grammar import RFC_3164, RFC_5424, ParseConfig

PARSED_SCHEMA = T.StructType([
    T.StructField("priority", T.IntegerType()),
    T.StructField("facility", T.IntegerType()),
    T.StructField("severity", T.IntegerType()),
    T.StructField("version", T.IntegerType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("tz_offset_minutes", T.IntegerType()),
    T.StructField("ts_is_nil", T.BooleanType()),
    T.StructField("hostname", T.StringType()),
    T.StructField("tag", T.StringType()),
    T.StructField("content", T.StringType()),
    T.StructField("app_name", T.StringType()),
    T.StructField("proc_id", T.StringType()),
    T.StructField("msg_id", T.StringType()),
    T.StructField("structured_data", T.StringType()),
    T.StructField("message", T.StringType()),
    T.StructField("parse_error", T.StringType()),
])

_INT_COLS = ["priority", "facility", "severity", "version",
             "tz_offset_minutes"]


def parse_batch_arrow(arr, rfc: np.ndarray, cfg: ParseConfig):
    """Whole-batch parse producing Arrow arrays directly (no pandas on the
    hot path): fast-path hits keep their Arrow string buffers; only misses
    go through the pandas slow path; unknown-dialect rows (``rfc`` neither
    RFC_3164 nor RFC_5424) get ``DetectFailed``.  The row groups are merged
    with one gather (take) per column.

    Configs with injected fields (see ``grammar._fast_eligible``) skip the
    fast parsers and the error classifier: every 3164/5424 row goes to the
    slow path, which implements the injection hooks.

    ``arr`` must not contain nulls.  The kernels are looked up on their
    modules at call time, so wrapping them (e.g. with timers) takes effect
    here."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from . import fastpath
    from .grammar import (
        _OUTPUT_COLUMNS,
        _fast_eligible,
        _parse_rfc3164_slow,
        _parse_rfc5424_slow,
    )

    n = len(rfc)
    m3 = rfc == RFC_3164
    m5 = rfc == RFC_5424
    fast = _fast_eligible(cfg)

    hit3 = np.zeros(n, dtype=bool)
    hit5 = np.zeros(n, dtype=bool)
    cols3: dict = {}
    cols5: dict = {}
    if fast:
        if m3.all():
            h3, cols3 = fastpath.parse_rfc3164_fast(arr, cfg.default_year)
            hit3 = h3
        elif m3.any():
            a3 = pc.filter(arr, pa.array(m3))
            h3, cols3 = fastpath.parse_rfc3164_fast(a3, cfg.default_year)
            hit3[np.flatnonzero(m3)[h3]] = True
        if m5.all():
            h5, cols5 = fastpath.parse_rfc5424_fast(arr)
            hit5 = h5
        elif m5.any():
            a5 = pc.filter(arr, pa.array(m5))
            h5, cols5 = fastpath.parse_rfc5424_fast(a5)
            hit5[np.flatnonzero(m5)[h5]] = True

    # homogeneous canonical batch (the 100 TB common case): columns are
    # already in row order — skip the concat+gather entirely
    for full_hit, cols_d in ((hit3, cols3), (hit5, cols5)):
        if full_hit.all():
            return {c: _fast_col(cols_d, c, n) for c in _OUTPUT_COLUMNS}

    miss = ~(hit3 | hit5)
    slow_parts = []
    err_codes = None
    err_pos = np.array([], dtype=np.int64)
    if miss.any():
        miss_idx = np.flatnonzero(miss)
        miss_arr = pc.filter(arr, pa.array(miss))
        srfc = rfc[miss_idx]
        # Arrow error pre-classification: provable error codes skip the
        # pandas slow path entirely (garbage bursts stay cheap)
        codes = (fastpath.classify_errors_fast(miss_arr, srfc) if fast
                 else np.full(len(srfc), None, dtype=object))
        codes[~((srfc == RFC_3164) | (srfc == RFC_5424))] = "DetectFailed"
        classified = np.array([x is not None for x in codes])
        if classified.any():
            err_codes = codes[classified]
            err_pos = miss_idx[classified]
        rem = ~classified
        if rem.any():
            sub = pd.Series(
                pc.filter(miss_arr, pa.array(rem)).to_numpy(
                    zero_copy_only=False),
                index=miss_idx[rem], dtype=object)
            srfc_r = srfc[rem]
            sm3 = srfc_r == RFC_3164
            sm5 = srfc_r == RFC_5424
            frames = []
            order = []
            if sm3.any():
                frames.append(_parse_rfc3164_slow(sub[sm3], cfg))
                order.append(miss_idx[rem][sm3])
            if sm5.any():
                frames.append(_parse_rfc5424_slow(sub[sm5], cfg))
                order.append(miss_idx[rem][sm5])
            for f in frames:  # align dtypes so concat never silently casts
                f["ts_is_nil"] = f["ts_is_nil"].astype(object)
            slow = pd.concat(frames, ignore_index=True)
            slow_pos = np.concatenate(order)
            slow_parts = [(slow, slow_pos)]

    # gather permutation: [3164 hits, 5424 hits, classified errs, slow]
    pos = [np.flatnonzero(hit3), np.flatnonzero(hit5), err_pos]
    if slow_parts:
        pos.append(slow_parts[0][1])
    perm_src = np.concatenate(pos) if pos else np.array([], dtype=np.int64)
    inv = np.empty(n, dtype=np.int64)
    inv[perm_src] = np.arange(n)
    inv_pa = pa.array(inv)

    n3, n5 = int(hit3.sum()), int(hit5.sum())

    n_err = len(err_pos)

    def seg(colname, typ):
        """Build the concatenated [hits3, hits5, classified-errors, slow]
        segment for one output column, then gather into row order."""
        chunks = []
        for nn, cols_d in ((n3, cols3), (n5, cols5)):
            if not nn:
                continue
            if colname in cols_d:
                chunks.append(_to_pa(cols_d[colname], typ))
            elif colname == "ts_is_nil":
                # fast-path hits always carry a concrete False
                chunks.append(pa.array(np.zeros(nn, dtype=bool)))
            else:
                chunks.append(pa.nulls(nn, typ))
        if n_err:
            if colname == "parse_error":
                chunks.append(pa.array(list(err_codes), pa.string()))
            else:
                chunks.append(pa.nulls(n_err, typ))
        if slow_parts:
            slow = slow_parts[0][0]
            chunks.append(_slow_col_to_pa(slow[colname], typ))
        merged = pa.concat_arrays([c.combine_chunks()
                                   if isinstance(c, pa.ChunkedArray) else c
                                   for c in chunks])
        return merged.take(inv_pa)

    return {c: seg(c, _pa_type(c)) for c in _OUTPUT_COLUMNS}


def _pa_type(colname):
    import pyarrow as pa

    if colname in _INT_COLS:
        return pa.int32()
    if colname == "ts":
        return pa.timestamp("us")
    if colname == "ts_is_nil":
        return pa.bool_()
    return pa.string()


def _to_pa(v, typ):
    """Fast-path column (numpy or pa.Array over the hit rows) -> pa.Array
    of `typ`."""
    import pyarrow as pa

    if isinstance(v, (pa.Array, pa.ChunkedArray)):
        return v.cast(typ)
    if typ == pa.bool_():
        return pa.array(v.astype(bool))
    return pa.array(v).cast(typ)


def _fast_col(cols_d: dict, colname: str, n: int):
    """All-hit shortcut column builder: fast-path output (already in row
    order) -> pa.Array; absent columns are nulls, ts_is_nil is False."""
    import pyarrow as pa

    typ = _pa_type(colname)
    if colname in cols_d:
        return _to_pa(cols_d[colname], typ)
    if colname == "ts_is_nil":
        return pa.array(np.zeros(n, dtype=bool))
    return pa.nulls(n, typ)


def _slow_col_to_pa(series: pd.Series, typ):
    import pyarrow as pa

    if typ == pa.timestamp("us"):
        return pa.array(series.to_numpy(dtype="M8[ns]")).cast(typ)
    return pa.Array.from_pandas(series, type=typ)


def parse_pandas(raw, cfg: ParseConfig, rfc: int | None = None
                 ) -> pd.DataFrame:
    """The pandas surface: lines -> parsed frame on the input's index.

    Nulls parse as empty lines.  ``rfc`` forces one dialect for every row;
    ``None`` detects it per row and prepends an ``rfc`` column.  Output
    dtypes: ``Int64`` ints, ``datetime64[ns]`` ts, object strings and
    ``ts_is_nil``."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from .grammar import _OUTPUT_COLUMNS, detect_rfc_arrow

    raw = raw if isinstance(raw, pd.Series) else pd.Series(raw)
    arr = pc.fill_null(pa.array(raw, pa.string(), from_pandas=True), "")
    codes = (detect_rfc_arrow(arr) if rfc is None
             else np.full(len(arr), rfc, dtype=np.int64))
    cols = parse_batch_arrow(arr, codes, cfg)
    data = {"rfc": codes} if rfc is None else {}
    for c in _OUTPUT_COLUMNS:
        a = cols[c]
        if c in _INT_COLS:
            data[c] = pd.array(a.to_numpy(zero_copy_only=False),
                               dtype="Int64")
        elif c == "ts":
            data[c] = a.cast(pa.timestamp("ns")).to_numpy(
                zero_copy_only=False)
        else:
            data[c] = np.asarray(a.to_numpy(zero_copy_only=False),
                                 dtype=object)
    return pd.DataFrame(data, index=raw.index)


def make_map_in_arrow_parser(cfg: ParseConfig | None = None,
                             passthrough=("doc_id", "source"),
                             input_col: str = "tokens",
                             out_prefix: str = ""):
    """Batch function for DataFrame.mapInArrow: passthrough columns ride
    along untouched (same Arrow buffers); decode+detect+parse append the
    rfc + parsed columns (names prefixed with ``out_prefix``).  Being a map
    barrier, the parse can never be duplicated by filter pushdown the way
    struct-field references to a pandas UDF can.

    The input kind follows the Arrow type of ``input_col``: a list<int>
    token column is decoded and the decoded line is emitted as a ``raw``
    column; a string column is parsed as is (nulls as empty lines) and no
    ``raw`` column is added.

    The token ARRAY column must never appear in the OUTPUT batch: shipping
    array<int> back across the Arrow boundary costs 10-20x the parse
    itself (measured 17-23s vs 0.6-2.8s per 400k rows at local[32]) and
    bloats the JVM with list-array allocations.  The decoded ``raw`` string
    carries the same information — the codec is bijective, so downstream
    equality audits on the string are exactly the token-array invariant."""
    import pyarrow as pa

    cfg = cfg or ParseConfig()

    def fn(batches):
        import pyarrow.compute as pc

        from .encoding import detokenize_arrow
        from .grammar import _OUTPUT_COLUMNS, detect_rfc_arrow

        for b in batches:
            col = b.column(input_col)
            names = list(passthrough)
            arrays = [b.column(c) for c in passthrough]
            if pa.types.is_string(col.type):
                arr = pc.fill_null(col, "")
            else:
                arr = detokenize_arrow(col)
                names.append("raw")
                arrays.append(arr)
            rfc = detect_rfc_arrow(arr)
            out = parse_batch_arrow(arr, rfc, cfg)
            names += ["rfc"] + [f"{out_prefix}{c}" for c in _OUTPUT_COLUMNS]
            arrays += [pa.array(rfc, pa.int32())] + [out[c]
                                                     for c in _OUTPUT_COLUMNS]
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return fn


MAP_IN_ARROW_SCHEMA = T.StructType(
    [T.StructField("doc_id", T.StringType()),
     T.StructField("source", T.StringType()),
     T.StructField("raw", T.StringType()),
     T.StructField("rfc", T.IntegerType())]
    + PARSED_SCHEMA.fields)


DECODED_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("raw", T.StringType()),
])


def make_decoder_fn(input_col: str = "tokens"):
    """mapInArrow batch fn: tokens -> (doc_id, raw) only, for the audit's
    source side (input-side token arrays are cheap; it is the OUTPUT side
    that must stay string-only)."""
    import pyarrow as pa

    def fn(batches):
        from .encoding import detokenize_arrow

        for b in batches:
            yield pa.RecordBatch.from_arrays(
                [b.column("doc_id"), detokenize_arrow(b.column(input_col))],
                names=["doc_id", "raw"])

    return fn
