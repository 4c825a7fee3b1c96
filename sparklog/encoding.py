"""Tokenize/detokenize between raw syslog lines and the pre-tokenized input
table shape ``(doc_id, tokens:array<int32>, n_tok, source)``.

Encoding (fixture generator and decoder are inverses): ``tokens[i]`` is the
Unicode code point of ``raw[i]``.  Syslog bodies are printable US-ASCII
(RFC5424 PRINTUSASCII), so int32 is ample and round-tripping is exact —
which makes the routed-row token-array equality audit well-defined.

Decoders:

* ``detokenize_arrow`` — the pipeline's decoder, run inside the parse
  stage's mapInArrow batch function: list<int32> Arrow buffers in,
  pa.StringArray out, no per-row Python.
* ``detokenize_col`` — a Spark SQL expression
  (``concat_ws('', transform(tokens, t -> char(t)))``), used by the
  ``syslog_token_roundtrip`` query and the round-trip tests.
"""

from __future__ import annotations

import numpy as np


def detokenize_arrow(col):
    """list<int32> code points -> pa.StringArray, built straight from the
    list's offsets and values buffers (no per-row Python objects).

    ``col`` may be a slice: its offsets need not start at 0.  All-ASCII
    batches (syslog is PRINTUSASCII) narrow the code points to bytes and
    reuse the list offsets; otherwise one utf-32 decode + utf-8 encode
    builds the data buffer and the byte offsets come from a prefix sum of
    the per-code-point UTF-8 widths (1/2/3/4 bytes).
    """
    import pyarrow as pa

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    off = col.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    flat = col.values.to_numpy(zero_copy_only=False)[off[0]:off[-1]]
    rel = off - off[0]
    if len(flat) == 0 or (flat < 0x80).all():
        data = flat.astype(np.uint8).tobytes()
        byte_off = rel
    else:
        data = flat.astype("<u4").tobytes().decode("utf-32-le").encode(
            "utf-8")
        width = (1 + (flat >= 0x80).astype(np.int64) + (flat >= 0x800)
                 + (flat >= 0x10000))
        cum = np.zeros(len(flat) + 1, dtype=np.int64)
        np.cumsum(width, out=cum[1:])
        byte_off = cum[rel]
    return pa.StringArray.from_buffers(
        len(off) - 1, pa.py_buffer(byte_off.astype(np.int32).tobytes()),
        pa.py_buffer(data))


# Spark SQL expression for the JVM-side (whole-stage-codegen) decoder.
DETOKENIZE_SQL = "concat_ws('', transform({col}, t -> char(t)))"


def detokenize_col(col: str = "tokens"):
    """Spark Column that decodes a tokens array JVM-side (no Python)."""
    from pyspark.sql import functions as F

    return F.expr(DETOKENIZE_SQL.format(col=col))


def tokenize_col(col: str = "raw"):
    """Spark Column that encodes a string to array<int> JVM-side: split to
    chars then ascii() per char."""
    from pyspark.sql import functions as F

    # split('', '') yields [''] (ascii -> [0]), so empty strings need an
    # explicit empty array to keep the round trip exact
    return F.expr(
        f"case when length({col}) = 0 then array() "
        f"else transform(split({col}, ''), c -> cast(ascii(c) as int)) end"
    ).cast("array<int>")
