"""The Arrow error pre-classifier and the fast/slow merge must agree with
the pandas slow path on error-heavy and adversarial corpora
(parse_batch_arrow vs a slow-path-only reference compared
column-by-column), for the default config and for injected configs that
route every row through the slow path."""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from sparklog import fixtures
from sparklog.grammar import (
    _OUTPUT_COLUMNS,
    RFC_3164,
    RFC_5424,
    ParseConfig,
    _parse_rfc3164_slow,
    _parse_rfc5424_slow,
    detect_rfc_arrow,
)
from sparklog.udfs import parse_batch_arrow

CFG = ParseConfig(default_year=2025)
CONFIGS = (CFG,
           ParseConfig(hostname="dummy", default_year=2025),
           ParseConfig(default_year=2025, location="Asia/Tokyo"))


def _slow_reference(rows, rfc, cfg) -> pd.DataFrame:
    """Slow path only: _parse_rfc*_slow per detected dialect, DetectFailed
    for unknown-dialect rows — independent of the fast path and the error
    classifier under test."""
    raw = pd.Series(rows, dtype=object)
    parts = [pd.DataFrame({"parse_error": "DetectFailed"},
                          index=raw.index[(rfc != RFC_3164)
                                          & (rfc != RFC_5424)])]
    for code, slow in ((RFC_3164, _parse_rfc3164_slow),
                       (RFC_5424, _parse_rfc5424_slow)):
        if (rfc == code).any():
            parts.append(slow(raw[rfc == code], cfg).astype(object))
    return pd.concat(parts).reindex(raw.index)


def _compare(rows, cfg=CFG):
    arr = pa.array(rows, pa.string())
    rfc = detect_rfc_arrow(arr)
    out = parse_batch_arrow(arr, rfc, cfg)
    ref = _slow_reference(rows, rfc, cfg)
    for c in _OUTPUT_COLUMNS:
        got = out[c].to_pandas()
        want = ref[c]
        if c == "ts":
            got, want = pd.to_datetime(got), pd.to_datetime(want)
            same = (got.isna() & want.isna()) | (got == want)
        else:
            g = got.astype(object).where(got.notna(), None)
            w = want.where(want.notna(), None)
            same = pd.Series([a == b for a, b in zip(g, w)])
        assert same.all(), (
            c, cfg, [rows[i] for i in np.flatnonzero(~same.to_numpy())[:3]])


def test_error_corpus():
    rows = ([c["raw"] for c in fixtures.GOLDEN_ERRORS] * 3
            + ["", "<", "<>", "<77", "<1233>", "<7a8>x", "7>x",
               "<34>", "<34>x", "<34>Foo 11 22:14:15 h t: x",
               "<34> Oct 11 22:14:15 h t: x",     # leading space variant
               "<34>  Oct 11 22:14:15 h t: x",    # double space
               "<165>1", "<165>1 ", "<165>1 2", "<165>1 20x3-",
               "<165>1 +123-10-11T22:14:15Z h a - - - m",  # signed year
               "<165>1 - h a - - - m",            # NIL ts
               "<12345678>9 x", "x" * 12, "short"])
    for cfg in CONFIGS:
        _compare(rows, cfg)


def test_error_heavy_synthetic():
    pdf = fixtures.synth_lines(8000, seed=77, error_rate=0.9)
    for cfg in CONFIGS:
        _compare(pdf["raw"].tolist(), cfg)


def test_mixed_synthetic():
    pdf = fixtures.synth_lines(8000, seed=78, error_rate=0.05)
    for cfg in CONFIGS:
        _compare(pdf["raw"].tolist(), cfg)


@pytest.mark.parametrize("seed", [1, 2])
def test_adversarial_fuzz(seed):
    import random

    rng = random.Random(seed)
    alph = "<>[]:. -0123456789abcZT+\""
    rows = ["".join(rng.choice(alph) for _ in range(rng.randint(0, 40)))
            for _ in range(4000)]
    for cfg in CONFIGS:
        _compare(rows, cfg)
