"""Round-8 kernel-equivalence guards: the shared _pair_cosine Arrow
kernel replaced the interpreted aggregate(zip_with(...)) Catalyst fold
in ann_ivf_topk probe scoring, ann_lsh_near_pairs and
dedup_embedding_cosine verification.  These tests pin (a) value
equality with the interpreted fold it replaced (same left-to-right IEEE
fold, same rounding, NaN for zero-norm pairs) and (b) the row-local
property of _ivf_two that lets the query side score only the probe
vectors."""

import math
import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"


def _interpreted_cosine(df):
    """The exact Catalyst fold _pair_cosine replaced."""
    dot = F.expr("aggregate(zip_with(va, vb, (x, y) -> x * y), 0D, "
                 "(acc, x) -> acc + x)")
    na = F.expr("sqrt(aggregate(transform(va, x -> x * x), 0D, "
                "(acc, x) -> acc + x))")
    nb = F.expr("sqrt(aggregate(transform(vb, x -> x * x), 0D, "
                "(acc, x) -> acc + x))")
    return df.select("a", "b", F.round(dot / (na * nb), 4).alias("cosine"))


def test_pair_cosine_matches_interpreted_fold(spark):
    """Value equality on non-zero-norm pairs (the only pairs the old
    fold could evaluate at all: under ANSI mode — Spark 4 default — the
    Catalyst division RAISES DIVIDE_BY_ZERO on a zero divisor, double
    operands included, so every corpus the old fold ever ran green on is
    zero-norm-free)."""
    from sparklog.queries import _pair_cosine

    data = [
        (1, 2, [1.0, 2.0, 3.0, 4.0], [4.0, 5.0, 6.0, 7.0]),
        (5, 6, [-1.5, 2.25, 0.5, -8.0], [3.0, -0.125, 7.0, 0.25]),
        (7, 8, [1e-8, 1e8, -1e-8, 2.0], [1e8, 1e-8, 1e8, -3.0]),
        (9, 10, [1.0, 1.0, 1.0, 1.0], [1.0, 1.0, 1.0, 1.0]),  # exactly 1
        (11, 12, [2.0, -2.0, 2.0, -2.0], [-1.0, 1.0, -1.0, 1.0]),  # -1
    ]
    df = spark.createDataFrame(
        data, "a bigint, b bigint, va array<double>, vb array<double>")
    got = {(r.a, r.b): r.cosine
           for r in _pair_cosine(df, "a", "b", "va", "vb", 4).collect()}
    exp = {(r.a, r.b): r.cosine for r in _interpreted_cosine(df).collect()}
    assert got == exp


def test_pair_cosine_zero_norm_is_nan(spark):
    """Zero-norm pairs get the _brute_topk NaN treatment (the
    interpreted fold they replace would raise under ANSI instead — the
    kernel is strictly more defined, identical wherever both run).  NaN
    compares above every number in Spark, so such a pair passes any
    ``cosine >= threshold`` filter."""
    from sparklog.queries import _pair_cosine

    df = spark.createDataFrame(
        [(3, 4, [0.0, 0.0], [1.0, 1.0])],
        "a bigint, b bigint, va array<double>, vb array<double>")
    [r] = _pair_cosine(df, "a", "b", "va", "vb", 4).collect()
    assert math.isnan(r.cosine)


def test_pair_cosine_rejects_ragged_arrays(spark):
    from pyspark.errors import PythonException

    from sparklog.queries import _pair_cosine

    df = spark.createDataFrame(
        [(1, 2, [1.0, 2.0], [1.0, 2.0]), (3, 4, [1.0], [1.0, 2.0])],
        "a bigint, b bigint, va array<double>, vb array<double>")
    with pytest.raises(PythonException, match="ragged"):
        _pair_cosine(df.coalesce(1), "a", "b", "va", "vb", 4).collect()


def test_ivf_two_is_row_local(spark):
    """Scoring a SUBSET of e must return exactly the full pass's rows for
    that subset (cell1/c1/cell2 are per-row functions of (v, W)) — the
    property ann_ivf_topk's query branch relies on to pre-filter
    vec_id < 20 below the kernel."""
    from sparklog.queries import _embeddings_v, _ivf_codebook, _ivf_two

    e = _embeddings_v(spark, SF)
    W = _ivf_codebook(e, 8)
    full = {r.vec_id: (r.cell1, r.c1, r.cell2)
            for r in _ivf_two(e, W).collect()}
    sub = {r.vec_id: (r.cell1, r.c1, r.cell2)
           for r in _ivf_two(e.where(F.col("vec_id") < 20), W).collect()}
    assert sub == {k: v for k, v in full.items() if k < 20}
    assert len(sub) == 20


# ties at 4 / 6 digits, where np.round (half to even) and the engines'
# round (half away from zero) disagree, plus non-ties
_TIES = {4: [0.03125, -0.03125, 0.00005, -0.00005, 0.12345, 0.00025,
             0.5, -0.99995, 0.0001],
         6: [0.0000005, -0.0000005, 0.1234565, 0.0000025, 0.2500005,
             0.9999995]}


def test_round_matches_spark_and_duckdb_on_ties(spark):
    import duckdb

    from sparklog.queries import _round

    con = duckdb.connect()
    for nd, vals in _TIES.items():
        df = spark.createDataFrame([(v,) for v in vals], "x double")
        sp = [r.r for r in df.select(F.round("x", nd).alias("r")).collect()]
        dk = [con.execute(f"SELECT round(?::DOUBLE, {nd})", [v]).fetchone()[0]
              for v in vals]
        got = [float(_round(v, nd)) for v in vals]
        assert got == sp == dk, (nd, vals, got, sp, dk)
    # where the engines part (0.00015 * 1e4 = 1.4999999999999998 as a
    # double, but "0.00015" is a decimal tie for Spark), follow the oracle
    assert float(_round(0.00015, 4)) == con.execute(
        "SELECT round(0.00015::DOUBLE, 4)").fetchone()[0] == 0.0001


def test_pair_cosine_rounds_ties_like_spark(spark):
    """cosine(e1, ones(1024)) is exactly 1/32 = 0.03125: the kernel must
    give Spark's (and DuckDB's) 0.0313, not half-to-even 0.0312."""
    from sparklog.queries import _pair_cosine

    e1 = [1.0] + [0.0] * 1023
    df = spark.createDataFrame(
        [(1, 2, e1, [1.0] * 1024)],
        "a bigint, b bigint, va array<double>, vb array<double>")
    [r] = _pair_cosine(df, "a", "b", "va", "vb", 4).collect()
    [ref] = _interpreted_cosine(df).collect()
    assert r.cosine == ref.cosine == 0.0313
