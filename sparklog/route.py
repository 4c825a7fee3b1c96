"""Routing: severity-class fan-out with deterministic salted repartitioning
plus the token-array equality audit.

Hostname/source distributions are Zipf-skewed at scale; writing
``partitionBy(rfc, severity_class)`` without salting funnels hot sinks
through few tasks.  We salt with ``pmod(xxhash64(doc_id), S)`` —
deterministic (no rand()) so a resumed run reproduces the same rows per
sink, which keeps the manifest/resume layer idempotent.  The routing
shuffle carries no fixed width: AQE sizes it from the measured map
output (at most ``spark.sql.shuffle.partitions`` tasks, coalesced when
the data is small), and the salt still spreads a hot sink over every
task that width leaves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEAD_LETTER_CLASS = "dead"


def with_route_columns(df: DataFrame) -> DataFrame:
    """sink key = (rfc, severity_class); parse failures route to 'dead'."""
    return df.withColumn(
        "sink_class",
        F.when(F.col("parse_error").isNotNull(), F.lit(DEAD_LETTER_CLASS))
         .otherwise(F.col("severity_class")),
    )


def salted_repartition(df: DataFrame, num_partitions: int | None = None,
                       salt_buckets: int = 16) -> DataFrame:
    """Co-partition by sink key + deterministic salt to split hot sinks.
    With ``num_partitions=None`` the exchange is a count-free
    ``REPARTITION_BY_COL`` that AQE may coalesce; an explicit width is a
    ``REPARTITION_BY_NUM`` that AQE leaves as it is."""
    keys = (F.col("rfc"), F.col("sink_class"),
            F.pmod(F.xxhash64("doc_id"), F.lit(salt_buckets)))
    if num_partitions is None:
        return df.repartition(*keys)
    return df.repartition(num_partitions, *keys)


def write_sinks(df: DataFrame, out_dir: str) -> None:
    """Single-pass fan-out: one write partitioned by sink key.

    One shuffle (the salted repartition, its width left to AQE) followed
    by a dynamic-partition write: each write task emits one file per sink
    key it holds, so a small job writes few files and a hot sink still
    lands in several.  No N-pass filtered rewrites of the fact table.
    """
    (salted_repartition(df)
     .write.mode("overwrite")
     .partitionBy("rfc", "sink_class")
     .parquet(out_dir))


def audit_token_equality(routed: DataFrame, source: DataFrame) -> int:
    """North-rule invariant: every routed row's token array equals its
    source row's.  The routed side carries the decoded ``raw`` string (the
    token array never crosses the Arrow boundary outbound — see
    parse_stage); the source side is decoded by a string-only mapInArrow
    pass.  Because the token codec is bijective (codepoint<->int), string
    equality IS token-array equality.  One full-outer join on doc_id
    computes mismatched, dropped (source-only), and extra (routed-only)
    rows together — a single shuffle of each side instead of the three a
    separate inner+2x-anti formulation costs.  Returns the violation count
    (must be 0)."""
    from .udfs import DECODED_SCHEMA, make_decoder_fn

    r = routed.select("doc_id", F.col("raw").alias("routed_raw"))
    s = (source.select("doc_id", "tokens")
               .mapInArrow(make_decoder_fn(), DECODED_SCHEMA)
               .select("doc_id", F.col("raw").alias("src_raw")))
    j = r.join(s, "doc_id", "full_outer")
    violation = (F.col("routed_raw").isNull()           # dropped
                 | F.col("src_raw").isNull()            # extra
                 | ~(F.col("routed_raw") == F.col("src_raw")))
    return j.where(violation).count()
