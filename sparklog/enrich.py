"""Enrichment dimension tables + broadcast joins.

The reference has no joins; enrichment is the pipeline layer the north rule
adds: facility/severity name maps and a hostname geo/tier dim, all tiny →
broadcast hash joins (no shuffle of the fact side).  The dims are built
from typed Arrow tables, so each broadcast build side is a JVM-side
``LocalTableScan`` and the parse MapInArrow stays the job's only Python
work.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

FACILITY_NAMES = [
    "kern", "user", "mail", "daemon", "auth", "syslog", "lpr", "news",
    "uucp", "cron", "authpriv", "ftp", "ntp", "audit", "alert", "clock",
    "local0", "local1", "local2", "local3", "local4", "local5", "local6",
    "local7",
]

SEVERITY_NAMES = [
    "emerg", "alert", "crit", "err", "warning", "notice", "info", "debug",
]

# severity class routing: 0-3 crit, 4-5 warn, 6-7 info (FIXTURES.md §2)
SEVERITY_CLASS = ["crit", "crit", "crit", "crit", "warn", "warn",
                  "info", "info"]

GEOS = ["us-east", "us-west", "eu-central", "ap-south"]
TIERS = ["edge", "core", "mgmt"]
# covers the synthetic host pool host0..host999 (fixtures._HOSTS_POOL)
N_HOSTS = 1000


def _dim(spark: SparkSession, rows: list, schema: pa.Schema) -> DataFrame:
    """A constant table from typed Arrow columns: Spark plans it as a
    JVM-side ``LocalTableScan``.  Built from a Python list it would be a
    ``Scan ExistingRDD`` that runs Python tasks each time it is scanned,
    every broadcast build included.  Keys are int32 like the parsed
    ``facility``/``severity`` columns, so no cast lands on the fact side."""
    return spark.createDataFrame(
        pa.table(dict(zip(schema.names, zip(*rows))), schema=schema))


def dim_facility(spark: SparkSession) -> DataFrame:
    return _dim(spark, list(enumerate(FACILITY_NAMES)),
                pa.schema([("facility", pa.int32()),
                           ("facility_name", pa.string())]))


def dim_severity(spark: SparkSession) -> DataFrame:
    return _dim(spark,
                [(i, n, c) for i, (n, c)
                 in enumerate(zip(SEVERITY_NAMES, SEVERITY_CLASS))],
                pa.schema([("severity", pa.int32()),
                           ("severity_name", pa.string()),
                           ("severity_class", pa.string())]))


def dim_host(spark: SparkSession) -> DataFrame:
    """Deterministic host dim covering the synthetic host pool + fixture
    hostnames (unknown hosts keep null geo/tier through the left join)."""
    rows = [(f"host{i}", GEOS[i % len(GEOS)], TIERS[i % len(TIERS)])
            for i in range(N_HOSTS)]
    rows += [("mymachine", "us-east", "core"),
             ("localhost", "us-east", "edge"),
             ("mymachine.example.com", "eu-central", "core"),
             ("192.0.2.1", "ap-south", "edge")]
    return _dim(spark, rows, pa.schema([("hostname", pa.string()),
                                        ("geo", pa.string()),
                                        ("tier", pa.string())]))


def enrich(parsed: DataFrame, spark: SparkSession) -> DataFrame:
    """Left broadcast joins — dims are KBs, so the fact side never shuffles
    and Catalyst plans BroadcastHashJoinExec for all three, each over a
    LocalTableScan build side."""
    return (
        parsed
        .join(F.broadcast(dim_facility(spark)), "facility", "left")
        .join(F.broadcast(dim_severity(spark)), "severity", "left")
        .join(F.broadcast(dim_host(spark)), "hostname", "left")
    )
