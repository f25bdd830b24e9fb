"""File-format sources beyond parquet: CSV, JSONL (nested), ORC.

The reference's only inputs are an HTTP JSON payload and its local JSON
cache (`/root/reference/etl.py:48-78`); a warehouse ingests whatever
lands — CSV drops, JSONL event feeds with nested objects, ORC from
other Hadoop-era producers. Each query here materializes a fixture in
that format FROM the canonical parquet tables (deterministic,
roundtrip-lossless column types only: integers and strings), reads it
back through the format's first-class Spark reader with an explicit
schema (never inferSchema — a schema scan over 100 TB of text is a full
extra pass), and aggregates. The oracle reads the SAME rows from the
parquet views, so a hash-match proves the text/columnar roundtrip
preserved every value bit-for-bit.

Scale notes: all three readers split files the same way the parquet
scan does (CSV/JSON by line-split ranges, ORC by stripe), so the read
parallelizes without help; FAILFAST mode makes a malformed drop abort
loudly instead of silently nulling (the PERMISSIVE/corrupt-column tier
is covered by the flagship pipeline's validation gate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import fixture_dir, table
from ..functions.exact import cents
from ..registry import query


# --------------------------------------------------------------------------
# CSV drop, explicit schema, FAILFAST
# --------------------------------------------------------------------------

_CSV_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS price_cents_total,
       CAST(SUM(o_custkey) AS BIGINT) AS custkey_sum
FROM orders
WHERE o_orderkey % 3 = 0
GROUP BY 1
ORDER BY 1
"""


def _csv_fixture(spark: SparkSession, sf_dir: str) -> str:
    def write(path: str) -> None:
        (
            table(spark, sf_dir, "orders")
            .filter(F.col("o_orderkey") % 3 == 0)
            .select(
                "o_orderkey",
                "o_custkey",
                cents("o_totalprice")
                .alias("price_cents"),
                "o_orderpriority",
            )
            .write.mode("overwrite")
            .option("header", True)
            .csv(path)
        )

    return fixture_dir(spark, "csv", sf_dir, ("orders",), write)


@query("source_csv_roundtrip", oracle=_CSV_ORACLE)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV drop ingest: write an orders slice as a header CSV, read it
    back with an EXPLICIT schema in FAILFAST mode (no inferSchema pass,
    loud failure on malformed rows), and aggregate per priority. The
    oracle reads the same slice from parquet — a hash-match proves the
    text roundtrip preserved every integer and string exactly."""
    path = _csv_fixture(spark, sf_dir)
    df = (
        spark.read.schema(
            "o_orderkey long, o_custkey long, price_cents long, "
            "o_orderpriority string"
        )
        .option("header", True)
        .option("mode", "FAILFAST")
        .csv(path)
    )
    return (
        df.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("price_cents").alias("price_cents_total"),
            F.sum("o_custkey").alias("custkey_sum"),
        )
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# JSONL feed with nested objects
# --------------------------------------------------------------------------

_JSONL_ORACLE = """
SELECT lang, source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS chars_total
FROM documents
WHERE doc_id % 4 = 1
GROUP BY 1, 2
ORDER BY 1, 2
"""


def _jsonl_fixture(spark: SparkSession, sf_dir: str) -> str:
    def write(path: str) -> None:
        (
            table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % 4 == 1)
            .select(
                "doc_id",
                F.struct("lang", "source", "n_chars").alias("meta"),
            )
            .write.mode("overwrite")
            .json(path)
        )

    return fixture_dir(spark, "jsonl", sf_dir, ("documents",), write)


@query("source_jsonl_nested", oracle=_JSONL_ORACLE)
def source_jsonl_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL feed ingest with a NESTED object per line (the shape every
    event bus emits): explicit struct schema, dotted-path projection —
    no flattening UDF, the reader prunes into the struct. Oracle reads
    the same docs from parquet."""
    path = _jsonl_fixture(spark, sf_dir)
    df = spark.read.schema(
        "doc_id long, meta struct<lang:string, source:string, n_chars:long>"
    ).json(path)
    return (
        df.groupBy(
            F.col("meta.lang").alias("lang"),
            F.col("meta.source").alias("source"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("meta.n_chars").alias("chars_total"),
        )
        .orderBy("lang", "source")
    )


# --------------------------------------------------------------------------
# ORC interchange
# --------------------------------------------------------------------------

_ORC_ORACLE = """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
           AS qty_cents_total,
       CAST(SUM(l_orderkey) AS BIGINT) AS orderkey_sum
FROM lineitem
WHERE l_linenumber = 1
GROUP BY 1
ORDER BY 1
"""


def _orc_fixture(spark: SparkSession, sf_dir: str) -> str:
    def write(path: str) -> None:
        (
            table(spark, sf_dir, "lineitem")
            .filter(F.col("l_linenumber") == 1)
            .select(
                "l_orderkey",
                "l_returnflag",
                cents("l_quantity")
                .alias("qty_cents"),
            )
            .write.mode("overwrite")
            .orc(path)
        )

    return fixture_dir(spark, "orc", sf_dir, ("lineitem",), write)


@query("source_orc_roundtrip", oracle=_ORC_ORACLE)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC interchange: write a lineitem slice as ORC (the other
    columnar Hadoop lingua franca; stripe-split parallel scan, same
    predicate-pushdown contract as parquet), read it back, aggregate
    per returnflag. Oracle reads the same slice from parquet."""
    path = _orc_fixture(spark, sf_dir)
    df = spark.read.orc(path)
    return (
        df.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("qty_cents").alias("qty_cents_total"),
            F.sum("l_orderkey").alias("orderkey_sum"),
        )
        .orderBy("l_returnflag")
    )
