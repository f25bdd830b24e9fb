"""Custom Python DataSource (Spark 4 `pyspark.sql.datasource` API).

The reference ingests via a hand-rolled fetch loop
(`/root/reference/etl.py:48-70`); the modern Spark-native shape for a
bespoke feed is a registered DataSource: Spark plans PARTITIONED parallel
reads against it, schema is declared up front, and downstream operators
see an ordinary DataFrame. This module ships a deterministic seeded
source (Weyl-sequence values, so a SQL oracle can replay it row-for-row)
demonstrating the full surface: name registration, options, schema,
`partitions()` splitting, and per-partition generator reads.

At 100 TB the partitioning hook is the load-bearing piece: one
InputPartition per shard/day/symbol gives every executor its own slice
of the feed — the same contract as the JDBC range-partitioned read spec
(sources/jdbc.py), expressed through the first-class API instead of
hand-built predicates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import dsum
from ..registry import query

_N_ROWS = 50_000
_N_PARTS = 8
_MULT = 2654435761  # Knuth multiplicative-hash constant; fits int64 here
_BUCKETS = 10


def _register(spark: SparkSession) -> None:
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class SeededFeedReader(DataSourceReader):
        def __init__(self, options):
            self.n = int(options.get("n", _N_ROWS))
            self.parts = int(options.get("partitions", _N_PARTS))

        def partitions(self):
            # Contiguous row ranges, one per InputPartition — Spark runs
            # read() for each in its own task.
            step = -(-self.n // self.parts)
            return [
                InputPartition((lo, min(lo + step, self.n)))
                for lo in range(0, self.n, step)
            ]

        def read(self, partition):
            lo, hi = partition.value
            for i in range(lo, hi):
                # Integer-only derivation → bit-replayable in SQL.
                yield (i, i % _BUCKETS, ((i * _MULT) % 1000) / 100.0)

    from pyspark.sql.datasource import SimpleDataSourceStreamReader

    class SeededFeedStreamReader(SimpleDataSourceStreamReader):
        """Micro-batch tail of the same feed: offsets are plain row
        indices, so restart/replay semantics are exact — readBetweenOffsets
        re-derives any committed range bit-identically (the idempotent
        re-delivery contract the raw-zone file cache implements for the
        HTTP source, here provided by the first-class streaming API)."""

        def __init__(self, options):
            self.n = int(options.get("n", _N_ROWS))
            self.batch = int(options.get("batch_rows", 10_000))

        def initialOffset(self):
            return {"i": 0}

        def _rows(self, lo: int, hi: int):
            # A LIST, not a generator: the engine's prefetch cache
            # copy.copy()s the returned iterator when planning partitions.
            return [
                (i, i % _BUCKETS, ((i * _MULT) % 1000) / 100.0)
                for i in range(lo, hi)
            ]

        def read(self, start):
            lo = int(start["i"])
            hi = min(lo + self.batch, self.n)
            return self._rows(lo, hi), {"i": hi}

        def readBetweenOffsets(self, start, end):
            return self._rows(int(start["i"]), int(end["i"]))

    class SeededFeedSource(DataSource):
        @classmethod
        def name(cls):
            return "seeded_feed"

        def schema(self):
            return "i bigint, bucket int, score double"

        def reader(self, schema):
            return SeededFeedReader(self.options)

        def simpleStreamReader(self, schema):
            return SeededFeedStreamReader(self.options)

    try:
        spark.dataSource.register(SeededFeedSource)
    except Exception as exc:  # already registered in this session
        if "seeded_feed" not in str(exc).lower() and "exist" not in str(
            exc
        ).lower():
            raise


_PYSOURCE_ORACLE = f"""
SELECT CAST(i % {_BUCKETS} AS INT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM((i * {_MULT}) % 1000) / 100.0 AS DOUBLE) AS score_sum,
       CAST(MIN(i) AS BIGINT) AS first_i,
       CAST(MAX(i) AS BIGINT) AS last_i
FROM generate_series(0, {_N_ROWS - 1}) AS t(i)
GROUP BY 1
ORDER BY 1
"""


@query("source_python_datasource", oracle=_PYSOURCE_ORACLE)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read a custom PYTHON DataSource (Spark 4 first-class API) and
    aggregate it: the seeded feed declares its schema, splits into
    {parts} InputPartitions (one task each), and streams rows from a
    per-partition generator — the Spark-native replacement for the
    reference's driver-side fetch loop. The per-bucket aggregate
    (count, exact score sum in cents, id range) hash-matches a DuckDB
    generate_series replay, proving the source delivered every row of
    every partition exactly once.

    `sf_dir` is unused: the source IS the data (options control row
    count), which also makes this query scale-factor-invariant.
    """
    _register(spark)
    feed = (
        spark.read.format("seeded_feed")
        .option("n", _N_ROWS)
        .option("partitions", _N_PARTS)
        .load()
    )
    return (
        feed.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum("score").alias("score_sum"),
            F.min("i").alias("first_i"),
            F.max("i").alias("last_i"),
        )
        .orderBy("bucket")
    )


source_python_datasource.__doc__ = source_python_datasource.__doc__.format(
    parts=_N_PARTS
)
