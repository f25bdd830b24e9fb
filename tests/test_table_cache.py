"""Contract tests for the per-session loaded-DataFrame memo in catalog.table.

The cache exists to stop every registry query from re-paying the eager
driver-side parquet schema resolution (file listing + footer read) that
``spark.read.parquet`` does on each call. The contract:

  1. same session + same files  -> the identical DataFrame object (hit);
  2. rewriting the file in place -> a fresh load (file-identity miss), so a
     changed fixture can never be served a stale schema/plan;
  3. the cached plan still reads CURRENT data at execution time (the memo
     caches the logical plan, never results).
"""

from __future__ import annotations

import os
import shutil

from etl_pipeline_with_alpha_vantage_spark.catalog import table


def test_cache_hit_same_session(spark, sf_dir):
    a = table(spark, sf_dir, "nation")
    b = table(spark, sf_dir, "nation")
    assert a is b


def test_cache_miss_on_rewrite(spark, sf_dir, tmp_path):
    d = str(tmp_path)
    src = os.path.join(sf_dir, "nation.parquet")
    dst = os.path.join(d, "nation.parquet")
    shutil.copy(src, dst)
    a = table(spark, d, "nation")
    n_before = a.count()

    # Rewrite the file in place with fewer rows (and bump mtime): identity
    # (mtime_ns, size) changes, so the next load must miss the cache.
    sub = spark.read.parquet(dst).limit(3)
    pdf = sub.toPandas()
    os.remove(dst)
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pandas(pdf), dst)

    b = table(spark, d, "nation")
    assert a is not b
    assert b.count() == 3
    assert n_before > 3


def test_cached_plan_is_lazy_not_results(spark, sf_dir):
    # The memo stores a logical plan; executing it twice re-scans files,
    # so two counts agree and nothing is pinned in executor memory.
    df = table(spark, sf_dir, "region")
    assert df.count() == table(spark, sf_dir, "region").count()
    assert not df.is_cached


def test_connect_fallbacks_without_sparkcontext(spark, sf_dir):
    """The Connect-degradation seam, pinned without a Connect server:
    a session wrapper whose sparkContext raises must still let spread()
    fall back to the shuffle conf + input-file proxy (single-file scan
    repartitions to the conf value, non-file plans pass through
    untouched)."""
    from etl_pipeline_with_alpha_vantage_spark.catalog import spread, table

    class NoContext:
        """Proxy that hides sparkContext, as a Connect client does."""

        def __init__(self, real):
            self._real = real

        def __getattr__(self, name):
            if name == "sparkContext":
                raise AttributeError("no sparkContext on Connect")
            return getattr(self._real, name)

    df = table(spark, sf_dir, "orders")

    class FrameNoContext:
        def __init__(self, real):
            self._real = real

        @property
        def sparkSession(self):
            return NoContext(self._real.sparkSession)

        def __getattr__(self, name):
            return getattr(self._real, name)

    out = spread(FrameNoContext(df))
    conf_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # single-file fixture scan -> repartitioned to the conf target
    assert out.rdd.getNumPartitions() == conf_n
    # non-file plan (no inputFiles) -> passes through un-shuffled
    mem = spark.range(10)
    out2 = spread(FrameNoContext(mem))
    assert out2 is mem or out2.rdd.getNumPartitions() == mem.rdd.getNumPartitions()
