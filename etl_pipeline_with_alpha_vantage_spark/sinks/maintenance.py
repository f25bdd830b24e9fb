"""Warehouse layout maintenance (SURVEY.md §4.3).

Two layout levers a 100 TB warehouse lives or dies by:

- ``write_partitioned``: hive-style partition directories so date/key
  predicates prune entire directories at planning time (PartitionFilters
  in the scan — zero I/O for untouched partitions).
- ``compact``: small-file compaction. Streaming/incremental ingest leaves
  many ~KB files; scans then pay per-file open cost and lose row-group
  statistics. Rewriting a partition into ~target-size files restores scan
  efficiency. Idempotent per run (rewrite-then-swap within one call).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import cents


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """Hive-layout parquet write; partition columns become directories."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def compact(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> tuple[int, int]:
    """Rewrite a parquet directory into ⌈size/target⌉ files.

    Returns (files_before, files_after). The rewrite goes through a temp
    directory then swaps, so a crash mid-compaction leaves the original
    data intact. At real scale this runs per-partition (compact only the
    partitions whose small-file count crossed a threshold), driven by the
    same directory listing used here.
    """

    def parquet_files(p: str) -> list[str]:
        return [
            os.path.join(root, f)
            for root, _d, files in os.walk(p)
            for f in files
            if f.endswith(".parquet") or f.startswith("part-")
        ]

    before = parquet_files(path)
    total_bytes = sum(os.path.getsize(f) for f in before)
    n_files = max(1, -(-total_bytes // target_file_bytes))

    # Temp dir ADJACENT to the target (same parent → same filesystem), so
    # the final os.rename is atomic and can't raise EXDEV the way a /tmp
    # staging dir would when the warehouse lives on another mount.
    parent = os.path.dirname(os.path.abspath(path.rstrip("/"))) or "."
    tmp = tempfile.mkdtemp(prefix="compact_", dir=parent)
    swap = path.rstrip("/") + ".old"
    try:
        (
            spark.read.parquet(path)
            .repartition(n_files)
            .write.mode("overwrite")
            .parquet(tmp)
        )
        os.rename(path, swap)
        try:
            os.rename(tmp, path)
        except BaseException:
            # Restore the original so the data path is never left missing.
            os.rename(swap, path)
            raise
        shutil.rmtree(swap)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    return len(before), len(parquet_files(path))


def zorder_value(x, y, bits: int = 16):
    """Morton (Z-order) interleave of two rank columns into one long.

    Built from shift/mask expressions only (no UDF): bit i of x lands at
    position 2i, bit i of y at 2i+1. Inputs must already be ranks/buckets
    in [0, 2^bits).
    """
    x = F.col(x) if isinstance(x, str) else x
    y = F.col(y) if isinstance(y, str) else y
    z = F.lit(0).cast("long")
    for i in range(bits):
        bit = F.lit(1 << i)
        z = (
            z.bitwiseOR(F.shiftleft(x.bitwiseAND(bit), i))
            .bitwiseOR(F.shiftleft(y.bitwiseAND(bit), i + 1))
        )
    return z


def export_zorder(
    df: DataFrame,
    path: str,
    col_x: str,
    col_y: str,
    n_files: int,
    bits: int = 16,
) -> None:
    """Write ``df`` as ``n_files`` parquet files clustered on the Z-order
    curve of (col_x, col_y).

    Range-partitioning + sorting on the Morton value makes every output
    file cover a small rectangle in BOTH dimensions, so parquet min/max
    row-group statistics prune scans filtered on either column (or both) —
    the standard layout lever when a 100 TB table serves two independent
    predicate columns and a single-column sort would only prune one.

    Grid mapping is min-max scaling from a 1-row broadcast aggregate —
    fully distributed (a global ntile/percent_rank window would serialize
    the table through one partition). Heavily skewed distributions would
    want sampled quantile boundaries instead; min-max keeps the write
    path one pass + one tiny pre-pass, which is the right default.
    """
    nt = (1 << bits) - 1
    bounds = df.agg(
        F.min(col_x).alias("_xmin"),
        F.max(col_x).alias("_xmax"),
        F.min(col_y).alias("_ymin"),
        F.max(col_y).alias("_ymax"),
    )

    def scale(c, lo, hi):
        span = F.when(F.col(hi) != F.col(lo), F.col(hi) - F.col(lo)).otherwise(
            F.lit(1)
        )
        return F.least(
            F.lit(nt),
            F.floor((F.col(c) - F.col(lo)) / span * (nt + 1)).cast("long"),
        )

    ranked = (
        df.join(F.broadcast(bounds))  # bounded: 1-row global aggregate
        .withColumn("_zx", scale(col_x, "_xmin", "_xmax"))
        .withColumn("_zy", scale(col_y, "_ymin", "_ymax"))
        .drop("_xmin", "_xmax", "_ymin", "_ymax")
    )
    zed = ranked.withColumn("_z", zorder_value("_zx", "_zy", bits)).drop(
        "_zx", "_zy"
    )
    (
        zed.repartitionByRange(n_files, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


def export_sorted_shards(
    df: DataFrame, path: str, sort_col: str, n_shards: int
) -> None:
    """Training-data export: ``n_shards`` parquet files, globally range-
    partitioned and sorted on ``sort_col`` — shard i holds a contiguous,
    internally-sorted key range strictly below shard i+1's.

    ``repartitionByRange`` samples the key distribution (RangePartitioning
    exchange) so shards are balanced even under key skew, unlike a
    hash-modulo split; ``sortWithinPartitions`` then sorts each shard
    without any global merge. At 100 TB this is the layout that lets a
    training loader stream shards independently in key order and lets
    min/max row-group statistics prune point lookups — and it's exactly
    the plan shape of Spark's own global ``orderBy``, minus the
    final single-reader merge.
    """
    (
        df.repartitionByRange(n_shards, F.col(sort_col))
        .sortWithinPartitions(sort_col)
        .write.mode("overwrite")
        .parquet(path)
    )


# --------------------------------------------------------------------------
# Incremental rollup maintenance (partition-scoped refresh)
# --------------------------------------------------------------------------

def refresh_daily_rollup(
    spark: SparkSession,
    events_df: DataFrame,
    rollup_path: str,
    days: list[str] | None = None,
) -> int:
    """Maintain a daily (event_type, day) rollup table INCREMENTALLY:
    recompute only the named day-partitions and overwrite just those
    directories, leaving every other partition's files untouched.

    This is the materialized-aggregate maintenance loop every warehouse
    runs nightly: at 100 TB you never rebuild the rollup — late-arriving
    or corrected data invalidates a handful of day-partitions, and the
    refresh cost is O(changed days), not O(history). Mechanics:

    - the aggregate is partial-aggregated map-side before its single
      shuffle (same plan as a full build, just filtered to the days);
    - ``partitionOverwriteMode=dynamic`` scopes the overwrite to exactly
      the partitions present in the written frame — a crash mid-write
      never touches days outside the refresh set;
    - the day filter prunes the source scan at planning time when the
      source itself is day-partitioned (PartitionFilters), so the read
      side is also O(changed days).

    Returns the number of day-partitions refreshed (written + deleted).
    ``days=None`` performs the initial full build (all days present in
    the source).

    Vanished days: dynamic overwrite only rewrites partitions PRESENT in
    the written frame — a requested day whose recomputed aggregate is
    empty (every source row for it deleted) produces no partition to
    overwrite and would silently stay stale on disk. Those days are
    diffed out after the write and their directories deleted explicitly
    through the Hadoop FileSystem API (portable to HDFS/S3A, not just
    local disk), so the "refresh exactly these days" contract holds even
    when a day's data disappears entirely.
    """
    src = events_df
    if days is not None and "day" in src.columns:
        # Day-partitioned source (e.g. the streaming bronze layer): the
        # filter lands on the PARTITION column, so planning-time pruning
        # makes the read side genuinely O(changed days).
        src = src.filter(F.col("day").isin(days))
    agg = (
        src.withColumn("day", F.to_date("ts"))
        .groupBy("event_type", "day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents("value")).alias("value_cents"),
            F.count_distinct("user_id").alias("n_users"),
        )
    )
    if days is not None:
        agg = agg.filter(F.col("day").isin(days))
    # The tiny aggregate result is cached so the day count and the write
    # share ONE scan+aggregate of the source (agg output is O(days ×
    # types) rows, never fact-sized).
    agg = agg.persist()
    try:
        written_days = {
            r.day.isoformat()
            for r in agg.select("day").distinct().collect()
            if r.day is not None
        }
        (
            agg.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("day")
            .parquet(rollup_path)
        )
    finally:
        agg.unpersist()
    n_parts = len(written_days)
    if days is not None:
        vanished = set(days) - written_days
        n_parts += _delete_day_partitions(spark, rollup_path, sorted(vanished))
    return n_parts


def _delete_day_partitions(
    spark: SparkSession, rollup_path: str, days: list[str]
) -> int:
    """Drop ``day=<d>`` partition directories via the Hadoop FileSystem
    API (works on any Hadoop-compatible FS, unlike shutil). Returns how
    many existed and were removed."""
    return _delete_partitions(spark, rollup_path, "day", days)


def _delete_partitions(
    spark: SparkSession, path: str, partition_col: str, values: list[str]
) -> int:
    """Drop ``<col>=<value>`` partition directories via the Hadoop
    FileSystem API (works on any Hadoop-compatible FS, unlike shutil).
    Returns how many existed and were removed."""
    if not values:
        return 0
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    removed = 0
    for v in values:
        p = jvm.org.apache.hadoop.fs.Path(
            os.path.join(path, f"{partition_col}={v}")
        )
        fs = p.getFileSystem(hconf)
        if fs.exists(p):
            fs.delete(p, True)
            removed += 1
    return removed


def merge_into(
    spark: SparkSession,
    target_path: str,
    source: DataFrame,
    key_cols: list[str],
    partition_col: str,
    delete_col: str | None = None,
) -> dict[str, int]:
    """Copy-on-write row-level MERGE INTO a hive-partitioned parquet
    table — the lakehouse `MERGE` semantic (Delta/Iceberg's
    WHEN MATCHED UPDATE SET * / WHEN NOT MATCHED INSERT * / WHEN
    MATCHED AND <delete_col> THEN DELETE) without a table format,
    re-expressed at partition granularity:

    - ``source`` carries full rows in the target's schema, plus an
      optional boolean ``delete_col`` marking rows to delete. Matching
      is on ``key_cols`` WITHIN the row's ``partition_col`` value (the
      merge condition implicitly includes partition equality — the same
      contract that makes Delta MERGE prune files; a key can therefore
      not move between partitions in one merge).
    - Only partitions PRESENT in the source are read or rewritten:
      survivors = touched-target ANTI-JOIN source keys, then
      survivors ∪ non-delete source rows overwrite exactly those
      directories (``partitionOverwriteMode=dynamic``). Untouched
      partitions are never opened — their files stay byte-identical.
    - A partition whose merge result is EMPTY (every row deleted)
      produces nothing for dynamic overwrite to replace, so those
      directories are diffed out and deleted explicitly through the
      Hadoop FileSystem API — same vanished-partition contract as
      ``refresh_daily_rollup``.

    Contract: (key_cols, partition_col) must be unique within
    ``source`` — duplicate source keys make the update row
    nondeterministic (Delta raises the same error at runtime). A merge
    that deletes EVERY row leaves a directory with no parquet files:
    plain parquet cannot represent a schema'd empty table (table
    formats keep the schema in their log; the snapshot log documents
    the same empty-commit limit), so readers must treat a fileless
    table dir as empty.

    Scale shape: cost is O(touched partitions), never O(table). The
    anti-join shuffles only touched-partition rows keyed by the merge
    key; at 100 TB with date partitions and a daily CDC feed this is
    the standard upsert loop. Idempotent: re-running the same merge
    rewrites the same partitions to the same logical content.

    Returns stats: partitions touched / rewritten / deleted, and row
    counts (before/after over the touched partitions, upserts, deletes).
    Reference parity: the reference's load step dedups on append
    (`/root/reference/etl.py` INSERT IGNORE); MERGE is its general
    row-level form (SURVEY.md §2 L2).
    """
    join_cols = list(dict.fromkeys([*key_cols, partition_col]))
    src = source.persist()
    try:
        touched = sorted(
            str(r[0])
            for r in src.select(partition_col).distinct().collect()
            if r[0] is not None
        )
        target = spark.read.parquet(target_path)
        tgt_touched = target.filter(F.col(partition_col).isin(touched))
        rows_before = tgt_touched.count()

        if delete_col is not None:
            upserts = src.filter(~F.col(delete_col)).drop(delete_col)
            n_deletes = src.filter(F.col(delete_col)).count()
        else:
            upserts = src
            n_deletes = 0
        upserts = upserts.select(*target.columns)
        # Count BEFORE the overwrite: when the source derives from the
        # target (a self-merge, e.g. CDC tombstone GC), any post-write
        # scan of it can recompute over the rewritten files and fail on
        # the vanished parts.
        n_upserts = upserts.count()

        survivors = tgt_touched.join(
            src.select(*join_cols).distinct(), on=join_cols, how="left_anti"
        )
        # localCheckpoint (eager) TRUNCATES lineage before the overwrite:
        # when the source derives from the target (self-merge — CDC apply,
        # tombstone GC), a persist() is only best-effort, and an evicted
        # block recomputed mid-write would re-read partially rewritten
        # target files and corrupt the merge. Checkpointed blocks cannot
        # recompute; loss fails loudly instead of corrupting.
        merged = survivors.unionByName(upserts).localCheckpoint(eager=True)
        written = {
            str(r[0])
            for r in merged.select(partition_col).distinct().collect()
        }
        rows_after = merged.count()
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partition_col)
            .parquet(target_path)
        )
        vanished = sorted(set(touched) - written)
        n_deleted_parts = _delete_partitions(
            spark, target_path, partition_col, vanished
        )
        # Dynamic overwrite replaced files under target_path: drop the
        # session's shared file-status/plan cache entries for the path
        # so a reader holding (or newly building) a plan over the old
        # listing doesn't FAILED_READ_FILE on the vanished parts.
        spark.catalog.refreshByPath(target_path)
        return {
            "partitions_touched": len(touched),
            "partitions_rewritten": len(written),
            "partitions_deleted": n_deleted_parts,
            "rows_before": rows_before,
            "rows_after": rows_after,
            "n_upserts": n_upserts,
            "n_deletes": n_deletes,
        }
    finally:
        src.unpersist()
