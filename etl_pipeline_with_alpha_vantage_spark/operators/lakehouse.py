"""Lakehouse storage behaviors: schema evolution across write epochs.

The reference's warehouse loads assume a frozen schema (`etl.py`'s fixed
DDL); real lakes accrete columns over time. Spark's parquet reader
handles this natively with `mergeSchema` — old files project the unioned
schema with nulls — and this operator proves the semantics end-to-end
by writing two epochs with DIFFERENT columns and reading them back as
one relation.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import fixture_dir, table
from ..functions.exact import cents, dsum
from ..registry import query

_E1_ROWS = 1000  # epoch 1: (id, qty)
_E2_ROWS = 1000  # epoch 2: (id, price) — qty dropped, price added

_EVOLVE_ORACLE = f"""
WITH e1 AS (
    SELECT i AS id, CAST(i % 7 AS BIGINT) AS qty,
           CAST(NULL AS DOUBLE) AS price
    FROM generate_series(0, {_E1_ROWS - 1}) t(i)
),
e2 AS (
    SELECT i AS id, CAST(NULL AS BIGINT) AS qty,
           CAST((i * 31) % 500 AS DOUBLE) / 100.0 AS price
    FROM generate_series({_E1_ROWS}, {_E1_ROWS + _E2_ROWS - 1}) t(i)
),
merged AS (SELECT * FROM e1 UNION ALL SELECT * FROM e2)
SELECT CAST(COUNT(*) AS BIGINT)              AS n_rows,
       CAST(COUNT(*) - COUNT(qty) AS BIGINT) AS null_qty,
       CAST(COUNT(*) - COUNT(price) AS BIGINT) AS null_price,
       CAST(SUM(qty) AS BIGINT)              AS qty_total,
       CAST(SUM(CAST(round(price * 100) AS BIGINT)) / 100.0 AS DOUBLE)
           AS price_total
FROM merged
"""


def _evolve_fixture(spark: SparkSession) -> str:
    """The two deterministic write epochs; they read no table."""

    def write(base: str) -> None:
        e1 = spark.range(0, _E1_ROWS).select(
            F.col("id"), (F.col("id") % 7).alias("qty")
        )
        e1.write.mode("overwrite").parquet(os.path.join(base, "epoch=1"))
        e2 = spark.range(_E1_ROWS, _E1_ROWS + _E2_ROWS).select(
            F.col("id"),
            (((F.col("id") * 31) % 500).cast("double") / 100.0).alias("price"),
        )
        e2.write.mode("overwrite").parquet(os.path.join(base, "epoch=2"))

    return fixture_dir(spark, "evolve", "", (), write)


@query("schema_evolution_merge", oracle=_EVOLVE_ORACLE)
def schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across parquet write epochs, read back as ONE
    relation via `mergeSchema`: epoch 1 carries (id, qty), epoch 2
    drops qty and adds price; the merged scan projects the unioned
    schema and old files surface nulls for columns they predate. The
    aggregate audits exactly that contract — row counts, null counts
    per evolved column, and exact totals.

    Scale shape: mergeSchema reconciles FOOTERS (schema metadata), not
    data — at 100 TB the read cost is unchanged and column pruning
    still applies per-file; the write here is a dust-sized fixture into
    a session temp dir to make the behavior testable hermetically.
    sf_dir is unused: the epochs are deterministic integer derivations
    so the generate_series oracle replays them exactly.
    """
    merged = spark.read.option("mergeSchema", "true").parquet(
        _evolve_fixture(spark)
    )
    return merged.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.count("qty")).alias("null_qty"),
        (F.count(F.lit(1)) - F.count("price")).alias("null_price"),
        F.sum("qty").alias("qty_total"),
        dsum("price").alias("price_total"),
    )


# --------------------------------------------------------------------------
# Copy-on-write MERGE INTO on partitioned parquet (SURVEY.md §2 L2)
# --------------------------------------------------------------------------

_MERGE_SEGS = ("AUTOMOBILE", "BUILDING")  # partitions the merge touches

_MERGE_ORACLE = f"""
WITH tgt AS (
    SELECT c_custkey, CAST(c_nationkey AS INTEGER) AS c_nationkey,
           CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_cents,
           c_mktsegment
    FROM customer
),
src AS (
    SELECT c_custkey, c_nationkey, acctbal_cents + 12345 AS acctbal_cents,
           c_mktsegment, FALSE AS is_del
    FROM tgt
    WHERE c_mktsegment IN ('AUTOMOBILE', 'BUILDING') AND c_custkey % 7 = 3
    UNION ALL
    SELECT c_custkey, c_nationkey, acctbal_cents, c_mktsegment, TRUE
    FROM tgt
    WHERE c_mktsegment IN ('AUTOMOBILE', 'BUILDING')
      AND c_custkey % 13 = 0 AND c_custkey % 7 <> 3
    UNION ALL
    SELECT c_custkey + (SELECT MAX(c_custkey) FROM tgt),
           CAST(0 AS INTEGER), CAST(777700 AS BIGINT),
           'BUILDING', FALSE
    FROM tgt
    WHERE c_mktsegment = 'AUTOMOBILE' AND c_custkey % 11 = 5
),
merged AS (
    SELECT t.c_custkey, t.c_nationkey, t.acctbal_cents, t.c_mktsegment
    FROM tgt t
    WHERE NOT EXISTS (
        SELECT 1 FROM src s
        WHERE s.c_custkey = t.c_custkey
          AND s.c_mktsegment = t.c_mktsegment
    )
    UNION ALL
    SELECT c_custkey, c_nationkey, acctbal_cents, c_mktsegment
    FROM src WHERE NOT is_del
)
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT)       AS n_rows,
       CAST(SUM(acctbal_cents) AS BIGINT) AS acctbal_cents_total,
       CAST(SUM(c_custkey) AS BIGINT) AS custkey_sum
FROM merged
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""

def _max_custkey(tgt: DataFrame) -> int:
    """MAX(c_custkey) of the fixture target — the offset that keeps
    synthetic insert keys disjoint from every real key at ANY scale
    factor. Bounded 1-row collect."""
    return int(tgt.agg(F.max("c_custkey")).collect()[0][0])


def _merge_change_set(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The merge target (a customer projection) and the deterministic
    change set both merge fixtures apply: updates + deletes in two
    segments, inserts into one."""
    tgt = table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_nationkey").cast("int").alias("c_nationkey"),
        cents("c_acctbal").alias("acctbal_cents"),
        "c_mktsegment",
    )
    in_segs = F.col("c_mktsegment").isin(*_MERGE_SEGS)
    updates = tgt.filter(in_segs & (F.col("c_custkey") % 7 == 3)).select(
        "c_custkey",
        "c_nationkey",
        (F.col("acctbal_cents") + 12345).alias("acctbal_cents"),
        "c_mktsegment",
        F.lit(False).alias("is_del"),
    )
    deletes = tgt.filter(
        in_segs
        & (F.col("c_custkey") % 13 == 0)
        & (F.col("c_custkey") % 7 != 3)
    ).select(
        "c_custkey",
        "c_nationkey",
        "acctbal_cents",
        "c_mktsegment",
        F.lit(True).alias("is_del"),
    )
    inserts = tgt.filter(
        (F.col("c_mktsegment") == "AUTOMOBILE") & (F.col("c_custkey") % 11 == 5)
    ).select(
        # Synthetic insert keys sit ABOVE the table's real key range —
        # a fixed +1M offset would collide with genuine custkeys at
        # sf>=10 and make the delete path eat innocent base rows (and,
        # under merge-on-read, the DV deletes by key). 1-row scalar
        # collect (bounded), mirrored by the oracle's scalar subquery.
        (F.col("c_custkey") + _max_custkey(tgt)).alias("c_custkey"),
        F.lit(0).cast("int").alias("c_nationkey"),
        F.lit(777_700).cast("long").alias("acctbal_cents"),
        F.lit("BUILDING").alias("c_mktsegment"),
        F.lit(False).alias("is_del"),
    )
    return tgt, updates.unionByName(deletes).unionByName(inserts)


def _merge_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Build a segment-partitioned customer table, apply one
    deterministic copy-on-write MERGE of the change set, and return the
    table path."""
    from ..sinks.maintenance import merge_into  # noqa: PLC0415

    def write(base: str) -> None:
        tgt, source = _merge_change_set(spark, sf_dir)
        tgt.write.mode("overwrite").partitionBy("c_mktsegment").parquet(base)
        merge_into(
            spark,
            base,
            source,
            key_cols=["c_custkey"],
            partition_col="c_mktsegment",
            delete_col="is_del",
        )

    return fixture_dir(spark, "merge", sf_dir, ("customer",), write)


@query("lakehouse_merge_cow", oracle=_MERGE_ORACLE)
def lakehouse_merge_cow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level MERGE INTO (upsert + delete + insert) on a
    hive-partitioned parquet table WITHOUT a table format — the
    copy-on-write rewrite touches only the partitions present in the
    change set (`sinks.maintenance.merge_into`; untouched partition
    files stay byte-identical, proven in tests/test_layout.py). The
    query audits the post-merge table per segment: row count, exact
    integer-cent balance total, and the custkey checksum — any dropped
    delete, double-applied update, or misplaced insert shifts at least
    one of them.

    Scale shape: the merge anti-joins ONLY touched-partition rows on
    the merge key and dynamic-overwrites exactly those directories —
    O(changed partitions), never O(table); the audit read then prunes
    nothing (full-table aggregate) but is one partial-agg shuffle.
    Reference parity: generalizes the reference's dedup-on-append load
    (`/root/reference/etl.py:115-156` INSERT IGNORE) to full MERGE
    semantics (SURVEY.md §2 L2).
    """
    merged = spark.read.parquet(_merge_fixture(spark, sf_dir))
    return (
        merged.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("acctbal_cents").alias("acctbal_cents_total"),
            F.sum("c_custkey").alias("custkey_sum"),
        )
        .orderBy("c_mktsegment")
    )


# --------------------------------------------------------------------------
# Snapshot log: time travel + rollback (SURVEY.md §2 L2 family)
# --------------------------------------------------------------------------

_TT_ORACLE = """
WITH o AS (
    SELECT o_orderkey,
           CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
    FROM orders
),
v1 AS (SELECT * FROM o WHERE o_orderkey % 4 = 0),
v2 AS (SELECT * FROM o WHERE o_orderkey % 4 IN (0, 1)),
v3 AS (SELECT * FROM o WHERE o_orderkey % 4 IN (2, 3)),
v4 AS (SELECT * FROM v2),
u AS (
    SELECT 1 AS version, * FROM v1
    UNION ALL SELECT 2, * FROM v2
    UNION ALL SELECT 3, * FROM v3
    UNION ALL SELECT 4, * FROM v4
)
SELECT CAST(version AS BIGINT)        AS version,
       CAST(COUNT(*) AS BIGINT)       AS n_rows,
       CAST(SUM(price_cents) AS BIGINT) AS price_cents_total,
       CAST(SUM(o_orderkey) AS BIGINT)  AS orderkey_sum
FROM u
GROUP BY version
ORDER BY version
"""

def _time_travel_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Commit four snapshot versions of an orders slice: two appends,
    one overwrite, then a rollback to version 2."""
    from ..sinks.snapshots import rollback, snapshot_commit  # noqa: PLC0415

    def write(base: str) -> None:
        o = table(spark, sf_dir, "orders").select(
            "o_orderkey",
            cents("o_totalprice").alias("price_cents"),
        )
        snapshot_commit(
            spark, base, o.filter(F.col("o_orderkey") % 4 == 0), mode="append"
        )
        snapshot_commit(
            spark, base, o.filter(F.col("o_orderkey") % 4 == 1), mode="append"
        )
        snapshot_commit(
            spark, base, o.filter((F.col("o_orderkey") % 4).isin(2, 3)),
            mode="overwrite",
        )
        rollback(spark, base, 2)

    return fixture_dir(spark, "snap", sf_dir, ("orders",), write)


@query("lakehouse_time_travel", oracle=_TT_ORACLE)
def lakehouse_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-log time travel: four committed versions of an orders
    slice (append, append, overwrite, rollback-to-v2), each read back
    BY VERSION and audited with exact totals — append must contain its
    parent, overwrite must not, and the rollback read must equal the
    version-2 read although it is a distinct later commit
    (`sinks.snapshots`: immutable data files + one JSON manifest per
    version, Delta-RESTORE-style rollback).

    Scale shape: manifests are O(files) JSON, never data-sized; a
    versioned read plans a parquet scan over exactly the manifest's
    files, so time travel costs the same as a plain read of that
    version's data. At 100 TB the log is what makes "train on the
    corpus as of version N" reproducible while ingestion keeps
    committing.
    """
    base = _time_travel_fixture(spark, sf_dir)
    from ..sinks.snapshots import read_snapshot  # noqa: PLC0415

    reads = [
        read_snapshot(spark, base, v).withColumn("version", F.lit(v))
        for v in (1, 2, 3, 4)
    ]
    u = reads[0]
    for r in reads[1:]:
        u = u.unionByName(r)
    return (
        u.groupBy("version")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("price_cents").alias("price_cents_total"),
            F.sum("o_orderkey").alias("orderkey_sum"),
        )
        .withColumn("version", F.col("version").cast("long"))
        .orderBy("version")
    )


# --------------------------------------------------------------------------
# Merge-on-read twin: deletion vector + delta files, zero base rewrites
# --------------------------------------------------------------------------

def _mor_fixture(spark: SparkSession, sf_dir: str) -> tuple[str, str, str]:
    """Stage the SAME change set as _merge_fixture, but merge-on-read
    style: (base, deletion-vector, delta) directories. The base is
    never rewritten — updates become DV-delete + delta-append, deletes
    only a DV entry, inserts only a delta row."""

    def write(root: str) -> None:
        tgt, source = _merge_change_set(spark, sf_dir)
        tgt.write.mode("overwrite").partitionBy("c_mktsegment").parquet(
            os.path.join(root, "base")
        )
        # DV: every source key invalidates its base row (an update is
        # delete + re-append under MOR); delta: the surviving new rows.
        source.select("c_custkey", "c_mktsegment").write.mode(
            "overwrite"
        ).parquet(os.path.join(root, "dv"))
        source.filter(~F.col("is_del")).drop("is_del").write.mode(
            "overwrite"
        ).parquet(os.path.join(root, "delta"))

    root = fixture_dir(spark, "mor", sf_dir, ("customer",), write)
    return tuple(os.path.join(root, d) for d in ("base", "dv", "delta"))


def mor_read(
    spark: SparkSession, base: str, dv: str, delta: str
) -> DataFrame:
    """The merge-on-read scan: base rows minus the deletion vector,
    plus the delta files. The DV is change-set-sized, so it broadcasts;
    the anti-join never shuffles the base."""
    base_df = spark.read.parquet(base)
    dv_df = spark.read.parquet(dv)
    delta_df = spark.read.parquet(delta)
    return base_df.join(
        F.broadcast(dv_df), ["c_custkey", "c_mktsegment"], "left_anti"  # bounded: deletion vector (change-set-sized by contract)
    ).unionByName(delta_df)


@query("lakehouse_merge_mor", oracle=_MERGE_ORACLE)
def lakehouse_merge_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MERGE-ON-READ twin of lakehouse_merge_cow: the identical
    change set lands as a deletion vector + delta files and NO base
    file is rewritten (Iceberg position/equality deletes, Delta
    deletion vectors) — write cost O(changes) instead of O(changed
    partitions), read cost one broadcast anti-join until compaction
    folds the DV in. The audit aggregate is identical to the COW
    query's and shares its oracle verbatim, proving COW ≡ MOR on the
    same changes (also asserted row-for-row in tests/test_layout.py).

    Scale shape: the DV is change-set-sized → broadcast anti-join, the
    base never shuffles on read; the trade is per-read work for
    zero-rewrite ingest — exactly when streaming upserts outpace
    compaction at 100 TB.
    """
    base, dv, delta = _mor_fixture(spark, sf_dir)
    return (
        mor_read(spark, base, dv, delta)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("acctbal_cents").alias("acctbal_cents_total"),
            F.sum("c_custkey").alias("custkey_sum"),
        )
        .orderBy("c_mktsegment")
    )


# --------------------------------------------------------------------------
# Z-order clustering + file-skipping audit (Delta OPTIMIZE ZORDER device)
# --------------------------------------------------------------------------

_Z_BITS = 8          # 8 bits per dimension -> 16-bit z-values
_Z_FILES = 16        # target file count per layout
_Z_BOX = (64, 127)   # the query box, in bucket space, on BOTH dimensions


def _interleave_sql(bx: str, by: str, div: str) -> str:
    """Bit-interleave two {0..255} bucket ids into a 16-bit Morton
    z-value using PURE integer arithmetic (div/mod/multiply) so the
    identical formula runs on Spark (`div`) and DuckDB (`//`) — bit i
    of bx lands at 2i+1, bit i of by at 2i."""
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"((({bx} {div} {1 << i}) % 2) * {1 << (2 * i + 1)})")
        terms.append(f"((({by} {div} {1 << i}) % 2) * {1 << (2 * i)})")
    return "(" + " + ".join(terms) + ")"


def _zorder_sql(div: str, epoch_day: str) -> str:
    """The whole audit as one SQL text, parameterized by the
    integer-division operator and the days-since-epoch spelling (Spark
    ``datediff(d, DATE '1970-01-01')`` vs DuckDB date subtraction);
    everything else is identical bigint arithmetic."""
    lo, hi = _Z_BOX
    z = _interleave_sql("bx", "by", div)
    zdiv = 1 << (2 * _Z_BITS)  # 65536
    bdiv = 1 << _Z_BITS        # 256
    day = epoch_day.format(col="CAST(o_orderdate AS DATE)")
    day_o = epoch_day.format(col="CAST(o.o_orderdate AS DATE)")
    return f"""
WITH bounds AS (
    SELECT MIN(o_custkey) AS ck_lo, MAX(o_custkey) AS ck_hi,
           MIN({day}) AS d_lo, MAX({day}) AS d_hi
    FROM orders
),
bucketed AS (
    SELECT
        ((o.o_custkey - b.ck_lo) * {bdiv})
            {div} (b.ck_hi - b.ck_lo + 1) AS bx,
        (({day_o} - b.d_lo)
            * {bdiv}) {div} (b.d_hi - b.d_lo + 1) AS by
    FROM orders o, bounds b
),
assigned AS (
    SELECT 'zorder' AS layout,
           ({z} * {_Z_FILES}) {div} {zdiv} AS file_id, bx, by
    FROM bucketed
    UNION ALL
    SELECT 'linear' AS layout,
           (by * {_Z_FILES}) {div} {bdiv} AS file_id, bx, by
    FROM bucketed
),
files AS (
    SELECT layout, file_id,
           MIN(bx) AS min_bx, MAX(bx) AS max_bx,
           MIN(by) AS min_by, MAX(by) AS max_by,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN bx BETWEEN {lo} AND {hi}
                          AND by BETWEEN {lo} AND {hi}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_match
    FROM assigned
    GROUP BY layout, file_id
)
SELECT layout,
       CAST(COUNT(*) AS BIGINT) AS files_total,
       CAST(SUM(CASE WHEN max_bx >= {lo} AND min_bx <= {hi}
                      AND max_by >= {lo} AND min_by <= {hi}
                     THEN 1 ELSE 0 END) AS BIGINT) AS files_hit,
       CAST(SUM(CASE WHEN max_bx >= {lo} AND min_bx <= {hi}
                      AND max_by >= {lo} AND min_by <= {hi}
                     THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
       CAST(SUM(n_match) AS BIGINT) AS rows_matching
FROM files
GROUP BY layout
ORDER BY layout
"""


@query(
    "layout_zorder_skipping",
    oracle=_zorder_sql("//", "({col} - DATE '1970-01-01')"),
)
def layout_zorder_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER clustering audit — Delta OPTIMIZE ZORDER / Iceberg
    sort-order's device, measured: bucket orders on two dimensions
    (custkey, order day) into 256 equi-width bins each, interleave the
    bits into a 16-bit Morton z-value, split the table into {nf} files
    by z-range, and compare against a LINEAR layout (sorted by date
    only) how many files a rectangular predicate (both dims in
    [{lo},{hi}] bucket space — a quarter of each) must scan given
    per-file min/max statistics. Z-ordering keeps BOTH dimensions'
    ranges tight per file, so the box prunes most files; the linear
    layout prunes on date but every surviving file spans the full
    custkey range — the exact reason multi-dimensional query workloads
    z-order at 100 TB (file-level min/max pruning is the first and
    cheapest filter a lakehouse applies).

    Cross-engine exactness: bucketing, bit interleave (pure div/mod
    arithmetic — no engine bitwise ops), file assignment and the
    min/max hit test are all bigint; the oracle is the SAME SQL text
    modulo the integer-division spelling (Spark ``div``, DuckDB
    ``//``).

    Scale shape: one scan + a 1-row bounds broadcast, a rows×2 narrow
    fan-out (one tuple per layout), one partial-aggregated shuffle to
    2×{nf} file-stat rows, and a dust aggregate. At production scale
    the file stats already exist in the table format's manifests, so
    only the final dust aggregation runs per query.
    """
    from ..catalog import register_views  # noqa: PLC0415

    # Canonical names bind through the memoized registrar only: an
    # ad-hoc createOrReplaceTempView of a subset desyncs its ident memo
    # (r12 optimization round).
    register_views(spark, sf_dir)
    return spark.sql(
        _zorder_sql("div", "datediff({col}, DATE '1970-01-01')")
    )


# --------------------------------------------------------------------------
# Small-file compaction planning (Delta OPTIMIZE / Iceberg rewrite_data_files)
# --------------------------------------------------------------------------

_COMPACT_TARGET = 2000   # target rows per output file (the 128MB analogue)
_COMPACT_FILES = 8       # synthetic files per partition (suppkey mod)


def _compact_sql(div: str) -> str:
    """Identical SQL text on both engines modulo the integer-division
    operator: build a synthetic file inventory (one 'file' per
    (ship-month, suppkey mod {f}) with its row count as the size), then
    plan compaction per partition by size-descending sequential fill —
    bin = (running_total - size) DIV target — and report the plan."""
    return f"""
WITH inventory AS (
    SELECT EXTRACT(YEAR FROM l_shipdate) * 100
               + EXTRACT(MONTH FROM l_shipdate) AS part_month,
           l_suppkey % {_COMPACT_FILES} AS file_key,
           CAST(COUNT(*) AS BIGINT) AS size_rows
    FROM lineitem
    GROUP BY 1, 2
),
planned AS (
    SELECT part_month, file_key, size_rows,
           (SUM(size_rows) OVER (
                PARTITION BY part_month
                ORDER BY size_rows DESC, file_key
                ROWS UNBOUNDED PRECEDING) - size_rows)
               {div} {_COMPACT_TARGET} AS bin_id
    FROM inventory
)
SELECT CAST(part_month AS BIGINT) AS part_month,
       CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(COUNT(DISTINCT bin_id) AS BIGINT) AS n_bins,
       CAST(SUM(size_rows) AS BIGINT) AS rows_total,
       CAST(MAX(size_rows) AS BIGINT) AS largest_file,
       CAST(SUM(CASE WHEN size_rows < {_COMPACT_TARGET // 2}
                     THEN 1 ELSE 0 END) AS BIGINT) AS small_files
FROM planned
GROUP BY part_month
ORDER BY part_month
"""


@query("lakehouse_compact_plan", oracle=_compact_sql("//"))
def lakehouse_compact_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file COMPACTION PLANNING — Delta OPTIMIZE / Iceberg
    rewrite_data_files' first phase, run as a query: from a per-
    partition file inventory (file → size), group files into output
    bins of ~{t} rows by size-descending sequential fill, and report
    per partition how many input files collapse into how many output
    bins plus the small-file count driving the rewrite. The inventory
    here is synthesized from lineitem ((ship-month, suppkey mod {f}) →
    row count) so the plan is scale-factor-reproducible and exactly
    DuckDB-oracled; against a real table format the same query runs
    off the manifest's (partition, file, size) listing directly.

    The fill rule — running-total-before-me DIV target — is
    deterministic (unique (size, file_key) sort), assigns oversized
    files their own bins, and is the associative kernel inside every
    production compactor; true first-fit-decreasing differs only on
    pathological size mixes while needing sequential state.

    Scale shape: one partial-aggregated shuffle builds the inventory
    (files, not rows, from then on); the planning window partitions by
    table-partition and orders BOUNDED file lists (≤{f} here, ≤O(10⁴)
    for a real day-partition) — never a global sort; the readout is a
    dust aggregate. At 100 TB the inventory comes from manifests, so
    planning cost is O(files), independent of data bytes.
    """
    from ..catalog import register_views  # noqa: PLC0415

    # Memoized registrar, not an ad-hoc bind (see lakehouse_zorder note).
    register_views(spark, sf_dir)
    return spark.sql(_compact_sql("div"))


lakehouse_compact_plan.__doc__ = lakehouse_compact_plan.__doc__.format(
    t=_COMPACT_TARGET, f=_COMPACT_FILES
)
