"""Quant analytics over bar series — the queries a user of the
reference's OHLCV warehouse (`/root/reference/etl.py` loads daily
candles) runs next: moving-average crossover screens and drawdown risk
metrics. Both collapse the tick fact to a types×bars table FIRST, so
every rolling window and signal comparison operates on dust.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.exact import cents
from ..registry import query


# --------------------------------------------------------------------------
# Quant analytics over the bar series: SMA crossover signals
# --------------------------------------------------------------------------

_SMA_FAST = 5
_SMA_SLOW = 20

_SMA_CROSS_ORACLE = f"""
WITH bars AS (
    SELECT event_type,
           CAST(floor(epoch_us(ts) / 600000000) AS BIGINT) AS bar,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
),
sma AS (
    SELECT event_type, bar,
           CAST(SUM(cents) OVER wf AS DOUBLE) / SUM(n) OVER wf AS fast,
           CAST(SUM(cents) OVER ws AS DOUBLE) / SUM(n) OVER ws AS slow,
           COUNT(*) OVER ws AS n_slow
    FROM bars
    WINDOW wf AS (PARTITION BY event_type ORDER BY bar
                  ROWS BETWEEN {_SMA_FAST - 1} PRECEDING AND CURRENT ROW),
         ws AS (PARTITION BY event_type ORDER BY bar
                ROWS BETWEEN {_SMA_SLOW - 1} PRECEDING AND CURRENT ROW)
),
flagged AS (
    SELECT event_type, bar,
           CASE WHEN fast > slow THEN 1 ELSE 0 END AS above,
           lag(CASE WHEN fast > slow THEN 1 ELSE 0 END)
               OVER (PARTITION BY event_type ORDER BY bar) AS prev_above
    FROM sma WHERE n_slow = {_SMA_SLOW}
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_bars,
       CAST(SUM(CASE WHEN above = 1 AND prev_above = 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_golden_crosses,
       CAST(SUM(CASE WHEN above = 0 AND prev_above = 1
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_death_crosses,
       CAST(MIN(CASE WHEN above = 1 AND prev_above = 0 THEN bar END)
            AS BIGINT) AS first_golden_bar
FROM flagged
GROUP BY event_type
ORDER BY event_type
"""


@query("sma_crossover_signals", oracle=_SMA_CROSS_ORACLE)
def sma_crossover_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving-average crossover signals — the canonical trading screen a
    user of the reference's OHLCV warehouse runs next: fast ({f}-bar)
    vs slow ({s}-bar) volume-weighted SMAs over 10-minute bars, with
    golden/death crossings counted per event type (and the first golden
    cross located). Warm-up bars (incomplete slow window) are excluded,
    the standard convention.

    Scale shape: bars collapse the fact FIRST (one partial-aggregated
    shuffle onto types×bars), so both rolling frames, the lag, and the
    signal accounting all run over the dust-sized bar table inside ONE
    per-type sort window clustering — the fact is scanned once and
    never re-shuffled. Exactness: frame numerators/denominators are
    exact integer sums; each SMA is one IEEE division; the crossing
    comparison (fast > slow) is on identically-derived doubles.
    """
    ev = table(spark, sf_dir, "events")
    bars = (
        ev.groupBy(
            "event_type",
            F.floor(F.unix_micros("ts") / 600_000_000)
            .cast("long")
            .alias("bar"),
        )
        .agg(
            F.sum(cents("value")).alias("cents"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    wf = (
        Window.partitionBy("event_type")
        .orderBy("bar")
        .rowsBetween(-(_SMA_FAST - 1), 0)
    )
    ws = (
        Window.partitionBy("event_type")
        .orderBy("bar")
        .rowsBetween(-(_SMA_SLOW - 1), 0)
    )
    sma = bars.select(
        "event_type",
        "bar",
        (F.sum("cents").over(wf).cast("double") / F.sum("n").over(wf)).alias(
            "fast"
        ),
        (F.sum("cents").over(ws).cast("double") / F.sum("n").over(ws)).alias(
            "slow"
        ),
        F.count(F.lit(1)).over(ws).alias("n_slow"),
    ).filter(F.col("n_slow") == _SMA_SLOW)
    above = (F.col("fast") > F.col("slow")).cast("int")
    wl = Window.partitionBy("event_type").orderBy("bar")
    flagged = sma.select(
        "event_type",
        "bar",
        above.alias("above"),
        F.lag(above).over(wl).alias("prev_above"),
    )
    golden = (F.col("above") == 1) & (F.col("prev_above") == 0)
    death = (F.col("above") == 0) & (F.col("prev_above") == 1)
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_bars"),
            F.sum(golden.cast("long")).alias("n_golden_crosses"),
            F.sum(death.cast("long")).alias("n_death_crosses"),
            F.min(F.when(golden, F.col("bar"))).alias("first_golden_bar"),
        )
        .orderBy("event_type")
    )


sma_crossover_signals.__doc__ = sma_crossover_signals.__doc__.format(
    f=_SMA_FAST, s=_SMA_SLOW
)


# --------------------------------------------------------------------------
# Maximum drawdown per series
# --------------------------------------------------------------------------

_DRAWDOWN_ORACLE = """
WITH bars AS (
    SELECT event_type,
           CAST(floor(epoch_us(ts) / 600000000) AS BIGINT) AS bar,
           CAST(MAX(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS close_c
    FROM events GROUP BY 1, 2
),
runmax AS (
    SELECT event_type, bar, close_c,
           MAX(close_c) OVER (PARTITION BY event_type ORDER BY bar
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS peak_c
    FROM bars
),
dd AS (
    SELECT event_type, bar,
           CAST(round(CAST(peak_c - close_c AS DOUBLE) / peak_c * 1000000)
                AS BIGINT) AS dd_micro
    FROM runmax
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_bars,
       CAST(MAX(dd_micro) / 1000000.0 AS DOUBLE) AS max_drawdown,
       CAST(MIN(CASE WHEN dd_micro = (SELECT MAX(d2.dd_micro) FROM dd d2
                                      WHERE d2.event_type = dd.event_type)
                     THEN bar END) AS BIGINT) AS trough_bar
FROM dd
GROUP BY event_type
ORDER BY event_type
"""


@query("drawdown_max", oracle=_DRAWDOWN_ORACLE)
def drawdown_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown — the risk metric every OHLCV consumer computes:
    per event type, the largest fractional fall of the bar series from
    its running peak, and the (earliest) trough bar where it happened.

    Scale shape: bars aggregate the fact first; the running peak is one
    sort-window sweep over the dust-sized bar table, and the per-type
    argmax rides min_by on the micro-rounded drawdown (rounded BEFORE
    comparison, so Spark's min_by and the oracle's correlated-max pick
    the identical bar even at float ties). One fact shuffle total.
    """
    ev = table(spark, sf_dir, "events")
    bars = ev.groupBy(
        "event_type",
        F.floor(F.unix_micros("ts") / 600_000_000).cast("long").alias("bar"),
    ).agg(
        F.max(cents("value")).alias("close_c")
    )
    peak = F.max("close_c").over(
        Window.partitionBy("event_type")
        .orderBy("bar")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dd = bars.select(
        "event_type",
        "bar",
        cents((peak - F.col("close_c")).cast("double") / peak, 6)
        .alias("dd_micro"),
    )
    return (
        dd.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_bars"),
            (F.max("dd_micro") / 1_000_000.0)
            .cast("double")
            .alias("max_drawdown"),
            F.min_by(
                "bar", F.struct((-F.col("dd_micro")).alias("d"), F.col("bar"))
            ).alias("trough_bar"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Per-bar returns: realized volatility and cross-series correlation
# --------------------------------------------------------------------------

_RETURNS_BARS_SQL = """
bars AS (
    SELECT event_type,
           CAST(floor(epoch_us(ts) / 600000000) AS BIGINT) AS bar,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
),
lagged AS (
    SELECT event_type, bar, cents, n,
           lag(cents) OVER w AS prev_cents,
           lag(n) OVER w AS prev_n
    FROM bars
    WINDOW w AS (PARTITION BY event_type ORDER BY bar)
),
rets AS (
    SELECT event_type, bar,
           CAST(round(((CAST(cents AS DOUBLE) / n)
                       / (CAST(prev_cents AS DOUBLE)
                          / prev_n) - 1.0) * 1000000) AS BIGINT)
               AS ret_micro
    FROM lagged
    -- prev_cents = 0 would divide by a zero mean price: Spark's
    -- non-ANSI double division yields Infinity while DuckDB errors, so
    -- both sides drop such bars (mirrors rsi_indicator's l > 0 guard).
    WHERE prev_cents IS NOT NULL AND prev_cents <> 0
)"""
_VOLATILITY_ORACLE = f"""
WITH {_RETURNS_BARS_SQL}
SELECT event_type,
       CAST(COUNT(ret_micro) AS BIGINT) AS n_returns,
       CAST(round(CAST(SUM(ret_micro) AS DOUBLE) / COUNT(ret_micro)
                  / 1000000, 9) AS DOUBLE) AS mean_return,
       CAST(round(stddev_samp(ret_micro) / 1000000, 9) AS DOUBLE)
           AS volatility
FROM rets WHERE ret_micro IS NOT NULL
GROUP BY event_type
ORDER BY event_type
"""


@query("volatility_realized", oracle=_VOLATILITY_ORACLE)
def volatility_realized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Realized volatility: the standard deviation of per-bar fractional
    returns per series (plus the mean return) — the risk number quoted
    next to every drawdown. Returns derive from bar mean prices via
    lag, so one fact shuffle builds the bars and everything after rides
    the dust-sized bar table.

    Exactness: each return rounds to integer MICRO-units at birth (the
    PSI discipline), making the mean an exact-integer ratio; the stddev
    is the one genuinely order-sensitive reduction here, so it rounds
    to 9 dp — tighter than the 6-dp regression device because micro-int
    inputs bound the co-moment magnitudes.
    """
    ev = table(spark, sf_dir, "events")
    bars = ev.groupBy(
        "event_type",
        F.floor(F.unix_micros("ts") / 600_000_000).cast("long").alias("bar"),
    ).agg(
        F.sum(cents("value")).alias("cents"),
        F.count(F.lit(1)).alias("n"),
    )
    w = Window.partitionBy("event_type").orderBy("bar")
    price = F.col("cents").cast("double") / F.col("n")
    # prev_cents = 0 would divide by a zero mean price (Infinity under
    # Spark's non-ANSI doubles, an error in the DuckDB oracle) — drop
    # such bars on both sides, mirroring rsi_indicator's l > 0 guard.
    lagged = bars.withColumns(
        {
            "prev_cents": F.lag("cents").over(w),
            "prev_n": F.lag("n").over(w),
        }
    ).filter(F.col("prev_cents").isNotNull() & (F.col("prev_cents") != 0))
    prev = F.col("prev_cents").cast("double") / F.col("prev_n")
    rets = lagged.select(
        "event_type",
        "bar",
        cents(price / prev - 1.0, 6)
        .alias("ret_micro"),
    ).filter(F.col("ret_micro").isNotNull())
    return (
        rets.groupBy("event_type")
        .agg(
            F.count("ret_micro").alias("n_returns"),
            F.round(
                F.sum("ret_micro").cast("double")
                / F.count("ret_micro")
                / 1_000_000,
                9,
            )
            .cast("double")
            .alias("mean_return"),
            F.round(F.stddev_samp("ret_micro") / 1_000_000, 9)
            .cast("double")
            .alias("volatility"),
        )
        .orderBy("event_type")
    )


_RET_CORR_ORACLE = f"""
WITH {_RETURNS_BARS_SQL}
SELECT a.event_type AS series_a, b.event_type AS series_b,
       CAST(COUNT(*) AS BIGINT) AS n_bars,
       CAST(round(corr(a.ret_micro, b.ret_micro), 6) AS DOUBLE)
           AS return_corr
FROM rets a
JOIN rets b ON b.bar = a.bar AND a.event_type < b.event_type
WHERE a.ret_micro IS NOT NULL AND b.ret_micro IS NOT NULL
GROUP BY 1, 2
ORDER BY 1, 2
"""


@query("returns_correlation_pairs", oracle=_RET_CORR_ORACLE)
def returns_correlation_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-series return correlation — THE portfolio query: Pearson
    correlation of per-bar returns for every ordered series pair,
    aligned on the bar. The pair join is a self-join of the dust-sized
    rets table on bar (types² pairs of types×bars rows — never the
    fact), and corr rounds 6 dp per the co-moment device.
    """
    ev = table(spark, sf_dir, "events")
    bars = ev.groupBy(
        "event_type",
        F.floor(F.unix_micros("ts") / 600_000_000).cast("long").alias("bar"),
    ).agg(
        F.sum(cents("value")).alias("cents"),
        F.count(F.lit(1)).alias("n"),
    )
    w = Window.partitionBy("event_type").orderBy("bar")
    price = F.col("cents").cast("double") / F.col("n")
    # prev_cents = 0 would divide by a zero mean price (Infinity under
    # Spark's non-ANSI doubles, an error in the DuckDB oracle) — drop
    # such bars on both sides, mirroring rsi_indicator's l > 0 guard.
    lagged = bars.withColumns(
        {
            "prev_cents": F.lag("cents").over(w),
            "prev_n": F.lag("n").over(w),
        }
    ).filter(F.col("prev_cents").isNotNull() & (F.col("prev_cents") != 0))
    prev = F.col("prev_cents").cast("double") / F.col("prev_n")
    rets = lagged.select(
        "event_type",
        "bar",
        cents(price / prev - 1.0, 6)
        .alias("ret_micro"),
    ).filter(F.col("ret_micro").isNotNull())
    a = rets.select(
        F.col("event_type").alias("series_a"),
        "bar",
        F.col("ret_micro").alias("ra"),
    )
    b = rets.select(
        F.col("event_type").alias("series_b"),
        F.col("bar").alias("bar_b"),
        F.col("ret_micro").alias("rb"),
    )
    return (
        a.join(
            b,
            (F.col("bar") == F.col("bar_b"))
            & (F.col("series_a") < F.col("series_b")),
        )
        .groupBy("series_a", "series_b")
        .agg(
            F.count(F.lit(1)).alias("n_bars"),
            F.round(F.corr("ra", "rb"), 6).cast("double").alias("return_corr"),
        )
        .orderBy("series_a", "series_b")
    )


# --------------------------------------------------------------------------
# RSI — relative strength index over the bar series
# --------------------------------------------------------------------------

_RSI_N = 14

_RSI_ORACLE = f"""
WITH bars AS (
    SELECT event_type,
           CAST(floor(epoch_us(ts) / 600000000) AS BIGINT) AS bar,
           CAST(MAX(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS close_c
    FROM events GROUP BY 1, 2
),
moves AS (
    SELECT event_type, bar,
           GREATEST(close_c - lag(close_c) OVER w, 0) AS gain,
           GREATEST(lag(close_c) OVER w - close_c, 0) AS loss
    FROM bars
    WINDOW w AS (PARTITION BY event_type ORDER BY bar)
),
framed AS (
    SELECT event_type, bar,
           CAST(SUM(gain) OVER f AS BIGINT) AS g,
           CAST(SUM(loss) OVER f AS BIGINT) AS l,
           COUNT(gain) OVER f AS n
    FROM moves
    WINDOW f AS (PARTITION BY event_type ORDER BY bar
                 ROWS BETWEEN {_RSI_N - 1} PRECEDING AND CURRENT ROW)
),
rsi AS (
    SELECT event_type, bar,
           CAST(round(100.0 - 100.0 / (1.0 + CAST(g AS DOUBLE) / l)
                      , 6) AS DOUBLE) AS rsi
    FROM framed WHERE n = {_RSI_N} AND l > 0
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_bars,
       CAST(round(AVG(rsi), 6) AS DOUBLE) AS mean_rsi,
       CAST(SUM(CASE WHEN rsi > 70 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_overbought,
       CAST(SUM(CASE WHEN rsi < 30 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_oversold
FROM rsi
GROUP BY event_type
ORDER BY event_type
"""


@query("rsi_indicator", oracle=_RSI_ORACLE)
def rsi_indicator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RSI ({n}-bar, simple-average form): per-bar gains/losses from the
    close series, trailing-frame sums, RSI = 100 − 100/(1+G/L), with
    overbought (>70) / oversold (<30) bar counts per series — the
    momentum companion to the SMA crossover screen.

    Exactness: gains/losses are integer cents (GREATEST of integer
    differences), frame sums exact bigints; each bar's RSI is a short
    shape-identical IEEE chain rounded 6 dp at birth, and the per-type
    mean rounds 6 dp after an exact average of already-rounded values.
    Degenerate frames (no losses) and warm-up bars are excluded by the
    standard convention. Same one-fact-shuffle plan as the other quant
    screens — everything after the bar collapse rides dust.
    """
    ev = table(spark, sf_dir, "events")
    bars = ev.groupBy(
        "event_type",
        F.floor(F.unix_micros("ts") / 600_000_000).cast("long").alias("bar"),
    ).agg(
        F.max(cents("value")).alias("close_c")
    )
    w = Window.partitionBy("event_type").orderBy("bar")
    prev = F.lag("close_c").over(w)
    moves = bars.select(
        "event_type",
        "bar",
        F.greatest(F.col("close_c") - prev, F.lit(0)).alias("gain"),
        F.greatest(prev - F.col("close_c"), F.lit(0)).alias("loss"),
    )
    f = (
        Window.partitionBy("event_type")
        .orderBy("bar")
        .rowsBetween(-(_RSI_N - 1), 0)
    )
    framed = moves.select(
        "event_type",
        "bar",
        F.sum("gain").over(f).alias("g"),
        F.sum("loss").over(f).alias("l"),
        F.count("gain").over(f).alias("n"),
    ).filter((F.col("n") == _RSI_N) & (F.col("l") > 0))
    rsi = framed.select(
        "event_type",
        F.round(
            100.0 - 100.0 / (1.0 + F.col("g").cast("double") / F.col("l")), 6
        ).alias("rsi"),
    )
    return (
        rsi.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_bars"),
            F.round(F.avg("rsi"), 6).cast("double").alias("mean_rsi"),
            F.sum((F.col("rsi") > 70).cast("long")).alias("n_overbought"),
            F.sum((F.col("rsi") < 30).cast("long")).alias("n_oversold"),
        )
        .orderBy("event_type")
    )


rsi_indicator.__doc__ = rsi_indicator.__doc__.format(n=_RSI_N)


# --------------------------------------------------------------------------
# Bollinger band breakouts — exact-variance bands over the bar series
# --------------------------------------------------------------------------

_BB_N = 20

_BOLLINGER_ORACLE = f"""
WITH bars AS (
    SELECT event_type,
           CAST(floor(epoch_us(ts) / 600000000) AS BIGINT) AS bar,
           CAST(MAX(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS close_c
    FROM events GROUP BY 1, 2
),
framed AS (
    SELECT event_type, bar, close_c,
           CAST(SUM(close_c) OVER f AS BIGINT) AS s,
           CAST(SUM(close_c * close_c) OVER f AS BIGINT) AS q,
           COUNT(*) OVER f AS n
    FROM bars
    WINDOW f AS (PARTITION BY event_type ORDER BY bar
                 ROWS BETWEEN {_BB_N - 1} PRECEDING AND CURRENT ROW)
),
banded AS (
    SELECT event_type, close_c,
           CAST(s AS DOUBLE) / n AS mid,
           2.0 * sqrt((q - CAST(s AS DOUBLE) * s / n) / (n - 1)) AS spread
    FROM framed WHERE n = {_BB_N}
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_bars,
       CAST(SUM(CASE WHEN close_c > mid + spread THEN 1 ELSE 0 END)
            AS BIGINT) AS n_breakout_up,
       CAST(SUM(CASE WHEN close_c < mid - spread THEN 1 ELSE 0 END)
            AS BIGINT) AS n_breakout_down
FROM banded
GROUP BY event_type
ORDER BY event_type
"""


@query("bollinger_breakouts", oracle=_BOLLINGER_ORACLE)
def bollinger_breakouts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger-band breakout counts ({n}-bar, ±2σ): closes above or
    below the trailing mean ± 2×sample-stddev band per series — the
    mean-reversion screen beside RSI's momentum view.

    Exactness device: the frame stddev is NOT computed by the engines'
    stddev aggregate (frame merge order differs in the last ulps);
    instead the frame keeps exact integer Σx and Σx², and the variance
    comes from the one-pass identity (q − s²/n)/(n−1) — the
    embedding_class_scatter discipline applied to a window frame, so
    both engines evaluate the identical IEEE expression and the
    breakout comparisons agree bit-for-bit.
    """
    ev = table(spark, sf_dir, "events")
    bars = ev.groupBy(
        "event_type",
        F.floor(F.unix_micros("ts") / 600_000_000).cast("long").alias("bar"),
    ).agg(
        F.max(cents("value")).alias("close_c")
    )
    f = (
        Window.partitionBy("event_type")
        .orderBy("bar")
        .rowsBetween(-(_BB_N - 1), 0)
    )
    framed = bars.select(
        "event_type",
        "close_c",
        F.sum("close_c").over(f).alias("s"),
        F.sum(F.col("close_c") * F.col("close_c")).over(f).alias("q"),
        F.count(F.lit(1)).over(f).alias("n"),
    ).filter(F.col("n") == _BB_N)
    mid = F.col("s").cast("double") / F.col("n")
    spread = 2.0 * F.sqrt(
        (F.col("q") - F.col("s").cast("double") * F.col("s") / F.col("n"))
        / (F.col("n") - 1)
    )
    return (
        framed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_bars"),
            F.sum((F.col("close_c") > mid + spread).cast("long")).alias(
                "n_breakout_up"
            ),
            F.sum((F.col("close_c") < mid - spread).cast("long")).alias(
                "n_breakout_down"
            ),
        )
        .orderBy("event_type")
    )


bollinger_breakouts.__doc__ = bollinger_breakouts.__doc__.format(n=_BB_N)


# --------------------------------------------------------------------------
# ATR — average true range (SMA form) over OHLC bars
# --------------------------------------------------------------------------

_ATR_N = 14

_HLC_BARS_SQL = """
pricked AS (
    SELECT event_type,
           CAST(floor(epoch_us(ts) / 600000000) AS BIGINT) AS bar,
           event_id, epoch_us(ts) AS t_us,
           CAST(round(value * 100) AS BIGINT) AS cents
    FROM events
),
hlc AS (
    SELECT event_type, bar,
           CAST(MAX(cents) AS BIGINT) AS high_c,
           CAST(MIN(cents) AS BIGINT) AS low_c,
           CAST(MAX(CASE WHEN rn_last = 1 THEN cents END) AS BIGINT)
               AS close_c
    FROM (
        SELECT *,
               row_number() OVER (PARTITION BY event_type, bar
                                  ORDER BY t_us DESC, event_id DESC)
                   AS rn_last
        FROM pricked
    )
    GROUP BY 1, 2
)"""

_ATR_ORACLE = f"""
WITH {_HLC_BARS_SQL},
tr AS (
    SELECT event_type, bar,
           CASE WHEN lag(close_c) OVER w IS NULL THEN high_c - low_c
                ELSE GREATEST(high_c - low_c,
                              abs(high_c - lag(close_c) OVER w),
                              abs(low_c - lag(close_c) OVER w))
           END AS tr_c
    FROM hlc
    WINDOW w AS (PARTITION BY event_type ORDER BY bar)
),
atr AS (
    SELECT event_type, bar,
           CAST(SUM(tr_c) OVER f AS DOUBLE) / {_ATR_N} AS atr_c,
           COUNT(*) OVER f AS n
    FROM tr
    WINDOW f AS (PARTITION BY event_type ORDER BY bar
                 ROWS BETWEEN {_ATR_N - 1} PRECEDING AND CURRENT ROW)
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_bars,
       CAST(round(AVG(atr_c) / 100.0, 6) AS DOUBLE) AS mean_atr,
       CAST(round(MAX(atr_c) / 100.0, 6) AS DOUBLE) AS max_atr
FROM atr WHERE n = {_ATR_N}
GROUP BY event_type
ORDER BY event_type
"""


@query("atr_indicator", oracle=_ATR_ORACLE)
def atr_indicator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ATR ({n}-bar, SMA form): per-bar true range —
    GREATEST(high−low, |high−prev_close|, |low−prev_close|), first bar
    high−low — averaged over a trailing {n}-bar frame; per series the
    mean and max ATR over full frames. Volatility sizing for the
    reference's OHLCV domain (position sizing, stop placement).

    Exactness: true range is integer-cent arithmetic (GREATEST/abs of
    bigint differences), the frame sum is an exact bigint, and the
    single division by {n} then by 100 is an IEEE chain rounded 6 dp.
    The SMA form (not Wilder's recursive smoothing) keeps ATR a pure
    window frame — no recurrence, so the whole indicator is one bar
    collapse plus windows over dust. Close = last tick by (ts,
    event_id), same convention as ohlc_resample_bars.
    """
    ev = table(spark, sf_dir, "events")
    value_c = cents("value")
    bars = ev.select(
        "event_type",
        F.floor(F.unix_micros("ts") / 600_000_000).cast("long").alias("bar"),
        value_c.alias("cents"),
        F.struct(F.unix_micros("ts").alias("t"), "event_id").alias("okey"),
    ).groupBy("event_type", "bar").agg(
        F.max("cents").alias("high_c"),
        F.min("cents").alias("low_c"),
        F.max_by("cents", "okey").alias("close_c"),
    )
    w = Window.partitionBy("event_type").orderBy("bar")
    prev_close = F.lag("close_c").over(w)
    tr = bars.select(
        "event_type",
        "bar",
        F.when(
            prev_close.isNull(), F.col("high_c") - F.col("low_c")
        )
        .otherwise(
            F.greatest(
                F.col("high_c") - F.col("low_c"),
                F.abs(F.col("high_c") - prev_close),
                F.abs(F.col("low_c") - prev_close),
            )
        )
        .alias("tr_c"),
    )
    f = (
        Window.partitionBy("event_type")
        .orderBy("bar")
        .rowsBetween(-(_ATR_N - 1), 0)
    )
    atr = tr.select(
        "event_type",
        (F.sum("tr_c").over(f).cast("double") / _ATR_N).alias("atr_c"),
        F.count(F.lit(1)).over(f).alias("n"),
    ).filter(F.col("n") == _ATR_N)
    return (
        atr.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_bars"),
            F.round(F.avg("atr_c") / 100.0, 6).cast("double").alias("mean_atr"),
            F.round(F.max("atr_c") / 100.0, 6).cast("double").alias("max_atr"),
        )
        .orderBy("event_type")
    )


atr_indicator.__doc__ = atr_indicator.__doc__.format(n=_ATR_N)


# --------------------------------------------------------------------------
# Stochastic oscillator — %K / %D over OHLC bars
# --------------------------------------------------------------------------

_STOCH_N = 14
_STOCH_D = 3

_STOCH_ORACLE = f"""
WITH {_HLC_BARS_SQL},
framed AS (
    SELECT event_type, bar, close_c,
           CAST(MIN(low_c) OVER f AS BIGINT)  AS low_n,
           CAST(MAX(high_c) OVER f AS BIGINT) AS high_n,
           COUNT(*) OVER f AS n
    FROM hlc
    WINDOW f AS (PARTITION BY event_type ORDER BY bar
                 ROWS BETWEEN {_STOCH_N - 1} PRECEDING AND CURRENT ROW)
),
k AS (
    SELECT event_type, bar,
           CAST(round(CAST(close_c - low_n AS DOUBLE) * 100.0
                      / (high_n - low_n), 6) AS DOUBLE) AS pct_k
    FROM framed WHERE n = {_STOCH_N} AND high_n > low_n
),
d AS (
    SELECT event_type, bar, pct_k,
           CAST(round(AVG(pct_k) OVER g, 6) AS DOUBLE) AS pct_d,
           COUNT(*) OVER g AS nd
    FROM k
    WINDOW g AS (PARTITION BY event_type ORDER BY bar
                 ROWS BETWEEN {_STOCH_D - 1} PRECEDING AND CURRENT ROW)
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_bars,
       CAST(round(AVG(pct_k), 6) AS DOUBLE) AS mean_k,
       CAST(round(AVG(pct_d), 6) AS DOUBLE) AS mean_d,
       CAST(SUM(CASE WHEN pct_k > 80 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_overbought,
       CAST(SUM(CASE WHEN pct_k < 20 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_oversold
FROM d WHERE nd = {_STOCH_D}
GROUP BY event_type
ORDER BY event_type
"""


@query("stochastic_oscillator", oracle=_STOCH_ORACLE)
def stochastic_oscillator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stochastic oscillator: %K = 100·(close − lowN)/(highN − lowN)
    over a trailing {n}-bar high/low channel, %D = {d}-bar SMA of %K;
    per series the mean %K/%D and overbought (>80) / oversold (<20)
    bar counts. Completes the classic indicator set (SMA crossover,
    RSI, Bollinger, ATR, MACD) over the reference's OHLCV domain.

    Exactness: channel extremes are exact bigints; each %K is one IEEE
    division rounded 6 dp at birth; %D averages {d} already-rounded
    doubles (exact sum, IEEE divide, 6 dp round) — both engines run the
    identical chain. Degenerate channels (high = low) and warm-up bars
    are excluded in both. Plan: one fact shuffle to bars, then windows
    over types×bars dust.
    """
    ev = table(spark, sf_dir, "events")
    value_c = cents("value")
    bars = ev.select(
        "event_type",
        F.floor(F.unix_micros("ts") / 600_000_000).cast("long").alias("bar"),
        value_c.alias("cents"),
        F.struct(F.unix_micros("ts").alias("t"), "event_id").alias("okey"),
    ).groupBy("event_type", "bar").agg(
        F.max("cents").alias("high_c"),
        F.min("cents").alias("low_c"),
        F.max_by("cents", "okey").alias("close_c"),
    )
    f = (
        Window.partitionBy("event_type")
        .orderBy("bar")
        .rowsBetween(-(_STOCH_N - 1), 0)
    )
    framed = bars.select(
        "event_type",
        "bar",
        "close_c",
        F.min("low_c").over(f).alias("low_n"),
        F.max("high_c").over(f).alias("high_n"),
        F.count(F.lit(1)).over(f).alias("n"),
    ).filter(
        (F.col("n") == _STOCH_N) & (F.col("high_n") > F.col("low_n"))
    )
    k = framed.select(
        "event_type",
        "bar",
        F.round(
            (F.col("close_c") - F.col("low_n")).cast("double")
            * 100.0
            / (F.col("high_n") - F.col("low_n")),
            6,
        ).alias("pct_k"),
    )
    g = (
        Window.partitionBy("event_type")
        .orderBy("bar")
        .rowsBetween(-(_STOCH_D - 1), 0)
    )
    d = k.select(
        "event_type",
        "pct_k",
        F.round(F.avg("pct_k").over(g), 6).alias("pct_d"),
        F.count(F.lit(1)).over(g).alias("nd"),
    ).filter(F.col("nd") == _STOCH_D)
    return (
        d.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_bars"),
            F.round(F.avg("pct_k"), 6).cast("double").alias("mean_k"),
            F.round(F.avg("pct_d"), 6).cast("double").alias("mean_d"),
            F.sum((F.col("pct_k") > 80).cast("long")).alias("n_overbought"),
            F.sum((F.col("pct_k") < 20).cast("long")).alias("n_oversold"),
        )
        .orderBy("event_type")
    )


stochastic_oscillator.__doc__ = stochastic_oscillator.__doc__.format(
    n=_STOCH_N, d=_STOCH_D
)


# --------------------------------------------------------------------------
# MACD — moving average convergence/divergence (recurrent EMAs)
# --------------------------------------------------------------------------

_MACD_FAST = 12
_MACD_SLOW = 26
_MACD_SIG = 9

_MACD_ORACLE = f"""
WITH RECURSIVE bars AS (
    SELECT event_type,
           CAST(floor(epoch_us(ts) / 600000000) AS BIGINT) AS bar,
           CAST(MAX(CAST(round(value * 100) AS BIGINT)) * 1000 AS BIGINT)
               AS mc
    FROM events GROUP BY 1, 2
),
seq AS (
    SELECT event_type, bar, mc,
           row_number() OVER (PARTITION BY event_type ORDER BY bar) AS rn
    FROM bars
),
r AS (
    SELECT event_type, bar, rn, mc,
           mc AS fast_mc, mc AS slow_mc, CAST(0 AS BIGINT) AS sig_mc
    FROM seq WHERE rn = 1
    UNION ALL
    SELECT s.event_type, s.bar, s.rn, s.mc,
           CAST(floor((r.fast_mc * {_MACD_FAST - 1} + 2 * s.mc)
                      / {float(_MACD_FAST + 1)}) AS BIGINT),
           CAST(floor((r.slow_mc * {_MACD_SLOW - 1} + 2 * s.mc)
                      / {float(_MACD_SLOW + 1)}) AS BIGINT),
           CAST(floor((r.sig_mc * {_MACD_SIG - 1}
                       + 2 * (CAST(floor((r.fast_mc * {_MACD_FAST - 1}
                                          + 2 * s.mc)
                                         / {float(_MACD_FAST + 1)})
                                   AS BIGINT)
                              - CAST(floor((r.slow_mc * {_MACD_SLOW - 1}
                                            + 2 * s.mc)
                                           / {float(_MACD_SLOW + 1)})
                                     AS BIGINT)))
                      / {float(_MACD_SIG + 1)}) AS BIGINT)
    FROM r JOIN seq s ON s.event_type = r.event_type AND s.rn = r.rn + 1
)
SELECT event_type, bar,
       CAST((fast_mc - slow_mc) / 100000.0 AS DOUBLE) AS macd,
       CAST(sig_mc / 100000.0 AS DOUBLE) AS signal,
       CAST((fast_mc - slow_mc - sig_mc) / 100000.0 AS DOUBLE) AS histogram
FROM r
"""


@query("macd_indicator", oracle=_MACD_ORACLE)
def macd_indicator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MACD({f},{s},{g}): fast/slow EMAs of the close series, their
    difference (the MACD line), a {g}-bar EMA of that difference (the
    signal line), and the histogram — per bar, per series. The last of
    the classic indicator set over the reference's OHLCV domain.

    Exactness device: EMAs are sequential recurrences, so (like
    ewma_smoothing) each step is an INTEGER floor recurrence in
    milli-cents — s' = floor((s·(k−1) + 2·c) / (k+1)) — making every
    intermediate a bigint both engines agree on bit-for-bit; the signal
    EMA runs on the integer MACD difference (seeded 0 at the first
    bar). The oracle replays the identical recurrence as a recursive
    CTE.

    Scale shape: one fact shuffle collapses ticks to types×bars dust;
    the recurrences run in ONE Arrow mapInPandas sweep over bars
    repartitioned by series and sorted in-partition — state is three
    ints per series, rows never leave the executor. At 100 TB the cost
    is the bar collapse; the sweep is O(bars) with bounded state,
    exactly like the streaming EWMA twin.
    """
    from collections.abc import Iterator  # noqa: PLC0415

    import pandas as pd  # noqa: PLC0415

    ev = table(spark, sf_dir, "events")
    bars = (
        ev.groupBy(
            "event_type",
            F.floor(F.unix_micros("ts") / 600_000_000)
            .cast("long")
            .alias("bar"),
        )
        .agg(
            (F.max(cents("value")) * 1000).alias(
                "mc"
            )
        )
        .repartition("event_type")
        .sortWithinPartitions("event_type", "bar")
    )

    kf, ks, kg = _MACD_FAST, _MACD_SLOW, _MACD_SIG

    def sweep(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prev_type, fast, slow, sig = None, 0, 0, 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            types = pdf["event_type"].tolist()
            mcs = pdf["mc"].tolist()
            macd_o, sig_o, hist_o = [], [], []
            for t, mc in zip(types, mcs):
                mc = int(mc)
                if t != prev_type:
                    prev_type, fast, slow, sig = t, mc, mc, 0
                else:
                    fast = (fast * (kf - 1) + 2 * mc) // (kf + 1)
                    slow = (slow * (ks - 1) + 2 * mc) // (ks + 1)
                    sig = (sig * (kg - 1) + 2 * (fast - slow)) // (kg + 1)
                macd_o.append((fast - slow) / 100000.0)
                sig_o.append(sig / 100000.0)
                hist_o.append((fast - slow - sig) / 100000.0)
            yield pd.DataFrame(
                {
                    "event_type": types,
                    "bar": pdf["bar"],
                    "macd": macd_o,
                    "signal": sig_o,
                    "histogram": hist_o,
                }
            )

    return bars.mapInPandas(
        sweep,
        "event_type string, bar long, macd double, "
        "signal double, histogram double",
    )


macd_indicator.__doc__ = macd_indicator.__doc__.format(
    f=_MACD_FAST, s=_MACD_SLOW, g=_MACD_SIG
)


# --------------------------------------------------------------------------
# Value-at-Risk / CVaR — the tail-risk numbers next to volatility
# --------------------------------------------------------------------------

_VAR_ORACLE = f"""
WITH {_RETURNS_BARS_SQL},
ranked AS (
    SELECT event_type, bar, ret_micro,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY ret_micro, bar) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM rets WHERE ret_micro IS NOT NULL
),
tail AS (
    SELECT event_type, n, ret_micro, rn,
           CAST((n + 19) // 20 AS BIGINT) AS k
    FROM ranked
)
SELECT event_type,
       CAST(MAX(n) AS BIGINT) AS n_returns,
       CAST(MAX(k) AS BIGINT) AS n_tail,
       CAST(MAX(CASE WHEN rn = k THEN ret_micro END) AS BIGINT)
           AS var95_micro,
       CAST(round(SUM(CASE WHEN rn <= k THEN ret_micro END) * 1.0
                  / MAX(k)) AS BIGINT) AS cvar95_micro
FROM tail
GROUP BY event_type
ORDER BY event_type
"""


@query("quant_var_cvar", oracle=_VAR_ORACLE)
def quant_var_cvar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% Value-at-Risk and Conditional VaR (expected shortfall) per
    series — the tail-risk pair every risk desk reports beside realized
    volatility. VaR is the EXACT k-th smallest per-bar return with
    k = ⌈0.05·n⌉ (lower order statistic, no interpolation — the
    conservative regulatory convention), CVaR the exact mean of that
    worst-k tail; ties at the boundary break on the bar id so the
    statistic is deterministic.

    Exactness: returns are integer micro-units at birth (the shared
    bars CTE), so VaR is an integer pick and CVaR an exact integer
    ratio rounded once — no float order-sensitivity anywhere.

    Scale shape: the ONE fact shuffle builds the 10-minute bars;
    returns, the per-series rank, and both tail statistics all ride
    the dust-sized bar table (bars ≤ minutes of history / 10 per
    series). Identical cost envelope to volatility_realized.
    """
    ev = table(spark, sf_dir, "events")
    bars = ev.groupBy(
        "event_type",
        F.floor(F.unix_micros("ts") / 600_000_000).cast("long").alias("bar"),
    ).agg(
        F.sum(cents("value")).alias("cents"),
        F.count(F.lit(1)).alias("n"),
    )
    w = Window.partitionBy("event_type").orderBy("bar")
    price = F.col("cents").cast("double") / F.col("n")
    lagged = bars.withColumns(
        {
            "prev_cents": F.lag("cents").over(w),
            "prev_n": F.lag("n").over(w),
        }
    ).filter(F.col("prev_cents").isNotNull() & (F.col("prev_cents") != 0))
    prev = F.col("prev_cents").cast("double") / F.col("prev_n")
    rets = lagged.select(
        "event_type",
        "bar",
        cents(price / prev - 1.0, 6)
        .alias("ret_micro"),
    ).filter(F.col("ret_micro").isNotNull())
    rw = Window.partitionBy("event_type").orderBy("ret_micro", "bar")
    cw = Window.partitionBy("event_type")
    ranked = rets.select(
        "event_type",
        "ret_micro",
        F.row_number().over(rw).alias("rn"),
        F.count(F.lit(1)).over(cw).alias("n"),
    ).withColumn(
        "k", ((F.col("n") + 19) / 20).cast("long")
    )
    return (
        ranked.groupBy("event_type")
        .agg(
            F.max("n").cast("long").alias("n_returns"),
            F.max("k").cast("long").alias("n_tail"),
            F.max(
                F.when(F.col("rn") == F.col("k"), F.col("ret_micro"))
            )
            .cast("long")
            .alias("var95_micro"),
            F.round(
                F.sum(
                    F.when(F.col("rn") <= F.col("k"), F.col("ret_micro"))
                )
                * 1.0
                / F.max("k")
            )
            .cast("long")
            .alias("cvar95_micro"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# CAPM beta/alpha per series vs the all-types market aggregate
# --------------------------------------------------------------------------

_BETA_ORACLE = f"""
WITH {_RETURNS_BARS_SQL},
mbars AS (
    SELECT bar,
           CAST(SUM(cents) AS BIGINT) AS cents,
           CAST(SUM(n) AS BIGINT) AS n
    FROM bars GROUP BY bar
),
mlagged AS (
    SELECT bar, cents, n,
           lag(cents) OVER (ORDER BY bar) AS prev_cents,
           lag(n) OVER (ORDER BY bar) AS prev_n
    FROM mbars
),
mrets AS (
    SELECT bar,
           CAST(round(((CAST(cents AS DOUBLE) / n)
                       / (CAST(prev_cents AS DOUBLE)
                          / prev_n) - 1.0) * 1000000) AS BIGINT)
               AS mret_micro
    FROM mlagged
    WHERE prev_cents IS NOT NULL AND prev_cents <> 0
),
joined AS (
    SELECT r.event_type, r.ret_micro AS ra, m.mret_micro AS rm
    FROM rets r JOIN mrets m ON m.bar = r.bar
),
mom AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(ra) AS BIGINT) AS sa,
           CAST(SUM(rm) AS BIGINT) AS sm,
           CAST(SUM(ra * rm) AS BIGINT) AS sam,
           CAST(SUM(rm * rm) AS BIGINT) AS smm
    FROM joined GROUP BY event_type
),
fin AS (
    SELECT event_type, n,
           CAST(n AS DOUBLE) * CAST(sam AS DOUBLE)
               - CAST(sa AS DOUBLE) * CAST(sm AS DOUBLE) AS num,
           CAST(n AS DOUBLE) * CAST(smm AS DOUBLE)
               - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE) AS den,
           sa, sm
    FROM mom
    WHERE n >= 2
      AND CAST(n AS DOUBLE) * CAST(smm AS DOUBLE)
          - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE) <> 0.0
)
SELECT event_type,
       n AS n_bars,
       CAST(round(num / den * 1000000) AS BIGINT) AS beta_micro,
       CAST(round(CAST(sa AS DOUBLE) / n
                  - (num / den) * (CAST(sm AS DOUBLE) / n)) AS BIGINT)
           AS alpha_micro
FROM fin
ORDER BY event_type
"""


@query("quant_beta_capm", oracle=_BETA_ORACLE)
def quant_beta_capm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAPM regression per series vs the market: beta (slope of the
    series' bar returns on the all-types aggregate's returns) and alpha
    (mean excess return) — the portfolio-risk companion of
    returns_correlation_pairs, completing the quant screen family.

    The market series is the same bar table re-aggregated across types
    (dust-sized — the fact is scanned once, into `bars`), so the whole
    regression runs on types×bars rows. Exactness: the slope uses the
    cleared-denominator co-moment form (n·Σab − Σa·Σb)/(n·Σb² − (Σb)²)
    on exact bigint micro-return sums; the clearing products run in
    doubles CAST from those exact integers (sparse low-SF bars produce
    micro-returns big enough that n·Σb² overflows int64 — caught by the
    oracle during development) — a fixed expression both engines
    evaluate identically, so beta is still bit-reproducible,
    micro-pinned, with no order-sensitive corr() reduction anywhere. Degenerate series
    (n < 2 or a flat market) are excluded by an exact integer guard.
    """
    ev = table(spark, sf_dir, "events")
    return capm_beta(ev)


def capm_beta(ev: DataFrame) -> DataFrame:
    """CAPM core over any (event_type, ts, value) frame; see
    quant_beta_capm. Closed-form-proven at volume (identical series for
    every type force beta == 1, alpha == 0 exactly) by
    tests/test_scale_smoke.py."""
    bars = ev.groupBy(
        "event_type",
        F.floor(F.unix_micros("ts") / 600_000_000).cast("long").alias("bar"),
    ).agg(
        F.sum(cents("value")).alias("cents"),
        F.count(F.lit(1)).alias("n"),
    )
    w = Window.partitionBy("event_type").orderBy("bar")
    price = F.col("cents").cast("double") / F.col("n")
    lagged = bars.withColumns(
        {
            "prev_cents": F.lag("cents").over(w),
            "prev_n": F.lag("n").over(w),
        }
    ).filter(F.col("prev_cents").isNotNull() & (F.col("prev_cents") != 0))
    prev = F.col("prev_cents").cast("double") / F.col("prev_n")
    rets = lagged.select(
        "event_type",
        "bar",
        cents(price / prev - 1.0, 6)
        .alias("ret_micro"),
    ).filter(F.col("ret_micro").isNotNull())

    mbars = bars.groupBy("bar").agg(
        F.sum("cents").cast("long").alias("cents"),
        F.sum("n").cast("long").alias("n"),
    )
    # Global lag over the single market series: a documented-bounded
    # dust window (bars are time-bucketed — cardinality grows with the
    # covered time span, not with SF).
    mw = Window.orderBy("bar")
    mlagged = mbars.withColumns(
        {
            "prev_cents": F.lag("cents").over(mw),
            "prev_n": F.lag("n").over(mw),
        }
    ).filter(F.col("prev_cents").isNotNull() & (F.col("prev_cents") != 0))
    mprice = F.col("cents").cast("double") / F.col("n")
    mprev = F.col("prev_cents").cast("double") / F.col("prev_n")
    mrets = mlagged.select(
        "bar",
        cents(mprice / mprev - 1.0, 6)
        .alias("mret_micro"),
    ).filter(F.col("mret_micro").isNotNull())

    joined = rets.join(F.broadcast(mrets), "bar").select(  # bounded: per-bar market series (time-grid, not data-scaled)
        "event_type",
        F.col("ret_micro").alias("ra"),
        F.col("mret_micro").alias("rm"),
    )
    mom = joined.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("ra").cast("long").alias("sa"),
        F.sum("rm").cast("long").alias("sm"),
        F.sum(F.col("ra") * F.col("rm")).cast("long").alias("sam"),
        F.sum(F.col("rm") * F.col("rm")).cast("long").alias("smm"),
    )
    fin = mom.selectExpr(
        "event_type",
        "n",
        "CAST(n AS DOUBLE) * CAST(sam AS DOUBLE)"
        " - CAST(sa AS DOUBLE) * CAST(sm AS DOUBLE) AS num",
        "CAST(n AS DOUBLE) * CAST(smm AS DOUBLE)"
        " - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE) AS den",
        "sa",
        "sm",
    ).filter((F.col("n") >= 2) & (F.col("den") != 0.0))
    return fin.select(
        "event_type",
        F.col("n").alias("n_bars"),
        F.expr("CAST(round(num / den * 1000000) AS BIGINT)").alias(
            "beta_micro"
        ),
        F.expr(
            "CAST(round(CAST(sa AS DOUBLE) / n"
            " - (num / den) * (CAST(sm AS DOUBLE) / n)) AS BIGINT)"
        ).alias("alpha_micro"),
    ).orderBy("event_type")
