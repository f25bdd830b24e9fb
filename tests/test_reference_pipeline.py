"""Reference-parity tests for the flagship ETL chain (SURVEY.md §5.2).

Golden inputs are the reference's own committed API snapshots
(/root/reference/raw_data, read-only) replayed through the Spark
pipeline; expected values are computed from the published payload shape
(AAPL 2025-10-03: open 254.665, close 258.02 → +1.3174%).
"""

from __future__ import annotations

import json
import os
import shutil

import pytest

from pyspark.sql import functions as F

from etl_pipeline_with_alpha_vantage_spark.pipeline.alpha_vantage import (
    read_raw_payloads,
    run_reference_pipeline,
    to_warehouse_schema,
    unnest_and_standardize,
)
from etl_pipeline_with_alpha_vantage_spark.sinks.idempotent import (
    dedup_in_batch,
    upsert_ignore,
)
from etl_pipeline_with_alpha_vantage_spark.sources.http import fetch_payloads

RAW_DIR = "/root/reference/raw_data"

needs_fixtures = pytest.mark.skipif(
    not os.path.isdir(RAW_DIR), reason="reference raw_data not available"
)


@needs_fixtures
def test_golden_three_symbols(spark):
    """3 symbols × 100 trading days → 300 rows with spot-checked values."""
    df = run_reference_pipeline(spark, os.path.join(RAW_DIR, "*_2025-10-05.json"))
    rows = df.collect()
    assert len(rows) == 300
    assert {r.symbol for r in rows} == {"AAPL", "GOOG", "MSFT"}

    aapl = df.filter(
        (F.col("symbol") == "AAPL") & (F.col("date") == "2025-10-03")
    ).collect()
    assert len(aapl) == 1
    r = aapl[0]
    assert r.open == pytest.approx(254.665)
    assert r.close == pytest.approx(258.02)
    assert r.daily_change_percentage == pytest.approx(1.317417, abs=1e-5)
    assert r.volume > 0


@needs_fixtures
def test_chronological_order_matches_reference(spark):
    """The reference sorts by ISO date string (etl.py:97); DateType order
    must agree (lexicographic ISO == chronological — SURVEY.md §2.D.1)."""
    df = run_reference_pipeline(spark, os.path.join(RAW_DIR, "AAPL_2025-10-05.json"))
    dates = [r.date.isoformat() for r in df.orderBy("date").collect()]
    assert dates == sorted(dates)
    assert len(dates) == 100


def test_malformed_payload_dropped_not_fatal(spark, tmp_path):
    """One corrupt file drops that symbol only (etl.py:52-56 semantics)."""
    good = {
        "Meta Data": {
            "1. Information": "Daily Prices",
            "2. Symbol": "GOOD",
            "3. Last Refreshed": "2025-10-05",
            "4. Output Size": "Compact",
            "5. Time Zone": "US/Eastern",
        },
        "Time Series (Daily)": {
            "2025-10-03": {
                "1. open": "100.0",
                "2. high": "110.0",
                "3. low": "95.0",
                "4. close": "105.0",
                "5. volume": "12345",
            }
        },
    }
    (tmp_path / "GOOD_2025-10-05.json").write_text(json.dumps(good))
    (tmp_path / "BAD_2025-10-05.json").write_text("{this is not json]")
    # wrong-shape-but-valid JSON: no time series key → also dropped
    (tmp_path / "EMPTY_2025-10-05.json").write_text(
        json.dumps({"Note": "rate limit exceeded"})
    )

    df = run_reference_pipeline(spark, str(tmp_path / "*.json"))
    rows = df.collect()
    assert [r.symbol for r in rows] == ["GOOD"]
    assert rows[0].daily_change_percentage == pytest.approx(5.0)


@needs_fixtures
def test_upsert_ignore_idempotent(spark, tmp_path):
    """Re-running the load is a no-op (etl.py:127,142; SURVEY.md §2.D.4)."""
    wh = str(tmp_path / "warehouse")
    df = to_warehouse_schema(
        run_reference_pipeline(spark, os.path.join(RAW_DIR, "*_2025-10-05.json"))
    )
    n1 = upsert_ignore(spark, df, wh, keys=["symbol", "date"])
    n2 = upsert_ignore(spark, df, wh, keys=["symbol", "date"])
    assert n1 == 300
    assert n2 == 0
    assert spark.read.parquet(wh).count() == 300

    # byte-identical next-day snapshot (AAPL_2025-10-06 == AAPL_2025-10-05)
    df2 = to_warehouse_schema(
        run_reference_pipeline(spark, os.path.join(RAW_DIR, "AAPL_2025-10-06.json"))
    )
    n3 = upsert_ignore(spark, df2, wh, keys=["symbol", "date"])
    assert n3 == 0


def test_dedup_in_batch_first_writer_wins(spark):
    df = spark.createDataFrame(
        [("A", "2025-01-01", 1, 10.0), ("A", "2025-01-01", 2, 20.0),
         ("B", "2025-01-01", 3, 30.0)],
        "symbol string, date string, seq int, price double",
    )
    out = dedup_in_batch(df, keys=["symbol", "date"], order_col="seq").collect()
    assert sorted((r.symbol, r.price) for r in out) == [("A", 10.0), ("B", 30.0)]


@needs_fixtures
def test_replay_source_skips_missing(tmp_path):
    """Replay mode (fetch_from_api=False) returns only cached files —
    the etl.py:64-70 local-only branch — and never touches the network."""
    lake = str(tmp_path / "lake")
    os.makedirs(lake)
    shutil.copy(
        os.path.join(RAW_DIR, "AAPL_2025-10-05.json"),
        os.path.join(lake, "AAPL_2025-10-05.json"),
    )
    paths = fetch_payloads(
        ["AAPL", "MISSING"], lake, "2025-10-05", fetch_from_api=False
    )
    assert [os.path.basename(p) for p in paths] == ["AAPL_2025-10-05.json"]


@needs_fixtures
def test_warehouse_schema_decimal_parity(spark):
    """Sink casts to DECIMAL(15,4)/(10,4) per the reference DDL
    (etl.py:119-126) with renamed price columns."""
    df = to_warehouse_schema(
        run_reference_pipeline(spark, os.path.join(RAW_DIR, "AAPL_2025-10-05.json"))
    )
    fields = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert fields["open_price"] == "decimal(15,4)"
    assert fields["daily_change_percentage"] == "decimal(10,4)"
    assert fields["extraction_timestamp"] == "timestamp"
    assert "open" not in fields  # renamed at the sink (SURVEY.md §2.D.6)


@needs_fixtures
def test_validation_gate_permissive_read(spark):
    """PERMISSIVE read keeps valid files when a corrupt one is present in
    the same glob (file-granularity validation)."""
    raw = read_raw_payloads(spark, os.path.join(RAW_DIR, "*_2025-10-05.json"))
    assert raw.count() == 3
    std = unnest_and_standardize(raw)
    assert std.filter(F.col("open").isNull()).count() == 0


def test_zero_division_yields_null_policy(spark):
    """SURVEY §2.D.2: the engine's declared semantics are NULL on x/0 and
    NULL on invalid cast (drop-don't-crash), matching the DuckDB oracle —
    never pandas inf, never an ANSI exception."""
    from pyspark.sql import functions as F

    row = (
        spark.range(1)
        .select(
            (F.lit(1.0) / F.lit(0.0)).alias("fdiv"),
            (F.lit(5) / F.lit(0)).alias("idiv"),
            F.lit("not_a_number").cast("long").alias("badcast"),
        )
        .collect()[0]
    )
    assert row.fdiv is None and row.idiv is None and row.badcast is None


def test_validation_gate_failfast_mode(spark, tmp_path):
    """V1 strict variant: FAILFAST aborts the read on any malformed
    payload (vs PERMISSIVE's drop-and-continue), and reads identically to
    PERMISSIVE when every payload is clean — both declared modes of the
    validation gate, documented side by side."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    from etl_pipeline_with_alpha_vantage_spark.pipeline.alpha_vantage import (
        read_raw_payloads,
        unnest_and_standardize,
    )

    good = {
        "Meta Data": {
            "1. Information": "Daily Prices",
            "2. Symbol": "GOOD",
            "3. Last Refreshed": "2025-10-05",
            "4. Output Size": "Compact",
            "5. Time Zone": "US/Eastern",
        },
        "Time Series (Daily)": {
            "2025-10-03": {
                "1. open": "100.0",
                "2. high": "110.0",
                "3. low": "95.0",
                "4. close": "105.0",
                "5. volume": "12345",
            }
        },
    }
    clean = tmp_path / "clean"
    clean.mkdir()
    (clean / "GOOD_2025-10-05.json").write_text(json.dumps(good))

    strict = unnest_and_standardize(
        read_raw_payloads(spark, str(clean / "*.json"), strict=True)
    ).collect()
    assert [r.symbol for r in strict] == ["GOOD"]

    dirty = tmp_path / "dirty"
    dirty.mkdir()
    (dirty / "GOOD_2025-10-05.json").write_text(json.dumps(good))
    (dirty / "BAD_2025-10-05.json").write_text("{this is not json]")
    # Deliberately NOT a bare Exception catch-all: the abort must come
    # from the FAILFAST parse path, not some unrelated setup error.
    with pytest.raises((Py4JJavaError, PySparkException)) as excinfo:
        read_raw_payloads(spark, str(dirty / "*.json"), strict=True).collect()
    assert "FAILFAST" in str(excinfo.value) or "Malformed" in str(excinfo.value)


def test_live_fetch_failed_write_leaves_no_torn_cache(tmp_path, monkeypatch):
    """A live fetch whose raw-zone write fails partway leaves nothing at
    the cache path, so the next run refetches instead of trusting a torn
    JSON file."""
    from etl_pipeline_with_alpha_vantage_spark.sources import http

    lake = str(tmp_path / "lake")
    path = os.path.join(lake, "AAPL_2025-10-05.json")
    calls = []

    def fake_fetch(symbol, api_key):
        calls.append(symbol)
        # A value json cannot encode, placed after enough encodable text
        # that a streaming encoder has already written part of the file.
        last = object() if len(calls) == 1 else {"4. close": "2.0"}
        return {
            "Meta Data": {"2. Symbol": symbol},
            "Time Series (Daily)": {
                "2025-10-03": {"1. open": "1.0"},
                "2025-10-02": last,
            },
        }

    def fetch():
        return fetch_payloads(
            ["AAPL"], lake, "2025-10-05", api_key="k",
            fetch_from_api=True, sleep_sec=0,
        )

    monkeypatch.setattr(http, "_fetch_one", fake_fetch)
    with pytest.raises(TypeError):
        fetch()
    assert not os.path.exists(path)

    # a rename that fails after the tmp write leaves no tmp file behind
    def failing_replace(src, dst):
        raise OSError("disk full")

    with monkeypatch.context() as m:
        m.setattr(http.os, "replace", failing_replace)
        with pytest.raises(OSError):
            fetch()
    assert os.listdir(lake) == []

    assert fetch() == [path]
    assert calls == ["AAPL"] * 3
    with open(path) as f:
        series = json.load(f)["Time Series (Daily)"]
    assert series["2025-10-02"] == {"4. close": "2.0"}


def test_fetch_distributed_mock_transport(spark, tmp_path):
    """fetch_distributed executed with an injected no-network transport —
    the reference's per-symbol loop (etl.py:39-63) at executor scale:

    - per-PARTITION token bucket: within each mapInPandas task,
      consecutive live requests are >= sleep_sec apart (the free-tier
      cadence), while separate partitions overlap freely;
    - validation drops: throttle-note bodies (etl.py:52-56 pydantic
      reject) produce NULL path/payload and are left UNCACHED;
    - lake idempotency: a second run serves every previously-fetched
      symbol byte-identically from the raw zone with zero live requests
      and zero sleeps, and RETRIES exactly the dropped ones.
    """
    import time as _time

    from etl_pipeline_with_alpha_vantage_spark.sources.http import (
        fetch_distributed,
    )

    lake = str(tmp_path / "lake")
    day = "2025-10-05"
    sleep = 0.4
    symbols = [f"SYM{i}" for i in range(9)] + ["BAD0", "BAD1", "BAD2"]
    sdf = spark.createDataFrame(
        [(s,) for s in symbols], "symbol string"
    ).repartition(3)

    def fake_fetch(symbol, api_key):
        # cloudpickled by value into the executor; embeds a nonce so a
        # cache hit is distinguishable from a silent refetch
        assert api_key == "k"
        if symbol.startswith("BAD"):
            return {"Note": "API call frequency exceeded"}
        return {
            "Meta Data": {"2. Symbol": symbol},
            "Time Series (Daily)": {
                "2025-10-03": {"1. open": "1.0", "4. close": "2.0"}
            },
            "nonce": f"run1-{symbol}",
        }

    t0 = _time.perf_counter()
    out = fetch_distributed(
        sdf, lake, day, api_key="k", sleep_sec=sleep, fetch_one=fake_fetch
    ).collect()
    run1_wall = _time.perf_counter() - t0
    assert len(out) == 12
    by_symbol = {r.symbol: r for r in out}

    # validation drops: uncached, no path, no payload, token consumed
    for s in ("BAD0", "BAD1", "BAD2"):
        r = by_symbol[s]
        assert r.path is None and r.payload is None and r.fetched
        assert not os.path.exists(os.path.join(lake, f"{s}_{day}.json"))

    # successes: file exists, indent=4 verbatim persistence, parseable
    for s in symbols:
        if s.startswith("BAD"):
            continue
        r = by_symbol[s]
        assert r.fetched and r.fetched_at is not None
        with open(r.path) as f:
            disk = f.read()
        assert disk == r.payload and '"nonce": "run1-' in disk
        assert json.loads(disk)["Meta Data"]["2. Symbol"] == s

    # per-partition cadence: consecutive live requests >= sleep apart
    parts = {}
    for r in out:
        parts.setdefault(r.part, []).append(r.fetched_at)
    assert len(parts) == 3
    for ts in parts.values():
        ts = sorted(t for t in ts if t is not None)
        for a, b in zip(ts, ts[1:]):
            assert b - a >= sleep * 0.95, (a, b)
    # ... while the partitions genuinely overlapped: the token bucket is
    # per-task, not global, so some other partition fires DURING this
    # partition's [first, last] fetch window (a global 15 s bucket —
    # the driver-loop shape — could never interleave timestamps)
    spans = [
        (min(v), max(v))
        for v in (
            [t for t in ts if t is not None] for ts in parts.values()
        )
    ]
    assert any(
        a0 < b1 and b0 < a1
        for i, (a0, a1) in enumerate(spans)
        for (b0, b1) in spans[i + 1:]
    ), spans
    del run1_wall  # stage scheduling + worker spin-up make wall flaky

    # idempotent re-run: cache hits byte-identical, no sleeps for them;
    # only the 3 dropped symbols are retried (fresh nonce proves a real
    # second request, cache-first proves the 9 good ones never refetch)
    def fake_fetch2(symbol, api_key):
        if symbol.startswith("BAD"):
            return {"Note": "still throttled"}
        return {"Time Series (Daily)": {"d": {}}, "nonce": f"run2-{symbol}"}

    out2 = fetch_distributed(
        sdf, lake, day, api_key="k", sleep_sec=sleep, fetch_one=fake_fetch2
    ).collect()
    by2 = {r.symbol: r for r in out2}
    for s in symbols:
        r = by2[s]
        if s.startswith("BAD"):
            assert r.fetched and r.payload is None  # retried, dropped again
        else:
            assert not r.fetched and r.fetched_at is None
            assert r.payload == by_symbol[s].payload  # byte-identical replay
            assert '"nonce": "run1-' in r.payload  # run-2 transport unused
