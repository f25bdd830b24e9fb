"""Seeded input generators for the benchmark.

Two kinds of input, both byte-identical for a given seed:

* ``write_warehouse`` writes the ten warehouse tables the query catalog
  reads (``region nation customer supplier part orders lineitem events
  documents embeddings``), with the column names, parquet types and value
  domains of the engine's TPC-H-ish fixtures, at a chosen scale factor.
* ``PayloadLake`` writes Alpha Vantage daily payloads (``AV_SCHEMA``:
  OHLCV as strings, a 100-day compact window) for N symbols, one directory
  per delivery day. Day ``d`` re-delivers the window shifted by one trading
  day, so 99 of every 100 rows repeat. A fixed share of each day's files
  is malformed (truncated JSON, API ``Note`` / ``Error Message`` bodies, a
  payload without ``Time Series (Daily)``). The lake keeps the exact set of
  rows a correct idempotent load must hold, so the warehouse can be checked
  against it.
"""

from __future__ import annotations

import hashlib
import json
import os
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WINDOW = 100  # days in an Alpha Vantage "compact" response
BAD_KINDS = ("truncated", "note", "error", "no_series")
BAD_SHARE = 0.04  # share of each day's payload files that is malformed

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_ADJ = "blue cold hot large new old red small".split()
_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    off = rng.integers(0, (hi_d - lo_d).astype(int) + 1, n)
    return (lo_d + off).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def _write(out_dir: str, name: str, cols: dict) -> int:
    t = pa.table(cols)
    pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return t.num_rows


def write_warehouse(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten warehouse tables at scale factor ``sf``; returns the
    row count of each table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev, n_users = 4 * n_ord, int(1_000_000 * sf), int(15_000 * sf)
    n_docs, n_vec = 500, 500
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()
    rows = {}
    rows["region"] = _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    rows["nation"] = _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    rows["customer"] = _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), f64),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    rows["supplier"] = _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), f64),
    })
    names = [f"{a} {n}" for a in _ADJ for n in _NOUN]
    rows["part"] = _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 1000) / 10.0, f64),
    })
    rows["orders"] = _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord), f64),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", n_ord),
                                pa.timestamp("us")),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    rows["lineitem"] = _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(float), f64),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_li), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, f64),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", n_li),
                               pa.timestamp("us")),
    })
    # Event ids increase with ts (the fixtures' id-monotonic-in-ts contract).
    span_us = 30 * 86_400 * 10**6
    ts = np.sort(rng.integers(0, span_us, n_ev)) + np.datetime64("2024-01-01", "us")
    rows["events"] = _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"],
                            n_ev),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2), f64),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    # One document in twenty is a near-duplicate: an earlier text + " dup".
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(10, 100))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS),
                                                                  n_words)))
    rows["documents"] = _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": texts,
        "lang": _pick(rng, ["en", "de", "es", "fr", "zh"], n_docs,
                      p=[0.42, 0.145, 0.145, 0.145, 0.145]),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] * 0.15 + rng.normal(0.0, 1.0, (n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    rows["embeddings"] = _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vec), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
    return rows


def _mix(*xs: np.ndarray) -> np.ndarray:
    """splitmix64 over the combined inputs: a counter-based hash, so a
    (symbol, date) pair gets the same OHLCV values in every delivery."""
    with np.errstate(over="ignore"):
        z = np.uint64(0x9E3779B97F4A7C15)
        for x in xs:
            z = (z ^ np.asarray(x, np.uint64)) * np.uint64(0xBF58476D1CE4E5B9)
            z ^= z >> np.uint64(31)
            z = z * np.uint64(0x94D049BB133111EB)
            z ^= z >> np.uint64(29)
    return z


# Content hashes of the seed-0 toy inputs, and the sf0.01 row counts. A
# change to this generator (or to numpy's generator streams) that alters
# the inputs fails every run loudly instead of shifting the baseline.
PINS = {
    "warehouse_seed0_sf0.001": "d0be136d4235bada6f7d67eae3967b10d53333638a206b511aade189f062c125",
    "lake_seed0_8symbols_day0": "df513a59053e0eb0a3c5fe65a65cd7eb4fd271d2fb1837e9476c04558242d963",
}
ROWS_SF001 = {"region": 5, "nation": 25, "customer": 1500, "supplier": 100,
              "part": 2000, "orders": 15000, "lineitem": 60000, "events": 10000,
              "documents": 500, "embeddings": 500}


def content_hash(directory: str) -> str:
    """sha256 over a directory's tables (column values, not parquet bytes,
    so a writer-version change does not move it) and other files' bytes."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(directory)):
        path = os.path.join(directory, name)
        h.update(name.encode())
        if name.endswith(".parquet"):
            t = pq.read_table(path)
            for c in t.column_names:
                h.update(c.encode())
                h.update(repr(t[c].to_pylist()).encode())
        else:
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def check_pins(workdir: str) -> None:
    """Regenerate the pinned seed-0 toy inputs under ``workdir`` and raise
    if their content moved."""
    wh = os.path.join(workdir, "wh")
    write_warehouse(wh, 0, 0.001)
    lake_day0 = PayloadLake(os.path.join(workdir, "lake"), 0, 8).write_day(0)["dir"]
    for key, directory in (("warehouse_seed0_sf0.001", wh),
                           ("lake_seed0_8symbols_day0", lake_day0)):
        digest = content_hash(directory)
        if digest != PINS[key]:
            raise RuntimeError(f"generated input {key} changed: {digest} != {PINS[key]}")


class PayloadLake:
    """Seeded Alpha Vantage delivery days under ``root/day_NNN/`` plus the
    warehouse contents a correct load of days ``0..d`` must produce."""

    def __init__(self, root: str, seed: int, n_symbols: int):
        self.root, self.seed, self.n = root, seed, n_symbols
        self.symbols = [f"SYM{s:05d}" for s in range(n_symbols)]
        self.expected: dict[tuple[str, int], tuple] = {}  # (symbol, day idx) → row

    def _ohlcv(self, s: int, idx: np.ndarray) -> list[tuple]:
        h = [_mix(self.seed, s, idx, k) for k in range(5)]
        open_ = 5000 + (h[0] % np.uint64(45000)).astype(np.int64)  # 1/100 units
        high = open_ + (h[1] % np.uint64(500)).astype(np.int64)
        low = open_ - (h[2] % np.uint64(500)).astype(np.int64)
        close = low + (h[3] % (high - low + 1).astype(np.uint64)).astype(np.int64)
        vol = 100_000 + (h[4] % np.uint64(5_000_000)).astype(np.int64)
        return list(zip(open_.tolist(), high.tolist(), low.tolist(),
                        close.tolist(), vol.tolist()))

    @staticmethod
    def date_of(idx: int) -> str:
        return str(np.busday_offset("2025-01-02", idx, roll="forward"))

    def day_dir(self, day: int) -> str:
        return os.path.join(self.root, f"day_{day:03d}")

    def write_day(self, day: int) -> dict:
        """Write day ``day``'s delivery. Returns its directory, the rows a
        correct load appends, and the rows in well-formed payloads."""
        out = self.day_dir(day)
        os.makedirs(out, exist_ok=True)
        rng = np.random.default_rng([self.seed, 2, day])
        n_bad = max(1, round(BAD_SHARE * self.n))
        bad = dict(zip(rng.choice(self.n, n_bad, replace=False).tolist(),
                       (BAD_KINDS[i % len(BAD_KINDS)] for i in range(n_bad))))
        idx = np.arange(day, day + WINDOW)
        dates = [self.date_of(int(i)) for i in idx]
        refreshed = dates[-1]
        n_before, n_valid = len(self.expected), 0
        for s, symbol in enumerate(self.symbols):
            series = {}
            rows = self._ohlcv(s, idx)
            for d, (o, h, lo, c, v) in zip(reversed(dates), reversed(rows)):
                series[d] = {"1. open": f"{o / 100:.4f}", "2. high": f"{h / 100:.4f}",
                             "3. low": f"{lo / 100:.4f}", "4. close": f"{c / 100:.4f}",
                             "5. volume": str(v)}
            payload = {
                "Meta Data": {
                    "1. Information": "Daily Prices (open, high, low, close) and Volumes",
                    "2. Symbol": symbol,
                    "3. Last Refreshed": refreshed,
                    "4. Output Size": "Compact",
                    "5. Time Zone": "US/Eastern",
                },
                "Time Series (Daily)": series,
            }
            kind = bad.get(s)
            if kind == "note":
                payload = {"Note": "Thank you for using Alpha Vantage! Our standard "
                           "API call frequency is 5 calls per minute."}
            elif kind == "error":
                payload = {"Error Message": "Invalid API call. Please retry or "
                           "visit the documentation for TIME_SERIES_DAILY."}
            elif kind == "no_series":
                del payload["Time Series (Daily)"]
            text = json.dumps(payload, indent=4)
            if kind == "truncated":
                text = text[: len(text) // 2]
            with open(os.path.join(out, f"{symbol}_{refreshed}.json"), "w") as f:
                f.write(text)
            if kind is not None:
                continue
            n_valid += WINDOW
            for i, row in zip(idx.tolist(), rows):
                self.expected.setdefault((symbol, i), row)
        return {"dir": out, "new_rows": len(self.expected) - n_before,
                "valid_rows": n_valid}

    def checksums(self) -> dict:
        """Per-column checksums of the rows a correct load holds."""
        rows = list(self.expected.values())
        cents = [sum(r[k] for r in rows) for k in range(4)]
        return {
            "rows": len(rows),
            "open_price": Decimal(cents[0]) / 100,
            "high_price": Decimal(cents[1]) / 100,
            "low_price": Decimal(cents[2]) / 100,
            "close_price": Decimal(cents[3]) / 100,
            "volume": sum(r[4] for r in rows),
        }

    def change_pct(self) -> dict[tuple[str, str], float]:
        """Expected daily_change_percentage per (symbol, ISO date)."""
        return {(s, self.date_of(i)): (r[3] - r[0]) / r[0] * 100.0
                for (s, i), r in self.expected.items()}
