"""Seeded benchmark inputs and the values the program must produce from them.

Two kinds of input, both a pure function of the seed:

- Raw-quote JSON drops in the flattened Alpha-Vantage shape
  (``schema.RAW_QUOTE_SCHEMA``: every value a string). A single drop
  feeds ``pipeline.run_pipeline``; a chain of drops whose days overlap
  the previous drop by half feeds the streaming ingest. Each drop plants
  the dirty-row kinds of FIXTURES.md §1 (negative or zero price,
  low > high, null critical field, non-numeric string, negative volume),
  keep-last duplicates, a single-row symbol, a price spike that fails
  one range check, and (single drop only) malformed JSON lines.
- The engine's star-schema tables (region ... embeddings), shaped like
  the engine's test tables (TESTDATA.md), for the registry queries.

Every writer returns the expected outcome computed here, independently
of the program: clean row counts, corrupt lines, symbols, checks passed
and the surviving (symbol, date) keys. Only numpy, pyarrow and the
standard library are used, so inputs exist before Spark starts.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY0 = dt.date(2015, 1, 1)
EXTRACTED0 = dt.datetime(2024, 1, 2, 6, 0, 0)
FILES_PER_DROP = 16
# dirty-row kinds; each planted row sits on its own (symbol, date) key,
# outside the clean key set, so removing it changes no clean row
DIRTY_KINDS = (
    "negative_price", "zero_price", "low_gt_high", "null_volume",
    "non_numeric_close", "negative_volume",
)
# stock_quality_checks() has 14 checks plus the compound-unique check;
# the planted spike (high > 10000) fails exactly range_high
CHECKS_TOTAL = 15
CHECKS_PASSED = 14
SPIKE_HIGH = "12000.0000"


def _tickers(rng: np.random.Generator, n: int) -> list[str]:
    codes = rng.choice(26 ** 4, size=n, replace=False)
    out = []
    for c in codes:
        s = ""
        for _ in range(4):
            c, r = divmod(int(c), 26)
            s += chr(65 + r)
        out.append(s)
    return out


def _price_paths(rng: np.random.Generator, n_sym: int, n_days: int) -> dict:
    """Random-walk OHLCV for every (symbol, day): strictly positive,
    low < open, close < high, daily moves far inside ±50%."""
    p0 = rng.uniform(20.0, 400.0, size=(n_sym, 1))
    steps = rng.normal(0.0, 0.012, size=(n_sym, n_days))
    close = p0 * np.exp(np.cumsum(steps, axis=1))
    open_ = close * (1.0 + rng.normal(0.0, 0.004, size=close.shape))
    top = np.maximum(open_, close)
    bot = np.minimum(open_, close)
    high = top * (1.0 + rng.uniform(0.001, 0.01, size=close.shape))
    low = bot * (1.0 - rng.uniform(0.001, 0.01, size=close.shape))
    volume = rng.integers(100_000, 10_000_000, size=close.shape)
    return {"open": open_, "high": high, "low": low, "close": close,
            "volume": volume}


def _ts(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%S.000Z")


def _line(sym: str, day: int, o: str, h: str, lo: str, c: str,
          v: str | None, extracted: str) -> str:
    rec = {
        "symbol": sym,
        "date": (DAY0 + dt.timedelta(days=int(day))).isoformat(),
        "open": o, "high": h, "low": lo, "close": c, "volume": v,
        "extracted_at": extracted, "data_source": "Alpha Vantage",
    }
    return json.dumps(rec, separators=(",", ":"))


def _dirty_line(kind: str, sym: str, day: int, extracted: str) -> str:
    o, h, lo, c, v = "100.0000", "105.0000", "95.0000", "101.0000", "1000"
    if kind == "negative_price":
        o = "-10.5000"
    elif kind == "zero_price":
        c = "0"
    elif kind == "low_gt_high":
        h, lo = "95.0000", "105.0000"
    elif kind == "null_volume":
        v = None
    elif kind == "non_numeric_close":
        c = "abc"
    elif kind == "negative_volume":
        v = "-5"
    return _line(sym, day, o, h, lo, c, v, extracted)


def _write_files(directory: str, lines: list[str],
                 rng: np.random.Generator) -> None:
    os.makedirs(directory, exist_ok=True)
    order = rng.permutation(len(lines))
    for f in range(FILES_PER_DROP):
        chunk = order[f::FILES_PER_DROP]
        with open(os.path.join(directory, f"part-{f:05d}.json"), "w") as fh:
            fh.write("\n".join(lines[i] for i in chunk))
            fh.write("\n")


def _quote_lines(syms, paths, days, extracted, dup_mask, dup_extracted):
    """Clean lines for every (symbol, day) in ``days``, plus an older,
    different-volume copy of each key where ``dup_mask`` is set, which
    keep-last must discard."""
    lines = []
    volume_sum = 0
    for i, sym in enumerate(syms):
        for d in days:
            o, h, lo, c = (f"{paths[k][i, d]:.4f}"
                           for k in ("open", "high", "low", "close"))
            v = int(paths["volume"][i, d])
            volume_sum += v
            lines.append(_line(sym, d, o, h, lo, c, str(v), extracted))
            if dup_mask[i, d]:
                lines.append(_line(sym, d, o, h, lo, c, str(v + 7),
                                   dup_extracted))
    return lines, volume_sum


def write_single_drop(directory: str, seed: int, n_symbols: int,
                      n_days: int, dirty_per_kind: int = 4,
                      malformed: int = 9, dup_frac: float = 0.02) -> dict:
    """One raw-quote drop for ``run_pipeline`` and its expected result."""
    rng = np.random.default_rng([seed, 1])
    syms = _tickers(rng, n_symbols + 1)
    single, syms = syms[-1], syms[:-1]
    paths = _price_paths(rng, n_symbols, n_days)
    dup_mask = rng.random((n_symbols, n_days)) < dup_frac
    extracted = _ts(EXTRACTED0)
    stale = _ts(EXTRACTED0 - dt.timedelta(hours=6))
    lines, volume_sum = _quote_lines(syms, paths, range(n_days), extracted,
                                     dup_mask, stale)
    # price spike: a consistent quote whose high is out of the checked range
    rec = json.loads(lines[0])
    rec["high"] = SPIKE_HIGH
    lines[0] = json.dumps(rec, separators=(",", ":"))
    # single-row symbol: kept, with null change and volatility
    lines.append(_line(single, 0, "50.0000", "51.0000", "49.0000",
                       "50.5000", "12345", extracted))
    volume_sum += 12345
    for k, kind in enumerate(DIRTY_KINDS):
        for j in range(dirty_per_kind):
            sym = syms[(k * dirty_per_kind + j) % n_symbols]
            lines.append(_dirty_line(kind, sym, n_days + 1 + j, extracted))
    for j in range(malformed):
        lines.append(_line(syms[j % n_symbols], n_days + 50 + j, "1", "2",
                           "0.5", "1.5", "10", extracted)[: 40 + j])
    _write_files(directory, lines, rng)
    return {
        "records_loaded": n_symbols * n_days + 1,
        "corrupt_records": malformed,
        "unique_symbols": n_symbols + 1,
        "checks_passed": CHECKS_PASSED,
        "checks_total": CHECKS_TOTAL,
        "volume_sum": volume_sum,
        "raw_lines": len(lines),
    }


def write_multi_drop(directory: str, seed: int, n_drops: int,
                     n_symbols: int, days_per_drop: int,
                     dirty_per_kind: int = 2) -> dict:
    """``n_drops`` drops under ``directory``/drop-NN; drop k covers days
    [k·D/2, k·D/2 + D), so half of each drop re-delivers the previous
    drop's keys with identical values. Returns the expected keys."""
    rng = np.random.default_rng([seed, 2])
    half = days_per_drop // 2
    total_days = half * (n_drops + 1)
    syms = _tickers(rng, n_symbols)
    paths = _price_paths(rng, n_symbols, total_days)
    no_dups = np.zeros((n_symbols, total_days), dtype=bool)
    raw_lines = 0
    for k in range(n_drops):
        extracted = _ts(EXTRACTED0 + dt.timedelta(hours=k))
        days = range(k * half, k * half + days_per_drop)
        lines, _ = _quote_lines(syms, paths, days, extracted, no_dups, "")
        for i, kind in enumerate(DIRTY_KINDS):
            for j in range(dirty_per_kind):
                sym = syms[(i * dirty_per_kind + j) % n_symbols]
                day = total_days + 1 + k * dirty_per_kind + j
                lines.append(_dirty_line(kind, sym, day, extracted))
        raw_lines += len(lines)
        _write_files(os.path.join(directory, f"drop-{k:02d}"), lines, rng)
        # the file source orders by modification time: keep drops ordered
        stamp = 1_700_000_000 + 60 * k
        for name in os.listdir(os.path.join(directory, f"drop-{k:02d}")):
            os.utime(os.path.join(directory, f"drop-{k:02d}", name),
                     (stamp, stamp))
    keys_path = os.path.join(os.path.dirname(directory) or ".",
                             "expected_keys.parquet")
    key_sym = np.repeat(np.array(syms), total_days)
    key_day = np.tile(np.arange(total_days), n_symbols)
    dates = (np.datetime64(DAY0.isoformat(), "D") + key_day).astype("datetime64[D]")
    pq.write_table(pa.table({"symbol": key_sym, "date": pa.array(dates)}),
                   keys_path)
    return {
        "keys": n_symbols * total_days,
        "keys_path": keys_path,
        "raw_lines": raw_lines,
        "drops": n_drops,
    }


# ---------------------------------------------------------------------------
# star-schema tables for the registry queries
# ---------------------------------------------------------------------------

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = np.array(["en", "zh", "es", "de", "fr"])
EVENT_TYPES = np.array(["view", "click", "signup", "purchase", "error"])


def _days(start: dt.date, offsets: np.ndarray) -> pa.Array:
    base = np.datetime64(start.isoformat(), "D")
    return pa.array((base + offsets).astype("datetime64[us]"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random word sequences, plus near-duplicate chains of a fixed shape:
    every 25th doc starts a chain of two more docs, each a copy of the
    previous one with a single word changed. The chains make the MinHash
    candidates and dedup clusters non-empty, and their fixed shape keeps
    the number of label-propagation rounds the same for every seed."""
    texts = [" ".join(rng.choice(VOCAB, size=int(rng.integers(40, 120))))
             for _ in range(n)]
    for head in range(0, n - 2, 25):
        for link in (head + 1, head + 2):
            words = texts[link - 1].split()
            words[int(rng.integers(len(words)))] = str(rng.choice(VOCAB))
            texts[link] = " ".join(words)
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": LANGS[rng.integers(0, 5, size=n)],
        "source": [f"src{i}" for i in rng.integers(0, 20, size=n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    centers = rng.normal(size=(10, dim))
    label = rng.integers(0, 10, size=n)
    v = centers[label] + rng.normal(scale=1.2, size=(n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    v = v.astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)),
        pa.array(v.reshape(-1)),
    )
    return pa.table({"vec_id": np.arange(n, dtype=np.int64),
                     "embedding": emb, "label": label.astype(np.int32)})


def write_tables(directory: str, seed: int, scale: float) -> dict:
    """The ten engine tables as ``<name>.parquet`` under ``directory``;
    ``scale`` = 0.01 matches the row counts of the sf0.01 test tables."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(directory, exist_ok=True)
    n_supp = max(10, int(10_000 * scale))
    n_cust = int(150_000 * scale)
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_ev = int(1_000_000 * scale)
    n_users = max(10, int(15_000 * scale))
    n_docs = int(50_000 * scale)
    n_vec = int(50_000 * scale)
    tables = {
        "region": pa.table({
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, size=n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": np.array(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                 "MACHINERY"])[rng.integers(0, 5, size=n_cust)],
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, size=n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{a} {b}" for a, b in zip(
                    rng.choice(["small", "red", "blue", "hot", "green",
                                "large", "shiny", "steel"], n_part),
                    rng.choice(["ring", "widget", "bolt", "gear", "plate",
                                "nut", "spring", "valve"], n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": np.array(["ECONOMY", "SMALL", "MEDIUM", "LARGE",
                                "PROMO", "STANDARD"])[
                rng.integers(0, 6, size=n_part)],
            "p_size": rng.integers(1, 51, size=n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        }),
    }
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, size=n_ord),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _days(dt.date(1995, 1, 1), rng.integers(0, 1700, n_ord)),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, size=n_ord)],
    })
    lines_per = rng.integers(1, 8, size=n_ord)
    n_li = int(lines_per.sum())
    orderkey = np.repeat(np.arange(n_ord, dtype=np.int64), lines_per)
    starts = np.repeat(np.cumsum(lines_per) - lines_per, lines_per)
    tables["lineitem"] = pa.table({
        "l_orderkey": orderkey,
        "l_partkey": rng.integers(0, n_part, size=n_li),
        "l_suppkey": rng.integers(0, n_supp, size=n_li),
        "l_linenumber": (np.arange(n_li) - starts + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, size=n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, size=n_li) / 100.0,
        "l_tax": rng.integers(0, 9, size=n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(dt.date(1995, 1, 2), rng.integers(0, 2498, n_li)),
    })
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, size=n_ev))
    tables["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us")
                       + ev_us.astype("timedelta64[us]")),
        "user_id": rng.integers(0, n_users, size=n_ev),
        "event_type": EVENT_TYPES[rng.integers(0, 5, size=n_ev)],
        "value": np.round(rng.exponential(50.0, size=n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n_ev)],
    })
    tables["documents"] = _documents(rng, n_docs)
    tables["embeddings"] = _embeddings(rng, n_vec)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
