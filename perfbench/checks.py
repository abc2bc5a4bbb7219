"""Output checks. Every op is checked outside its timed region; a failed
check counts the op as failed, so ``failed / attempted`` is the run's
failure fraction and any failure makes the run incorrect."""

from __future__ import annotations

import hashlib
import math
import os
import time
from contextlib import contextmanager


class Checker:
    """Counts ops attempted and failed, keeping one line per failure, and
    the seconds spent checking (kept out of every timed figure)."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.seconds = 0.0

    @contextmanager
    def timing(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.seconds += time.perf_counter() - t0

    def record(self, op: str, problems: list[str]) -> bool:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.errors.append(f"{op}: " + "; ".join(problems))
        return not problems

    @property
    def fail_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


def _canon(v) -> str:
    """Cell canonicalization of ``tools/verify_oracle.py``: floats as the
    repr of a 9-dp rounding, NaN and NULL as markers, the rest by repr."""
    if v is None:
        return "∅"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 9))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return repr(v)


def fingerprint(columns: list[str], rows) -> tuple[int, str]:
    """(row count, order-insensitive hash) of a result; columns are
    compared by name, so their order does not matter."""
    idx = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(_canon(r[i]) for i in idx) for r in rows)
    h = hashlib.sha256()
    h.update(("|".join(sorted(columns)) + "\n").encode())
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return len(lines), h.hexdigest()


def duck_fingerprint(sf_dir: str, tables, sql: str) -> tuple[int, str]:
    """Fingerprint of the registry's DuckDB oracle over the same files."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(sf_dir, t + '.parquet')}'")
        res = con.sql(sql)
        return fingerprint(res.columns, res.fetchall())
    finally:
        con.close()


def check_pipeline(result, expected: dict, sink_rows: int,
                   sink_volume: int) -> list[str]:
    """``run_pipeline``'s result and sink against the generator's values."""
    problems = []
    got = {
        "records_loaded": result.records_loaded,
        "corrupt_records": result.corrupt_records,
        "unique_symbols": result.unique_symbols,
        "checks_passed": result.checks_passed,
        "checks_total": result.checks_total,
    }
    for key, value in got.items():
        if value != expected[key]:
            problems.append(f"{key}={value} want {expected[key]}")
    if sink_rows != expected["records_loaded"]:
        problems.append(f"sink rows={sink_rows} want {expected['records_loaded']}")
    if sink_volume != expected["volume_sum"]:
        problems.append(f"sink volume sum={sink_volume} want {expected['volume_sum']} "
                        "(keep-last lost)")
    return problems


def check_stream_sink(spark, sink_dir: str, quarantine_dir: str,
                      expected: dict) -> list[str]:
    """The sink holds exactly the expected (symbol, date) keys, once
    each, and nothing was quarantined."""
    from pyspark.sql import functions as F

    problems = []
    sink = spark.read.parquet(sink_dir).select("symbol", "date")
    want = spark.read.parquet(expected["keys_path"])
    n, distinct = sink.agg(F.count(F.lit(1)),
                           F.countDistinct("symbol", "date")).first()
    if n != distinct:
        problems.append(f"{n - distinct} duplicate keys in sink")
    if distinct != expected["keys"]:
        problems.append(f"sink keys={distinct} want {expected['keys']}")
    missing = want.exceptAll(sink).limit(1).count()
    extra = sink.exceptAll(want).limit(1).count()
    if missing or extra:
        problems.append(f"key set differs (missing={missing}, extra={extra})")
    if os.path.isdir(quarantine_dir) and any(
        f.endswith(".parquet")
        for _, _, files in os.walk(quarantine_dir) for f in files
    ):
        problems.append("quarantine is not empty")
    return problems
