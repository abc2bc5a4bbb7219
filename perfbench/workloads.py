"""The benchmark's workloads. Each is a closed loop with one client: the
next unit of work starts when the previous one has finished and been
checked. A unit is one ``run_pipeline`` call (one op) or one pass over
a fixed list of registry queries (one op per query).

Only the program's public functions are called, on inputs generated
from the seed before the Spark session starts.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import gen
from checks import Checker, check_pipeline, check_stream_sink, \
    duck_fingerprint, fingerprint
from measure import Tracer, catalyst_phases_ms, tree_cpu_s


@dataclass
class Unit:
    wall_s: float
    cpu_s: float
    ops: list[float]
    traced: bool
    detail: dict = field(default_factory=dict)


class Workload:
    name = ""
    why = ""
    # Units run before measuring; they are part of setup_s.
    WARMUP_UNITS = 1
    # Seconds one unit and its check take on a 4-core host. A run measures
    # a fixed number of units sized from --seconds with it, not "until the
    # clock runs out": units keep speeding up for minutes as the JIT warms,
    # so a count that varied with host speed would move the median with it.
    UNIT_S = 1.0

    def __init__(self, work: str, seed: int, checker: Checker) -> None:
        self.work = work
        self.seed = seed
        self.checker = checker
        self.spark = None
        self.rows_per_unit = 0

    def units_for(self, seconds: int, traced: bool) -> int:
        """Measured units for a run of ``seconds``; a traced run needs at
        least one plain and one traced unit."""
        return max(2 if traced else 1, round(seconds / self.UNIT_S))

    def prepare(self, traced: bool) -> None:
        """Write the seeded inputs; runs before Spark starts."""

    def bind(self, spark) -> None:
        self.spark = spark

    def unit(self, k: int, tracer: Tracer) -> Unit:
        raise NotImplementedError

    def self_times(self, tracer: Tracer) -> dict:
        """Traced run only: each layer timed alone on its input."""
        return {}


# ---------------------------------------------------------------------------
# batch pipeline and streaming ingest
# ---------------------------------------------------------------------------

def _materialise(df):
    df = df.cache()
    n = df.count()
    return df, n


def layer_self_times(spark, tracer: Tracer, input_path: str, out: str) -> dict:
    """Time sources → clean → enrich → quality → sink one layer at a
    time, each fed the previous layer's cached output, under spans."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from stock_market_etl_pipeline_spark.io_sink import write_parquet
    from stock_market_etl_pipeline_spark.operators.clean import clean_quotes
    from stock_market_etl_pipeline_spark.operators.enrich import enrich
    from stock_market_etl_pipeline_spark.plans.quality import (
        run_quality_suite, stock_quality_checks)
    from stock_market_etl_pipeline_spark.schema import RAW_QUOTE_SCHEMA

    schema = T.StructType(RAW_QUOTE_SCHEMA.fields
                          + [T.StructField("__corrupt", T.StringType(), True)])
    m: dict = {}
    with tracer.span("sources", "json") as s:
        raw, m["sources.rows_out"] = _materialise(
            spark.read.schema(schema).option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "__corrupt").json(input_path))
    m["sources.exec_s"] = s["end"] - s["start"]
    ok = raw.filter(F.col("__corrupt").isNull()).drop("__corrupt")
    ok, m["clean.rows_in"] = _materialise(ok)
    with tracer.span("clean", "clean_quotes") as s:
        cleaned, m["clean.rows_out"] = _materialise(
            clean_quotes(ok).drop("extracted_at", "data_source"))
    m["clean.exec_s"] = s["end"] - s["start"]
    m["clean.keep_ratio"] = m["clean.rows_out"] / max(m["clean.rows_in"], 1)
    with tracer.span("enrich", "enrich") as s:
        enriched, _ = _materialise(enrich(cleaned))
    m["enrich.exec_s"] = s["end"] - s["start"]
    m["_enrich_group"] = s["group"]
    with tracer.span("quality", "run_quality_suite") as s:
        run_quality_suite(enriched, stock_quality_checks())
    m["quality.exec_s"] = s["end"] - s["start"]
    m["quality.jobs"] = s["jobs"]
    sink = os.path.join(out, "layer-sink")
    with tracer.span("sink", "write_parquet") as s:
        write_parquet(enriched, sink)
    m["sink.exec_s"] = s["end"] - s["start"]
    files = [os.path.join(d, f) for d, _, fs in os.walk(sink)
             for f in fs if f.endswith(".parquet")]
    m["sink.files_written"] = len(files)
    m["sink.bytes_written_mb"] = sum(os.path.getsize(f) for f in files) / 2**20
    for df in (enriched, cleaned, ok, raw):
        df.unpersist()
    shutil.rmtree(sink, ignore_errors=True)
    return m


def drain_stream(spark, tracer: Tracer, landing: str, base: str,
                 expected: dict, checker: Checker) -> list[dict]:
    """One ``availableNow`` drain of ``start_pipeline_stream`` over every
    drop in ``landing``; checks the sink and returns the progress."""
    from stock_market_etl_pipeline_spark.streaming.ingest import \
        start_pipeline_stream

    sink, quarantine = f"{base}/sink", f"{base}/quarantine"
    with tracer.span("stream", "drain"):
        query = start_pipeline_stream(
            spark, landing + "/*", sink, quarantine, f"{base}/checkpoint",
            exactly_once=True)
        query.awaitTermination()
    progress = [dict(p) for p in query.recentProgress]
    problems = check_stream_sink(spark, sink, quarantine, expected)
    if not any(p["numInputRows"] for p in progress):
        problems.append("no micro-batch carried input")
    checker.record("drain", problems)
    shutil.rmtree(base, ignore_errors=True)
    return progress


class DailyEtl(Workload):
    name = "daily_etl"
    why = ("the product's daily job: one write-heavy batch through sources, "
           "clean, enrich, quality gate and partitioned sink")
    SYMBOLS, DAYS = 60, 250
    WARMUP_UNITS, UNIT_S = 2, 4.5
    # traced run only: a small availableNow ingest for the stream counters
    DROPS, DROP_SYMBOLS, DROP_DAYS = 3, 40, 120

    def prepare(self, traced: bool) -> None:
        self.drop = os.path.join(self.work, "drop")
        self.expected = gen.write_single_drop(self.drop, self.seed,
                                              self.SYMBOLS, self.DAYS)
        self.rows_per_unit = self.expected["raw_lines"]
        if traced:
            self.landing = os.path.join(self.work, "landing")
            self.stream_expected = gen.write_multi_drop(
                self.landing, self.seed, self.DROPS, self.DROP_SYMBOLS,
                self.DROP_DAYS)

    def unit(self, k: int, tracer: Tracer) -> Unit:
        from pyspark.sql import functions as F

        from stock_market_etl_pipeline_spark.pipeline import run_pipeline

        sink = os.path.join(self.work, f"etl-sink-{k}")
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        with tracer.span("pipeline", "run_pipeline", unit=k):
            result = run_pipeline(self.spark, self.drop, sink)
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s() - cpu0
        with self.checker.timing():
            rows, volume = self.spark.read.parquet(sink).agg(
                F.count(F.lit(1)), F.sum("volume")).first()
            self.checker.record(f"run_pipeline#{k}", check_pipeline(
                result, self.expected, rows, volume))
            shutil.rmtree(sink, ignore_errors=True)
        return Unit(wall, cpu, [wall], tracer.enabled)

    def self_times(self, tracer: Tracer) -> dict:
        m = layer_self_times(self.spark, tracer, self.drop, self.work)
        m["_stream_progress"] = drain_stream(
            self.spark, tracer, self.landing, os.path.join(self.work, "stream"),
            self.stream_expected, self.checker)
        return m


# ---------------------------------------------------------------------------
# registry queries
# ---------------------------------------------------------------------------

class RegistryTail(Workload):
    """One unit = build every query, then collect its rows, as a caller
    reading a result would; every result here is at most a few hundred
    rows, so the collect costs what a ``noop`` write would, and the
    check needs no second execution. Each rep's rows must match the
    run's first rep, which is checked against the registry's DuckDB
    oracle where one exists."""

    name = "registry_tail"
    why = ("read-only registry path: similarity, dedup, graph and the "
           "Arrow boundary; never runs clean/enrich/quality/sink")
    # An odd count with well-separated latencies keeps op_p50_s inside
    # one query's values (dedup_minhash_lsh) instead of the gap between
    # two queries, where it would jump with small changes in either.
    QUERIES = (
        "dedup_minhash_lsh", "dedup_clusters", "embedding_cosine_topk",
        "bootstrap_order_value_ci", "theil_sen_trend",
    )
    # table each query reads most rows from, for rows_per_s
    READS = {
        "dedup_minhash_lsh": "documents", "dedup_clusters": "documents",
        "embedding_cosine_topk": "embeddings",
        "bootstrap_order_value_ci": "orders", "theil_sen_trend": "lineitem",
    }
    SCALE = 0.002
    WARMUP_UNITS, UNIT_S = 2, 5.0

    def prepare(self, traced: bool) -> None:
        self.sf = os.path.join(self.work, "sf")
        self.table_rows = gen.write_tables(self.sf, self.seed, self.SCALE)
        self.rows_per_unit = sum(self.table_rows[self.READS[q]]
                                 for q in self.QUERIES)
        self.reference: dict[str, tuple[int, str]] = {}

    def bind(self, spark) -> None:
        from stock_market_etl_pipeline_spark import registry

        super().bind(spark)
        self.fns = registry.queries()
        self.oracles = registry.oracle_sql()

    def _check(self, name: str, k: int, columns, rows) -> None:
        with self.checker.timing():
            self._compare(name, k, fingerprint(columns, rows))

    def _compare(self, name: str, k: int, got: tuple[int, str]) -> None:
        problems = []
        if name not in self.reference:
            if name in self.oracles:
                from stock_market_etl_pipeline_spark.sources.tables import \
                    TABLE_NAMES

                want = duck_fingerprint(self.sf, TABLE_NAMES,
                                        self.oracles[name])
                if got != want:
                    problems.append(f"oracle rows={want[0]} spark rows={got[0]}"
                                    " or hash differs")
            elif got[0] == 0:
                problems.append("empty result")
            self.reference[name] = got
        elif got != self.reference[name]:
            problems.append(f"rep differs from first rep (rows {got[0]} vs "
                            f"{self.reference[name][0]})")
        self.checker.record(f"{name}#{k}", problems)

    def unit(self, k: int, tracer: Tracer) -> Unit:
        ops, cpu, detail = [], 0.0, {}
        for name in self.QUERIES:
            cpu0 = tree_cpu_s()
            t0 = time.perf_counter()
            with tracer.span("query", f"{name}.build", unit=k) as b:
                df = self.fns[name](self.spark, self.sf)
            t1 = time.perf_counter()
            with tracer.span("query", f"{name}.exec", unit=k):
                rows = [tuple(r) for r in df.collect()]
            t2 = time.perf_counter()
            cpu += tree_cpu_s() - cpu0
            ops.append(t2 - t0)
            d = {"build_s": t1 - t0, "exec_s": t2 - t1}
            if tracer.enabled:
                d["build_jobs"] = b["jobs"]
                d["catalyst"] = catalyst_phases_ms(df)
            detail[name] = d
            self._check(name, k, df.columns, rows)
        return Unit(sum(ops), cpu, ops, tracer.enabled, {"queries": detail})


WORKLOADS = {w.name: w for w in (DailyEtl, RegistryTail)}


def median(values) -> float:
    return statistics.median(values) if values else 0.0
