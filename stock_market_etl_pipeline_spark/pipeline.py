"""End-to-end ETL pipeline orchestration (reference §3.1 lifecycle).

The reference's ``run_etl_pipeline`` (``src/pipeline.py:119-378``) runs
extract → transform → validate → load → summary → alert as eager stages.
Here one run is the ``SELECT 1`` health probe plus ONE Spark action, the
partitioned sink write. Everything else the result reports is a metric
observed (``DataFrame.observe``) while that write runs:

- the corrupt-line count, observed on the raw JSON frame before the
  corrupt filter (the frame still references every column, so Spark's
  rule against corrupt-column-only queries does not apply, and nothing
  is cached);
- the quality suite (validation gate, ≥90% like the reference), the
  loaded-row total and ``unique_symbols``, observed on the enriched
  frame the sink receives.

One shuffle feeds it all: right after the corrupt filter the rows are
repartitioned on ``hash(symbol)`` at ``spark.sql.shuffle.partitions``.
That partitioning satisfies the keep-last window on (symbol, date), the
enrich windows on symbol and the sink's own ``repartition(symbol)``
(same expression, same width, so Spark drops it), and the explicit width
keeps AQE from coalescing the writer into one task.

Spark rejects DISTINCT in observed metrics, so both distinct counts take
another exact form: ``unique_symbols`` is ``size(collect_set(symbol))``
(NULLs ignored, like ``count(DISTINCT)``), and the duplicate-key count
is Σ ``lag(struct(date)) <=> struct(date)`` over enrich's
``partitionBy(symbol).orderBy(date)`` window (see
``plans/quality.observe_quality_suite``).

The gate's outcome is known only once the write has finished, so the
validation report is written after the load. That changes no decision:
like the reference (``pipeline.py:244``) the pipeline loads on warning.
Alerts are returned as data (result records), not side effects — the
scheduler/mailer glue the reference bakes in (``scheduler.py``,
``src/alerts.py``) stays out of the engine by design (SURVEY.md §7.8).

Run: ``python -m stock_market_etl_pipeline_spark.pipeline <in> <out>``
where <in> is a directory of raw-quote JSON/parquet drops.
"""

from __future__ import annotations

import sys
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .io_sink import write_parquet
from .operators.clean import clean_quotes
from .operators.enrich import enrich
from .plans.quality import (
    Check,
    check_results,
    observe_quality_suite,
    save_validation_report,
    stock_quality_checks,
)
from .schema import RAW_QUOTE_SCHEMA
from .session import get_spark


@dataclass
class PipelineResult:
    success: bool
    validation_rate: float
    validation_passed: bool
    records_loaded: int
    unique_symbols: int
    sink_path: str
    report_path: str | None = None
    checks_passed: int = 0
    checks_total: int = 0
    corrupt_records: int = 0


def health_check(spark: SparkSession) -> bool:
    """S14: SELECT 1 liveness probe (reference ``dashboard/app.py:125-137``
    pings the database the same way before rendering)."""
    try:
        return spark.sql("SELECT 1 AS ok").collect()[0]["ok"] == 1
    except Exception:  # noqa: BLE001
        return False


@dataclass
class SinkPlan:
    """The frame ``run_pipeline`` writes and the observations it carries."""

    frame: DataFrame
    # the quality suite's metrics plus ``unique_symbols``
    quality: Observation
    # ``corrupt_records`` (JSON input only)
    corrupt: Observation | None


def sink_plan(
    spark: SparkSession,
    input_path: str,
    checks: list[Check],
    input_format: str = "json",
) -> SinkPlan:
    """Build, without running anything, the one-shuffle plan that
    ``run_pipeline`` hands to ``write_parquet``."""
    corrupt = None
    if input_format == "json":
        # PERMISSIVE + corrupt-record column: malformed JSON lines land in
        # __corrupt instead of silently becoming all-null rows; they are
        # counted, surfaced on the result, and excluded from the load.
        schema = T.StructType(
            RAW_QUOTE_SCHEMA.fields
            + [T.StructField("__corrupt", T.StringType(), True)]
        )
        corrupt = Observation()
        raw = (
            spark.read.schema(schema)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "__corrupt")
            .json(input_path)
            .observe(corrupt, F.count("__corrupt").alias("corrupt_records"))
            .filter(F.col("__corrupt").isNull())
            .drop("__corrupt")
        )
    else:
        raw = spark.read.schema(RAW_QUOTE_SCHEMA).parquet(input_path)
    # the one shuffle; write_parquet's repartition(symbol) uses the same
    # width, so Spark drops it as already satisfied
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    enriched = enrich(
        clean_quotes(raw.repartition(width, "symbol"))
        .drop("extracted_at", "data_source")
    )
    quality = Observation()
    frame = observe_quality_suite(
        enriched,
        checks,
        quality,
        extra_metrics=(
            F.size(F.collect_set("symbol")).alias("unique_symbols"),
        ),
    )
    return SinkPlan(frame, quality, corrupt)


def run_pipeline(
    spark: SparkSession,
    input_path: str,
    sink_path: str,
    input_format: str = "json",
    validation_threshold: float = 0.90,
    report_path: str | None = None,
) -> PipelineResult:
    if not health_check(spark):
        raise RuntimeError("Spark session failed the SELECT 1 health probe")
    checks = stock_quality_checks()
    plan = sink_plan(spark, input_path, checks, input_format)
    # the one action; the reference loads even on warning (pipeline.py:244).
    # A failed write raises here, before any Observation.get could block.
    write_parquet(plan.frame, sink_path)
    metrics = plan.quality.get
    ok, rate, results = check_results(
        metrics, checks, plan.frame.columns,
        success_threshold=validation_threshold,
    )
    if report_path:
        save_validation_report(results, rate, ok, report_path)
    return PipelineResult(
        success=True,
        validation_rate=rate,
        validation_passed=ok,
        records_loaded=metrics["__total"],
        unique_symbols=metrics["unique_symbols"],
        sink_path=sink_path,
        report_path=report_path,
        checks_passed=sum(1 for r in results if r.success),
        checks_total=len(results),
        corrupt_records=(
            0 if plan.corrupt is None else plan.corrupt.get["corrupt_records"]
        ),
    )


def main() -> None:
    if len(sys.argv) != 3:
        print(
            "usage: python -m stock_market_etl_pipeline_spark.pipeline "
            "<input_dir> <sink_dir>",
            file=sys.stderr,
        )
        raise SystemExit(2)
    spark = get_spark("etl-pipeline")
    result = run_pipeline(spark, sys.argv[1], sys.argv[2])
    print(asdict(result))


if __name__ == "__main__":
    main()
