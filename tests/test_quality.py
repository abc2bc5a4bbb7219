"""Data-quality suite tests (§2.8): one-pass conditional aggregates,
mostly-thresholds, compound uniqueness, ≥90% gate."""

import pytest
from pyspark.sql import functions as F

from stock_market_etl_pipeline_spark.operators.clean import clean_quotes
from stock_market_etl_pipeline_spark.plans.quality import (
    run_quality_suite,
    stock_quality_checks,
    validation_aggregates,
)


@pytest.fixture(scope="module")
def cleaned(raw_quotes):
    from stock_market_etl_pipeline_spark.operators.enrich import enrich

    return enrich(clean_quotes(raw_quotes).drop("extracted_at", "data_source")).cache()


def test_clean_data_passes_suite(cleaned):
    ok, rate, results = run_quality_suite(cleaned, stock_quality_checks())
    assert ok
    assert rate == 1.0
    # 4 exists + 3 not-null + 4 range + volume + change + high>low + unique
    assert len(results) == 15
    names = {r.name for r in results}
    assert "compound_unique_symbol_date" in names


def test_mostly_threshold_allows_outliers(spark):
    # 96 in-range + 4 outliers = 96% >= mostly 0.95
    rows = [("S", f"2024-01-{i%28+1:02d}", 10.0) for i in range(96)]
    rows += [("S", f"2024-02-{i+1:02d}", 99.0) for i in range(4)]
    df = spark.createDataFrame(rows, "symbol string, date string, v double")
    from stock_market_etl_pipeline_spark.plans.quality import Check, _fraction

    checks = [Check("v_mostly", _fraction(F.col("v").between(-50, 50)), mostly=0.95)]
    ok, rate, results = run_quality_suite(df, checks, unique_key=None)
    assert results[0].success
    assert results[0].pass_fraction == pytest.approx(0.96)


def test_duplicate_keys_fail_uniqueness(spark):
    df = spark.createDataFrame(
        [("A", "2024-01-01", 1.0), ("A", "2024-01-01", 2.0)],
        "symbol string, date string, close double",
    )
    ok, rate, results = run_quality_suite(
        df, [], unique_key=("symbol", "date"), success_threshold=1.0
    )
    assert not ok
    assert not results[0].success


def test_validation_aggregates_zero_violations(cleaned):
    row = validation_aggregates(cleaned).collect()[0]
    assert row["null_symbol"] == 0
    assert row["high_lt_low"] == 0
    assert row["duplicate_keys"] == 0
    assert row["total_rows"] == 35


def _observed_suite(df, checks):
    """observe_quality_suite's outcome after one action on its frame."""
    from pyspark.sql import Observation

    from stock_market_etl_pipeline_spark.plans.quality import (
        check_results,
        observe_quality_suite,
    )

    obs = Observation()
    frame = observe_quality_suite(df, checks, obs)
    frame.write.format("noop").mode("overwrite").save()
    return check_results(obs.get, checks, frame.columns)


def test_observed_suite_matches_agg_suite_on_range_failures(spark):
    """The HUGE fixture (prices ~20000) fails all four range checks; the
    observed form reports the same CheckResult list as the agg form."""
    from conftest import make_raw_rows
    from stock_market_etl_pipeline_spark.operators.enrich import enrich
    from stock_market_etl_pipeline_spark.schema import RAW_QUOTE_SCHEMA

    raw = spark.createDataFrame(make_raw_rows("HUGE", 10, base=20000.0),
                                RAW_QUOTE_SCHEMA)
    enriched = enrich(clean_quotes(raw).drop("extracted_at", "data_source"))
    checks = stock_quality_checks()
    expected = run_quality_suite(enriched, checks)
    assert not expected[0]
    assert _observed_suite(enriched, checks) == expected


def test_observed_suite_matches_agg_suite_on_duplicate_keys(cleaned):
    """Planted duplicates: one repeated (symbol, date) key, a (symbol,
    NULL) key held by two rows, and a lone NULL-date row that is NOT a
    duplicate. The lag-based distinct count must equal count(DISTINCT)."""
    c = F.col
    null_date = F.lit(None).cast("date")
    extra = (
        cleaned.filter((c("symbol") == "AAPL") & (c("date") == "2024-01-05"))
        .unionByName(
            cleaned.filter(
                (c("symbol") == "MSFT")
                & c("date").isin("2024-01-02", "2024-01-03")
            ).withColumn("date", null_date)
        )
        .unionByName(
            cleaned.filter(c("symbol") == "ONE").withColumn("date", null_date)
        )
    )
    planted = cleaned.unionByName(extra)
    checks = stock_quality_checks()
    expected = run_quality_suite(planted, checks)
    unique = expected[2][-1]
    assert not unique.success
    # 39 rows, 37 keys: the AAPL repeat and the second (MSFT, NULL) row
    assert unique.pass_fraction == pytest.approx(37 / 39)
    assert _observed_suite(planted, checks) == expected
