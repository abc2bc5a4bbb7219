"""End-to-end pipeline test: raw JSON drops → cleaned/enriched parquet sink
+ validation gate + summary, through the real CLI-shaped entrypoint."""

import threading

from pyspark.sql import functions as F

from stock_market_etl_pipeline_spark.pipeline import run_pipeline
from stock_market_etl_pipeline_spark.schema import RAW_QUOTE_SCHEMA

from conftest import make_raw_rows


def test_pipeline_end_to_end(spark, tmp_path, raw_quotes):
    inp = str(tmp_path / "landing")
    sink = str(tmp_path / "warehouse")
    raw_quotes.write.mode("overwrite").json(inp)

    result = run_pipeline(spark, inp, sink)

    assert result.success
    assert result.validation_passed
    assert result.records_loaded == 35  # 25 AAPL + 8 MSFT + DUP + ONE
    assert result.unique_symbols == 4

    out = spark.read.parquet(sink)
    assert out.count() == 35
    # partitioned layout by symbol
    assert any(p.startswith("symbol=") for p in
               __import__("os").listdir(sink) if not p.startswith("_"))
    # enrichment columns present and windowed values sane
    aapl = out.filter(F.col("symbol") == "AAPL").orderBy("date").collect()
    assert aapl[0]["daily_change"] is None
    assert aapl[1]["daily_change"] == 1.0


def test_pipeline_report_and_warning_gate(spark, tmp_path):
    """Failing dataset → validation gate trips (<90%), pipeline still loads
    (reference proceeds on warning, src/pipeline.py:227-251), a JSON report
    artifact is persisted, and the alert layer classifies it 'warning'."""
    import json

    from stock_market_etl_pipeline_spark.alerts import classify, email_payload

    inp = str(tmp_path / "landing3")
    sink = str(tmp_path / "warehouse3")
    report = str(tmp_path / "logs" / "data_quality.json")
    # prices ~20000 survive cleaning (positive, OHLC-consistent) but fail
    # all four (0, 10000) range expectations -> 11/15 = 73% < 90%
    df = spark.createDataFrame(make_raw_rows("HUGE", 10, base=20000.0),
                               RAW_QUOTE_SCHEMA)
    df.write.mode("overwrite").json(inp)

    result = run_pipeline(spark, inp, sink, report_path=report)

    assert result.success                    # loaded anyway
    assert not result.validation_passed      # gate tripped
    assert result.checks_total == 15 and result.checks_passed == 11
    assert classify(result) == "warning"
    assert email_payload(result, "r1")["status"] == "warning"

    with open(report) as f:
        rep = json.load(f)
    assert rep["success"] is False
    assert rep["passed_checks"] == 11 and rep["total_checks"] == 15
    assert rep["success_rate"] == round(11 / 15 * 100, 1)
    failed = {e["expectation"] for e in rep["failed_expectations"]}
    assert failed == {"range_open", "range_high", "range_low", "range_close"}
    # the loaded sink still has the rows (warning ≠ abort)
    assert spark.read.parquet(sink).count() == 10


def test_health_check(spark):
    from stock_market_etl_pipeline_spark.pipeline import health_check

    assert health_check(spark)


def test_pipeline_rerun_overwrites(spark, tmp_path):
    inp = str(tmp_path / "landing2")
    sink = str(tmp_path / "warehouse2")
    df = spark.createDataFrame(make_raw_rows("IBM", 10), RAW_QUOTE_SCHEMA)
    df.write.mode("overwrite").json(inp)
    r1 = run_pipeline(spark, inp, sink)
    r2 = run_pipeline(spark, inp, sink)  # idempotent overwrite, no dup rows
    assert r1.records_loaded == r2.records_loaded == 10
    assert spark.read.parquet(sink).count() == 10


def test_pipeline_counts_corrupt_json_lines(spark, tmp_path):
    """Malformed JSON lines are counted and excluded, never silently
    loaded as all-null rows."""
    import os

    inp = str(tmp_path / "landing4")
    sink = str(tmp_path / "warehouse4")
    df = spark.createDataFrame(make_raw_rows("IBM", 10), RAW_QUOTE_SCHEMA)
    df.coalesce(1).write.mode("overwrite").json(inp)
    # a separate malformed drop file (appending to a Spark-written part
    # file would break its .crc sidecar, a different failure mode)
    with open(os.path.join(inp, "part-bad-drop.json"), "w") as f:
        f.write('{"symbol": "BROKEN", "date": \n')   # truncated JSON
        f.write("not json at all\n")

    result = run_pipeline(spark, inp, sink)
    assert result.corrupt_records == 2
    assert result.records_loaded == 10
    assert spark.read.parquet(sink).count() == 10


def test_session_codegen_cache_sized_to_plan_working_set(spark):
    """NOTES rule 16: the whole-stage-codegen class cache must exceed
    the multi-plan working set (default 100 entries recompiled every
    headline query on every bench pass — a 30-60% phantom regression).
    Pin the session config so a builder refactor can't silently drop it."""
    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) >= 4096


def test_pipeline_all_malformed_drop_loads_nothing(spark, tmp_path):
    """Every line malformed: the observed metrics still arrive (zero
    rows reach the sink) and the corrupt count is exact."""
    inp = tmp_path / "landing5"
    inp.mkdir()
    (inp / "bad.json").write_text('{"symbol": "X", \n' "nope\n" "{{{\n")

    result = run_pipeline(spark, str(inp), str(tmp_path / "warehouse5"))
    assert result.corrupt_records == 3
    assert result.records_loaded == 0
    assert result.unique_symbols == 0
    assert not result.validation_passed


def test_pipeline_failed_write_raises(spark, tmp_path):
    """A sink path under a regular file cannot be written: run_pipeline
    raises the write's error and never blocks on the observed metrics."""
    inp = str(tmp_path / "landing6")
    spark.createDataFrame(make_raw_rows("IBM", 5), RAW_QUOTE_SCHEMA) \
        .write.mode("overwrite").json(inp)
    blocker = tmp_path / "not_a_dir"
    blocker.write_text("x")
    outcome = []

    def run():
        try:
            run_pipeline(spark, inp, str(blocker / "sink"))
            outcome.append(None)
        except Exception as e:  # noqa: BLE001
            outcome.append(e)

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(timeout=300)
    assert outcome, "run_pipeline hung after a failed write"
    assert outcome[0] is not None
    assert "not a directory" in str(outcome[0])


def test_pipeline_is_one_action(spark, tmp_path, raw_quotes):
    """The health probe plus one write: at most 3 Spark jobs per run (the
    shuffle map stage and the write), with no cache build, no quality
    aggregate and no summary collect of their own."""
    inp = str(tmp_path / "landing7")
    raw_quotes.write.mode("overwrite").json(inp)
    sc = spark.sparkContext
    group = "test_pipeline_is_one_action"
    sc.setJobGroup(group, "run_pipeline")
    try:
        result = run_pipeline(spark, inp, str(tmp_path / "warehouse7"))
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert result.records_loaded == 35
    assert len(jobs) <= 3, jobs
