"""Benchmark entry point.

    python3 perfbench/run.py --workload daily_etl --seed 1 --seconds 15 --trace 0

Runs one workload of ``BENCHMARK.json`` from the root of a checkout:
writes the seeded inputs under a private work directory, starts a
``local[<cores>]`` session with the engine's ``get_spark``, imports the
registry, warms up, then runs as many units of work in a closed loop as
take ``--seconds`` on a 4-core host, and checks every op's output. The
last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). The line before it carries the
host-load stamps, the op tail and, when traced, the per-span table.
Exits 1 when any output is wrong or the program fails, and 2 when the
engine package is not in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "stock_market_etl_pipeline_spark"
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
JVM_HEAP = "2g"

sys.path.insert(0, HERE)

import layers  # noqa: E402
from checks import Checker  # noqa: E402
from measure import (Tracer, host_stamp, parse_event_log,  # noqa: E402
                     rss_peak_mb)
from workloads import WORKLOADS, median  # noqa: E402


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _configure_env(work: str, event_log: str | None) -> None:
    """Keep every file Spark, Derby and Python write inside ``work``."""
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(_cores())
    os.environ["SPARK_DRIVER_MEMORY"] = JVM_HEAP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    # a heap sized up front keeps peak RSS from depending on when the
    # collector chose to grow it; -XX:-UsePerfData keeps the JVM's
    # hsperfdata file out of the system temp directory; a fixed set of
    # JIT compiler threads lets cpu_s leave their time out
    java = (f"-Xms{JVM_HEAP} -XX:-UsePerfData "
            "-XX:-UseDynamicNumberOfCompilerThreads "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-Dderby.system.home={work}")
    args = ["--driver-java-options", java,
            "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"]
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", f"spark.eventLog.dir={event_log}",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", "spark.eventLog.rolling.enabled=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def _setup(workload) -> tuple[object, dict]:
    """Session, registry import and the warm-up units; the sum is setup_s."""
    t0 = time.perf_counter()
    from stock_market_etl_pipeline_spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{_cores()}]")
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    from stock_market_etl_pipeline_spark import registry  # noqa: F401

    t2 = time.perf_counter()
    try:
        workload.bind(spark)
        for k in range(-workload.WARMUP_UNITS, 0):
            workload.unit(k, Tracer())
    except BaseException:
        _stop(spark)
        raise
    # the warm-up units' output checks are the benchmark's work, not set-up
    t3 = time.perf_counter() - workload.checker.seconds
    return spark, {"session.start_s": t1 - t0, "registry.import_s": t2 - t1,
                   "warmup_s": t3 - t2, "setup_s": t3 - t0}


E2E_UNITS = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s",
             "rows_per_s": "1/s", "cpu_s": "s", "rss_peak_mb": "MB"}


def end_to_end(setup_s: float, units, rows_per_unit: int,
               rss_mb: float) -> dict[str, float]:
    """The end-to-end metrics from a run's untraced units."""
    plain = [u for u in units if not u.traced]
    wall = median([u.wall_s for u in plain])
    return {
        "setup_s": setup_s,
        "wall_s": wall,
        "op_p50_s": median([o for u in plain for o in u.ops]),
        "rows_per_s": rows_per_unit / wall,
        "cpu_s": median([u.cpu_s for u in plain]),
        "rss_peak_mb": rss_mb,
    }


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _op_tail(ops: list[float]) -> dict | None:
    """Highest percentile with at least 10 ops beyond it."""
    n = len(ops)
    if n < 11:
        return None
    return {"pct": 100 * (n - 10) // n, "value": sorted(ops)[n - 11],
            "ops": n}


def run(name: str, seed: int, seconds: int, traced: bool, work: str) -> dict:
    checker = Checker()
    workload = WORKLOADS[name](work, seed, checker)
    workload.prepare(traced)
    event_log = os.path.join(work, "eventlog") if traced else None
    _configure_env(work, event_log)
    os.chdir(work)  # spark-warehouse, derby.log, metastore_db land here
    start = host_stamp()
    spark, setup = _setup(workload)
    try:
        tracer = Tracer(spark, enabled=traced)
        units = []
        # a traced run alternates plain and traced units, so the
        # difference between them is the span overhead
        for k in range(workload.units_for(seconds, traced)):
            units.append(workload.unit(
                k, tracer if traced and k % 2 else Tracer()))
        selfs = workload.self_times(tracer) if traced else {}
        rss = rss_peak_mb()
    finally:
        _stop(spark)
    end = host_stamp()

    ops = [o for u in units if not u.traced for o in u.ops]
    context = {"workload": name, "seed": seed,
               "unit_walls": [round(u.wall_s, 3) for u in units],
               "ops": len(ops), "fail_frac": checker.fail_frac,
               "setup": setup, "host_start": start, "host_end": end,
               "op_tail": _op_tail(ops), "errors": checker.errors[:10]}
    if traced:
        log = parse_event_log(event_log)
        metrics, table = layers.per_layer(setup, units, selfs,
                                          tracer, log)
        context["layer_table"] = table
        units_of = layers.UNITS
    else:
        metrics = end_to_end(setup["setup_s"], units, workload.rows_per_unit,
                             rss)
        units_of = E2E_UNITS
    print("# context " + json.dumps(context, default=str))
    return {
        "correct": checker.failed == 0 and checker.attempted > 0,
        "attempted": checker.attempted,
        "failed": checker.failed,
        "metrics": {k: {"value": v, "unit": units_of[k]}
                    for k, v in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "pipeline.py")):
        print(f"{PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.makedirs(WORK_ROOT, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=WORK_ROOT)
    cwd = os.getcwd()
    try:
        result = run(args.workload, args.seed, args.seconds,
                     bool(args.trace), work)
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)  # only when no other run is using it
        except OSError:
            pass
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
