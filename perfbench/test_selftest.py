"""Self-test of the benchmark's generator and correctness gate; needs no
Spark session. Run: ``python3 -m pytest perfbench/test_selftest.py -q``."""

from __future__ import annotations

import json
import os
import sys
from types import SimpleNamespace

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
from checks import Checker, check_pipeline, fingerprint  # noqa: E402
from workloads import RegistryTail  # noqa: E402


def _read_lines(directory):
    good, corrupt = [], 0
    for name in sorted(os.listdir(directory)):
        with open(os.path.join(directory, name)) as fh:
            for line in fh:
                try:
                    good.append(json.loads(line))
                except json.JSONDecodeError:
                    corrupt += 1
    return good, corrupt


def _num(s):
    try:
        return float(s)
    except (TypeError, ValueError):
        return None


def _clean(rows):
    """FIXTURES.md §1 cleaning rules, row by row, then keep-last."""
    kept = {}
    for r in rows:
        o, h, lo, c, v = (_num(r[k]) for k in
                          ("open", "high", "low", "close", "volume"))
        if None in (o, h, lo, c, v):
            continue
        if h < lo or h < o or h < c or lo > o or lo > c:
            continue
        if min(o, h, lo, c) <= 0 or v < 0:
            continue
        key = (r["symbol"], r["date"])
        if key not in kept or r["extracted_at"] > kept[key]["extracted_at"]:
            kept[key] = r
    return kept


def test_single_drop_expected_counts(tmp_path):
    exp = gen.write_single_drop(str(tmp_path / "drop"), seed=7, n_symbols=3,
                                n_days=12, dirty_per_kind=2, malformed=3,
                                dup_frac=0.2)
    assert len(os.listdir(tmp_path / "drop")) == gen.FILES_PER_DROP
    rows, corrupt = _read_lines(tmp_path / "drop")
    assert corrupt == exp["corrupt_records"] == 3
    kept = _clean(rows)
    assert len(kept) == exp["records_loaded"] == 3 * 12 + 1
    assert len({s for s, _ in kept}) == exp["unique_symbols"] == 4
    assert sum(int(r["volume"]) for r in kept.values()) == exp["volume_sum"]
    # planted kinds are really there: duplicates, dirty rows, the spike
    assert len(rows) > len(kept) + 6 * 2
    assert any(r["high"] == gen.SPIKE_HIGH for r in kept.values())
    assert (exp["checks_passed"], exp["checks_total"]) == (14, 15)


def test_same_seed_same_inputs(tmp_path):
    a = gen.write_single_drop(str(tmp_path / "a"), 3, 2, 5)
    b = gen.write_single_drop(str(tmp_path / "b"), 3, 2, 5)
    assert a == b
    for name in os.listdir(tmp_path / "a"):
        assert (tmp_path / "a" / name).read_text() == \
            (tmp_path / "b" / name).read_text()


def test_multi_drop_keys(tmp_path):
    exp = gen.write_multi_drop(str(tmp_path / "landing"), seed=5, n_drops=3,
                               n_symbols=2, days_per_drop=8)
    keys = set()
    for k in range(3):
        rows, corrupt = _read_lines(tmp_path / "landing" / f"drop-{k:02d}")
        assert corrupt == 0
        keys |= set(_clean(rows))
    assert len(keys) == exp["keys"] == 2 * 4 * 4
    table = pq.read_table(exp["keys_path"]).to_pylist()
    assert {(r["symbol"], r["date"].isoformat()) for r in table} == keys


def test_tables_are_seeded(tmp_path):
    a = gen.write_tables(str(tmp_path / "a"), seed=2, scale=0.001)
    b = gen.write_tables(str(tmp_path / "b"), seed=2, scale=0.001)
    assert a == b and a["lineitem"] > 0 and a["documents"] > 0
    assert pq.read_table(tmp_path / "a" / "lineitem.parquet").equals(
        pq.read_table(tmp_path / "b" / "lineitem.parquet"))


def test_pipeline_gate_catches_a_lost_row(tmp_path):
    exp = gen.write_single_drop(str(tmp_path / "drop"), 1, 3, 10)
    good = SimpleNamespace(
        records_loaded=exp["records_loaded"],
        corrupt_records=exp["corrupt_records"],
        unique_symbols=exp["unique_symbols"],
        checks_passed=exp["checks_passed"], checks_total=exp["checks_total"])
    checker = Checker()
    checker.record("ok", check_pipeline(good, exp, exp["records_loaded"],
                                        exp["volume_sum"]))
    assert checker.fail_frac == 0
    short = SimpleNamespace(**{**vars(good),
                               "records_loaded": exp["records_loaded"] - 1})
    checker.record("short", check_pipeline(
        short, exp, exp["records_loaded"] - 1, exp["volume_sum"] - 1))
    assert checker.failed == 1 and checker.fail_frac > 0


def test_query_gate_catches_a_lost_row():
    rows = [(1, "a", 0.5), (2, "b", 1.25), (3, "c", None)]
    cols = ["id", "name", "score"]
    wl = RegistryTail.__new__(RegistryTail)
    wl.checker, wl.oracles, wl.reference = Checker(), {}, {}
    wl._check("q", 0, cols, rows)
    wl._check("q", 1, list(reversed(cols)),
              [tuple(reversed(r)) for r in reversed(rows)])
    assert wl.checker.fail_frac == 0
    wl._check("q", 2, cols, rows[:-1])
    assert wl.checker.failed == 1 and wl.checker.fail_frac > 0


def test_fingerprint_rounds_floats_like_the_oracle_gate():
    a = fingerprint(["x"], [(0.1 + 0.2,)])
    b = fingerprint(["x"], [(0.3,)])
    assert a == b
    assert fingerprint(["x"], [(0.3,)]) != fingerprint(["x"], [(0.31,)])


def test_benchmark_json_names_what_the_run_prints():
    import layers
    import run

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == layers.UNITS
