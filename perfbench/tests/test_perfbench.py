"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The generator tests take a second.  The end-to-end tests run the benchmark
itself (a Spark session each, about a minute apiece).
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import run  # noqa: E402


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


@pytest.mark.parametrize("workload", sorted(gen.SIZES))
def test_same_seed_same_inputs_other_seed_other_inputs(tmp_path, workload):
    a, b, c = (str(tmp_path / n) for n in "abc")
    sa = gen.generate(workload, 7, a)
    sb = gen.generate(workload, 7, b)
    sc = gen.generate(workload, 8, c)
    names = [f"{t}.parquet" for t in gen.TABLES]
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert match == names and not mismatch and not errors
    _, differ, _ = filecmp.cmpfiles(a, c, names, shallow=False)
    assert {"events.parquet", "documents.parquet", "embeddings.parquet"} <= set(differ)
    assert sa["input_rows"] == sb["input_rows"] == sc["input_rows"]
    assert sa["documents_dups"]["near_dup"] > 0


def test_inputs_pass_engine_schema_validation(tmp_path):
    from ssis_to_dbt_spark.schema import TESTDATA_SCHEMAS
    from ssis_to_dbt_spark.sources import readers

    gen.generate("curation_corpus", 3, str(tmp_path))
    for name, schema in TESTDATA_SCHEMAS.items():
        readers._check_schema_drift(str(tmp_path / f"{name}.parquet"), schema, name)


def test_oracle_compare_detects_wrong_values_and_kinds(tmp_path):
    import pyarrow as pa
    from oracle import Oracle

    gen.generate("curation_corpus", 3, str(tmp_path))
    oracle = Oracle(str(tmp_path))
    sql = "SELECT CAST(r_regionkey AS BIGINT) AS k, r_name AS n FROM region"
    names = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    same = pa.table({"n": names[::-1], "k": pa.array([4, 3, 2, 1, 0], pa.int32())})
    assert oracle.compare(same, sql) is None  # order and int width ignored
    wrong = pa.table({"k": [0, 1, 2, 3, 5], "n": names})
    assert "not in oracle" in oracle.compare(wrong, sql)
    as_double = pa.table({"k": [0.0, 1.0, 2.0, 3.0, 4.0], "n": names})
    assert oracle.compare(as_double, sql) is not None  # a double is not an int
    assert "rowcount" in oracle.compare(pa.table({"k": [0], "n": ["AFRICA"]}), sql)
    oracle.close()


def test_self_time_and_totals_leave_out_children_and_probes():
    import probes

    tr = probes.Tracer(enabled=True)
    tr.run_id = "r"
    tr.spans = [  # hand-made timeline: pipeline.run [0, 10] holds a nested
        # pipeline.run [1, 3], catalog [3, 6] and an untimed probe [6, 8]
        {"id": 0, "name": "pipeline.run", "parent": None, "run": "r", "start": 0.0, "end": 10.0},
        {"id": 1, "name": "pipeline.run", "parent": 0, "run": "r", "start": 1.0, "end": 3.0},
        {"id": 2, "name": "catalog.construct", "parent": 0, "run": "r", "start": 3.0, "end": 6.0},
        {"id": 3, "name": "probe.after_op", "parent": 0, "run": "r", "start": 6.0, "end": 8.0},
    ]
    # outer pipeline.run: 10 - 2 - 3 - 2; inner: 2; the probe has none
    assert tr.self_times({"r"}) == {"pipeline": 3.0 + 2.0, "catalog": 3.0}
    assert tr.total("pipeline.run", {"r"}) == 8.0
    assert tr.total("catalog.construct", {"r"}) == 3.0
    assert tr.total("pipeline.run", {"other"}) == 0.0


def test_parse_sql_metric():
    import probes

    assert probes.parse_sql_metric("10.0 MiB") == 10 * 2**20
    assert probes.parse_sql_metric("692 ms") == pytest.approx(0.692)
    assert probes.parse_sql_metric(
        "total (min, med, max (stageId: taskId))\n768.0 KiB (256.0 KiB, 256.0 KiB, "
        "256.0 KiB (stage 4.0: task 4))") == 768 * 1024


def test_metric_tables_match_benchmark_json():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(gen.SIZES)


def _run(*args):
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), *args],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    return proc.returncode, json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace,key", [(0, "end_to_end"), (1, "per_layer")])
def test_every_metric_printed_with_unit(tmp_path, trace, key):
    code, result = _run("--workload", "etl_warehouse", "--seed", "1",
                        "--seconds", "1", "--trace", str(trace),
                        "--out", str(tmp_path / "r.json"))
    assert code == 0 and result["correct"] and result["failed"] == 0
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    expected = {m["name"]: m["unit"] for m in _spec()[key]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == expected
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())


def test_injected_failure_counts_and_exits_nonzero(tmp_path):
    out = tmp_path / "r.json"
    code, result = _run("--workload", "etl_warehouse", "--seed", "1",
                        "--seconds", "1", "--trace", "0", "--out", str(out),
                        "--fail-op", "cube_orders")
    assert code != 0
    assert not result["correct"]
    assert result["failed"] >= 1 and result["attempted"] > result["failed"]
    record = json.loads(out.read_text())
    assert "injected failure" in record["errors"]["pass 0: cube_orders"]
