"""The benchmark's own checks: metric contract, output checkers, and a
short smoke of each workload and of the traced run.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import random
import shutil
import subprocess
import sys

import numpy as np
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import layers  # noqa: E402
import run  # noqa: E402
import store  # noqa: E402
import verify  # noqa: E402
import write_mix  # noqa: E402
from write_mix import Op  # noqa: E402


def _contract():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_names_and_units_match_benchmark_json():
    b = _contract()
    assert {w["name"] for w in b["workloads"]} == set(run.WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"]) for m in b["end_to_end"]} == run.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in b["per_layer"]} == layers.PER_LAYER


def test_values_survive_line_protocol_round_trip():
    body = store.line_protocol(7, "C", store.BASE_START, 5).decode().splitlines()
    want = store.field_values(7, "C", np.arange(store.BASE_START, store.BASE_START + 5))
    for i, line in enumerate(body):
        fields = dict(kv.split("=") for kv in line.split(" ")[1].split(","))
        assert [float(fields[f]) for f in store.FIELDS] == [w[i] for w in want]


def _raw_response(op, seed, corrupt=None):
    t = np.arange(op.t0, op.t0 + op.n)
    vals = store.field_values(seed, op.building, t)
    cols = ["time", *store.FIELDS, "buildingID", "date"]
    rows = [[store.iso(int(ts)), *[float(v[i]) for v in vals], op.building,
             "2021-03-01"] for i, ts in enumerate(t)]
    if corrupt is not None:
        rows[corrupt][2] += 0.01
    return cols, rows


def test_raw_check_accepts_generated_rows_and_catches_a_wrong_value():
    op = Op("raw10m", building="B", t0=store.BASE_START + 600, n=600)
    assert verify.check_raw(3, op, *_raw_response(op, 3)) is None
    assert "hotInFlowRate" in verify.check_raw(3, op, *_raw_response(op, 3, corrupt=17))
    cols, rows = _raw_response(op, 3)
    assert "rows" in verify.check_raw(3, op, cols, rows[:-1])


def test_every_group_has_the_same_make_up():
    rng = random.Random(9)
    cursor = {b: write_mix.BASE_END for b in store.BUILDINGS}
    kinds = ["write"] + [k for k, _ in write_mix.READ_CYCLE]
    for _ in range(3):
        assert [o.kind for o in write_mix.group(9, rng, cursor)] == kinds
    assert sum(cursor.values()) == 6 * write_mix.BASE_END + 3 * write_mix.WRITE_POINTS


def test_landing_counts_are_what_the_generator_reports(tmp_path):
    want = store.write_landing(str(tmp_path), random.Random(5), "p", 40, 10)
    files = sorted(os.listdir(tmp_path))
    assert len(files) == 40 and not any(f.startswith(".") for f in files)
    assert want["archived"] + want["quarantined"] == 40
    assert want["raw_data"] + want["qc_data"] == 10 * want["archived"]


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "write_mix", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


@pytest.mark.parametrize("workload,trace", [
    ("write_mix", 0), ("landing_etl", 0), ("write_mix", 1), ("landing_etl", 1)])
def test_smoke(workload, trace):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "2", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    units = layers.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {
        k: u for k, (u, _) in units.items()}
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())
    detail = json.loads(p.stdout.strip().splitlines()[-2])["detail"]
    for key in ("cores", "heap", "seed", "git_commit", "engine_sha256"):
        assert key in detail
    if trace:
        assert "trace_overhead" in detail
