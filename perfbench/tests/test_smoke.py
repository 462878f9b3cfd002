"""Tiny-input smoke runs of every workload, untraced and traced, in one
Spark session; the layer-row invariants on the traced output; and the
command-line contract of run.py.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

import gen
import run as R
import workloads as W
from meter import Meter

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)


@pytest.fixture(scope="module")
def spark():
    R._pin_env()
    s = R._session(2)
    yield s
    R._stop(s)


@pytest.mark.parametrize("name", gen.WORKLOADS)
def test_workload_untraced_and_traced(spark, name, tmp_path):
    d, meta = gen.ensure(name, 3, "tiny", str(tmp_path / "in"))
    wl = W.WORKLOADS[name](spark, d, meta)
    wl.prepare()
    plain = wl.run(str(tmp_path / "p0"))
    wl.check(str(tmp_path / "p0"), plain)
    assert plain.errors == [] and plain.recall is not None

    meter = Meter(spark, run_id=f"smoke-{name}")
    traced = wl.run(str(tmp_path / "p1"), meter)
    wl.check(str(tmp_path / "p1"), traced)
    assert traced.errors == []
    # quality is a function of the seed, not of how the pass was run
    assert (traced.recall, traced.precision) == (plain.recall, plain.precision)

    m = R._per_layer(wl, meter, [(False, plain), (True, traced)], [sum(plain.unit_s)],
                     {"samples": [{"steal_pct": 0.0, "canary_ms": 1.0}]})
    assert list(m) == R.per_layer_names(name)
    walls = sum(v for k, (v, _) in m.items()
                if k.endswith(".wall_s") and k.split(".wall_s")[0] in R.WORKLOAD_LAYERS[name])
    assert walls + m["trace.unattributed_s"][0] == pytest.approx(m["trace.pass_wall_s"][0])
    assert m["trace.overhead"][0] > 0
    for layer in R.WORKLOAD_LAYERS[name]:
        assert m[f"{layer}.jobs"][0] >= 1, layer
    if name in ("clips_payload", "transcripts_dense"):
        rows = plain.rows
        assert m["sign.rows_out"][0] == rows
        assert m["verify.rows_out"][0] <= m["pairs.candidates"][0]
        assert m["cc.rows_out"][0] == rows
        assert m["pairs.band_keys"][0] > 0


def _bench_names(kind):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return [x["name"] for x in json.load(fh)[kind]]


def test_declared_metrics_match_the_program():
    assert _bench_names("per_layer") == R.per_layer_names()
    assert _bench_names("end_to_end") == list(R.END_TO_END)


@pytest.mark.parametrize("trace", [0, 1])
def test_command_line_contract(trace):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "clips_payload", "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = _bench_names("per_layer" if trace else "end_to_end")
    assert list(res["metrics"]) == want


def test_fails_without_the_package(tmp_path):
    """Outside a checkout (only BENCHMARK.json and perfbench/) the command
    exits non-zero without printing a result."""
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "clips_payload", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""
