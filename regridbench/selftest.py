#!/usr/bin/env python3
"""Smoke self-test of the regrid benchmark harness.

Run from the repository root (about three minutes on 4 cores)::

    python3 regridbench/selftest.py

or ``python3 -m pytest regridbench/selftest.py``. It checks that

- every workload runs at tiny grid and field sizes and prints each
  end-to-end metric (``--trace 0``) and each per-layer metric
  (``--trace 1``) with a unit, with no failed or wrong operation;
- a perturbed weight triplet makes the correctness gate fail;
- the harness exits non-zero, printing no result, when the program is
  absent from the directory it runs in.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from reference import check_apply, check_weights, grid_centres, spmv  # noqa: E402
from run import SCALES, WORK, WORKLOADS, per_layer_names  # noqa: E402


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "regridbench", "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _expected_e2e() -> list[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return [m["name"] for m in json.load(fh)["end_to_end"]]


def _assert_clean(res: dict, names: list[str]) -> None:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
    assert res["correct"] is True and res["failed"] == 0, res
    assert res["attempted"] >= 1
    assert list(res["metrics"]) == names, sorted(set(names) ^ set(res["metrics"]))
    for name, m in res["metrics"].items():
        assert set(m) == {"value", "unit"} and m["unit"], (name, m)
        assert isinstance(m["value"], float), (name, m)


def test_workloads_print_every_metric_and_pass_the_gate():
    e2e = _expected_e2e()
    for w in WORKLOADS:
        proc = _run(w, 0)
        res = _result(proc)
        _assert_clean(res, e2e)
        for name in e2e:
            assert res["metrics"][name]["value"] > 0, (w, name)
        assert "fail_frac = 0 ratio" in proc.stdout, proc.stdout


def test_traced_run_prints_every_layer_metric():
    proc = _run("small_global", 1)
    _assert_clean(_result(proc), per_layer_names())


def _tiny_nearest_s2d():
    """Exact nearest_s2d triplets on the tiny canonical pair, by brute
    force in numpy."""
    cfg = SCALES["tiny"]
    src, dst = grid_centres(*cfg["canon_in"]), grid_centres(*cfg["canon_out"])
    d2 = (dst[0][:, None] - src[0][None, :]) ** 2 + (dst[1][:, None] - src[1][None, :]) ** 2
    cols = np.argmin(d2, axis=1)
    trip = {"row": np.arange(len(cols)), "col": cols, "S": np.ones(len(cols))}
    return trip, src, dst


def test_perturbed_triplet_fails_the_gate():
    trip, src, dst = _tiny_nearest_s2d()
    n_in, n_out = src[0].size, dst[0].size
    nnz = SCALES["tiny"]["canon_nnz"]["nearest_s2d"]
    assert check_weights("nearest_s2d", trip, n_in, n_out, src, dst, nnz) == []

    bad = {k: v.copy() for k, v in trip.items()}
    bad["S"][17] += 1e-6
    assert check_weights("nearest_s2d", bad, n_in, n_out, src, dst, nnz)

    x = np.random.default_rng(0).standard_normal((3, n_in))
    assert check_apply("apply", spmv(trip, x, n_out), spmv(trip, x, n_out)) == []
    assert check_apply("apply", spmv(bad, x, n_out), spmv(trip, x, n_out))

    moved = {k: v.copy() for k, v in trip.items()}
    moved["col"][17] = (moved["col"][17] + 1) % n_in
    assert check_apply("apply", spmv(moved, x, n_out), spmv(trip, x, n_out))

    dropped = {k: v[1:] for k, v in trip.items()}
    assert check_weights("nearest_s2d", dropped, n_in, n_out, src, dst, nnz)


def test_fails_without_the_program():
    os.makedirs(WORK, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=WORK) as tmp:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp)
        shutil.copytree(HERE, os.path.join(tmp, "regridbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        proc = _run("small_global", 0, cwd=tmp)
        assert proc.returncode != 0
        assert '"metrics"' not in proc.stdout


if __name__ == "__main__":
    for name, fn in list(globals().items()):
        if name.startswith("test_"):
            fn()
            print(f"ok {name}", flush=True)
