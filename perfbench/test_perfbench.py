"""The benchmark's own tests.

Run from the repository root (each traced run starts a Spark session, so
the module takes a few minutes; keep the host otherwise quiet):

    python -m pytest perfbench/ -q -p no:cacheprovider
"""

from __future__ import annotations

import copy
import json
import os
import shutil
import statistics
import subprocess
import sys

import pytest

from perfbench import host, inputs, run, trace
from perfbench import workloads as W

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
BENCH_WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _run(workload: str, trace_flag: int, cwd: str = ROOT, scale: float = 0.02):
    cmd = SPEC["command"] + ["--workload", workload, "--seed", "7", "--seconds", "1",
                             "--trace", str(trace_flag), "--scale", str(scale)]
    cmd[0] = sys.executable if cmd[0] == "python3" else cmd[0]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


@pytest.fixture(scope="module")
def runs():
    """{(workload, trace): (detail, result)} from small real runs."""
    out = {}
    for w in BENCH_WORKLOADS:
        for t in (0, 1):
            p = _run(w, t)
            assert p.returncode == 0, p.stderr[-3000:]
            lines = p.stdout.strip().splitlines()
            out[w, t] = json.loads(lines[-2])["perfbench"], json.loads(lines[-1])
    return out


@pytest.mark.parametrize("trace_flag", [0, 1])
@pytest.mark.parametrize("workload", BENCH_WORKLOADS)
def test_every_named_metric_present_with_its_unit(runs, workload, trace_flag):
    _detail, result = runs[workload, trace_flag]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    wanted = SPEC["per_layer"] if trace_flag else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in wanted} == {
        k: v["unit"] for k, v in result["metrics"].items()}
    for v in result["metrics"].values():
        assert isinstance(v["value"], float)


@pytest.mark.parametrize("workload", BENCH_WORKLOADS)
def test_each_prefix_chain_no_longer_than_full_job(runs, workload):
    detail, _result = runs[workload, 1]
    job_s = statistics.median(detail["job_samples_s"])
    assert set(detail["chains"]) == {"scan", "key", "candidate", "join", "full"}
    for name, seconds in detail["chains"].items():
        assert 0 < seconds <= job_s, (name, seconds, job_s)


def _perturbed(workload: str, meta: dict):
    """A correct output of the workload, and a copy with one count bumped."""
    oracle = meta["oracle"]
    if workload == "image_tiles":
        good = copy.deepcopy(oracle["tiles"])
        bad = copy.deepcopy(good)
        bad[next(iter(bad))][0] += 1
    else:
        good = dict(oracle["counts"])
        bad = dict(good)
        bad[next(iter(bad))] += 1
        if workload == "skew_checkpoint":
            rows = sum(good.values())
            good = {"counts": good, "resumed": True, "staged_rows": rows}
            bad = {"counts": bad, "resumed": True, "staged_rows": rows}
    return good, bad


@pytest.mark.parametrize("workload", sorted(W.WORKLOADS))
def test_perturbed_result_fails_oracle_and_counts_as_failed(tmp_path, workload):
    meta = inputs.materialize(str(tmp_path), workload, 3, 2000)
    bench = W.WORKLOADS[workload](meta, conf={}, work=str(tmp_path))
    good, bad = _perturbed(workload, meta)
    assert bench.check(good)
    assert not bench.check(bad)

    bench.data = None
    bench.run = lambda df, tr, tag: bad
    reps = run.measure(bench, trace.Tracer(False), seconds=0)
    assert len(reps) == run.MIN_REPEATS
    assert run.tally(reps) == (run.MIN_REPEATS, run.MIN_REPEATS)


@pytest.mark.parametrize("workload", sorted(W.WORKLOADS))
def test_seed_determines_inputs(tmp_path, workload):
    a = inputs.materialize(str(tmp_path / "a"), workload, 5, 3000)
    b = inputs.materialize(str(tmp_path / "b"), workload, 5, 3000)
    c = inputs.materialize(str(tmp_path / "c"), workload, 6, 3000)
    assert a["digest"] == b["digest"] and a["oracle"] == b["oracle"]
    assert a["digest"] != c["digest"]


def test_skew_inputs_put_half_the_points_in_one_cell(tmp_path):
    meta = inputs.materialize(str(tmp_path), "skew_checkpoint", 1, 4000)
    assert meta["oracle"]["hot_rows"] >= 2000


def test_sql_metric_strings_parse():
    assert trace.parse_metric("sum", "1,234") == 1234
    assert trace.parse_metric("size", "total (min, med, max (stageId: taskId))\n"
                              "3.0 MiB (1.0 MiB, 1.0 MiB, 1.0 MiB (stage 4.0: task 14))"
                              ) == 3 * 2**20
    assert trace.parse_metric("timing", "2.5 s") == 2.5
    assert trace.parse_metric("nsTiming", "12 ms") == pytest.approx(0.012)
    assert trace.parse_metric("average", "1") is None


def test_rss_peak_ignores_a_one_sample_spike(monkeypatch):
    sums = iter([[100.0], [100.0, 2000.0], [120.0], [130.0], [90.0]])
    monkeypatch.setattr(host, "tree", lambda root: [root])
    monkeypatch.setattr(host, "rss_mb", lambda pids: next(sums))
    sampler = host.RssSampler()
    for _ in range(5):
        sampler.sample(0)
    assert sampler.peak_mb == 120.0


def test_exits_nonzero_without_result_outside_a_checkout(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(BENCH_WORKLOADS[0], 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
