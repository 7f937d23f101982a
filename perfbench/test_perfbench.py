"""Self-test of the benchmark at sf0.001 (about two minutes on 4 cores):

    python3 -m pytest perfbench -q -p no:cacheprovider

Checks that an untraced run prints every end-to-end metric of
BENCHMARK.json by name with its unit, that the traced runs of the
workloads together emit a span and a metric for every layer of the
layer table in LAYERS.md, and that the benchmark fails without a result
when the engine package is absent.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)

#: Layer spans the traced runs must open between them (LAYERS.md).
LAYER_SPANS = {
    "registry.load",
    "session.start",
    "op",
    "build",
    "sources.tables",
    "sources.fixtures",
    "checkpoint",
    "catalyst",
    "exec",
    "streaming.jobs.frame",
    "sources.writers.write",
}


def _run(tmp_path, workload: str, trace: int, cwd: str = ROOT, script: str | None = None):
    spans = tmp_path / f"spans-{workload}.json"
    cmd = [sys.executable, script or os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "1", "--trace", str(trace), "--sf", "0.001"]
    if trace:
        cmd += ["--spans-out", str(spans)]
    proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)
    return proc, spans


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    return result


def _assert_metrics(result: dict, spec_key: str) -> None:
    expected = {m["name"]: m["unit"] for m in SPEC[spec_key]}
    got = {name: m["unit"] for name, m in result["metrics"].items()}
    assert got == expected
    for m in result["metrics"].values():
        assert isinstance(m["value"], (int, float))


def test_untraced_run_prints_every_end_to_end_metric(tmp_path):
    result = _result(_run(tmp_path, "monitor_tick", 0)[0])
    _assert_metrics(result, "end_to_end")
    assert result["correct"] and result["failed"] == 0
    assert result["metrics"]["setup_s"]["value"] > 0


def test_traced_runs_cover_every_layer(tmp_path):
    seen: set[str] = set()
    for workload in (w["name"] for w in SPEC["workloads"]):
        proc, spans_path = _run(tmp_path, workload, 1)
        _assert_metrics(_result(proc), "per_layer")
        with open(spans_path) as fh:
            spans = json.load(fh)["spans"]
        assert all(s["end"] >= s["start"] for s in spans)
        seen |= {s["name"] for s in spans}
    assert LAYER_SPANS <= seen, sorted(LAYER_SPANS - seen)


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc, _ = _run(tmp_path, "monitor_tick", 0, cwd=str(tmp_path),
                   script=str(tmp_path / "perfbench" / "run.py"))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))
