"""The command's exit status: non-zero without a result when the engine
is absent, and non-zero with ``correct: false`` when an expected
fingerprint is wrong. The second test runs one real benchmark run
(about a minute on 4 cores)."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

from workloads import DEFAULT_SEED, WORKLOADS, oracle_names  # noqa: E402


def _run(cwd, *args):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=300,
    )


def test_without_engine_exits_nonzero_and_prints_no_result(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    p = _run(tmp_path, "--workload", "classify-sf0.1", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert p.stdout.strip() == ""
    assert not (tmp_path / ".perfbench").exists() or not any(
        n.startswith("run-") for n in os.listdir(tmp_path / ".perfbench")
    )


def test_planted_wrong_expected_value_fails_the_run(tmp_path):
    """A wrong fingerprint planted in the oracle cache, which the command
    reads for a seed that has no recorded expectations, fails the run."""
    sys.path.insert(0, ROOT)
    import datagen
    import run

    wl = WORKLOADS["classify-sf0.1"]
    seed = DEFAULT_SEED + 1000
    data = str(tmp_path / "data")
    datagen.generate(data, seed, wl.factor)
    name, expected = run.compute_expected(data, seed, wl.factor)
    victim, other = oracle_names(wl)[-1], oracle_names(wl)[0]
    expected[victim]["fingerprint"][1] += 1
    planted = os.path.join(run.STATE, "oracle-cache", name)
    os.makedirs(os.path.dirname(planted), exist_ok=True)
    with open(planted, "w") as f:
        json.dump(expected, f)
    try:
        p = _run(
            ROOT, "--workload", wl.name, "--seed", str(seed), "--seconds", "0", "--trace", "0"
        )
    finally:
        os.remove(planted)
    assert p.returncode == 1, p.stderr[-2000:]
    last = json.loads(p.stdout.strip().splitlines()[-1])
    assert last["correct"] is False
    assert last["failed"] >= 1
    assert f"FAILED {victim}" in p.stdout
    assert f"FAILED {other}" not in p.stdout


def test_tracing_overhead_compares_only_same_seed_and_code(tmp_path, monkeypatch):
    import run

    monkeypatch.setattr(run, "STATE", str(tmp_path))
    (tmp_path / "results").mkdir()
    (tmp_path / "results" / "classify-sf0.1-seed7-trace0.json").write_text(
        json.dumps({"code": "abc", "metrics": {"cold_pass_s": 1.5}})
    )
    assert run._untraced_cold_pass_s("classify-sf0.1", 7, "abc")[0] == 1.5
    for seed, code in ((7, "other"), (8, "abc")):
        _, source = run._untraced_cold_pass_s("classify-sf0.1", seed, code)
        assert source == "perfbench/baseline.json"
