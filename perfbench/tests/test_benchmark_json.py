"""BENCHMARK.json names exactly the workloads and metrics the command
produces."""

from __future__ import annotations

import json
import os
import sys

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)

import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
    DOC = json.load(f)


def test_workloads_match():
    assert {w["name"]: w["why"] for w in DOC["workloads"]} == {
        w.name: w.why for w in WORKLOADS.values()
    }


def test_end_to_end_metrics_match():
    assert {m["name"]: m["unit"] for m in DOC["end_to_end"]} == run.E2E_UNITS
    setup = next(m for m in DOC["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in DOC["end_to_end"])


def test_per_layer_metrics_match():
    names = [m["name"] for m in DOC["per_layer"]]
    assert names == run.layer_metric_names()
    assert len(names) <= 128
    assert all(m["unit"] == run._layer_unit(m["name"]) for m in DOC["per_layer"])
