"""The generated inputs: one seed gives one dataset, and the tables keep
the measured profile's sizes and shapes."""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow.parquet as pq

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)

import datagen  # noqa: E402

PROFILE = datagen.load_profile()["tables"]


def _read(d, name):
    return pq.read_table(os.path.join(d, f"{name}.parquet"))


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    datagen.generate(a, 5)
    datagen.generate(b, 5)
    datagen.generate(c, 6)
    for name in PROFILE:
        with open(os.path.join(a, f"{name}.parquet"), "rb") as fa, open(
            os.path.join(b, f"{name}.parquet"), "rb"
        ) as fb, open(os.path.join(c, f"{name}.parquet"), "rb") as fc:
            x = fa.read()
            assert x == fb.read()
            assert x != fc.read()


def test_tables_follow_the_profile(tmp_path):
    d = str(tmp_path)
    stats = datagen.generate(d, 5)
    for name, spec in PROFILE.items():
        t = _read(d, name)
        assert t.num_rows == spec["rows"] == stats[name]["rows"]
        assert t.column_names == list(spec["columns"])
        assert abs(stats[name]["bytes"] - spec["bytes"]) < 0.05 * spec["bytes"]

    ev = _read(d, "events")
    ts = ev.column("ts").cast("int64").to_numpy()
    assert (np.diff(ts) >= 0).all()
    assert ev.column("user_id").to_numpy().max() < stats["events"]["series"]
    q = PROFILE["events"]["columns"]["value"]["q"]
    assert abs(np.median(ev.column("value").to_numpy()) - q[len(q) // 2]) < 0.05 * q[len(q) // 2]

    text = PROFILE["documents"]["columns"]["text"]
    docs = _read(d, "documents").column("text").to_pylist()
    near = sum(s.endswith(" " + text["near_dup_mark"]) for s in docs)
    assert abs(near - text["near_dups"]) <= 5
    assert abs((len(docs) - len(set(docs))) - text["exact_dups"]) <= 2

    emb = np.array(_read(d, "embeddings").column("embedding").to_pylist())
    assert emb.shape[1] == PROFILE["embeddings"]["columns"]["embedding"]["dim"]
    assert np.allclose(np.linalg.norm(emb, axis=1), 1.0, atol=1e-5)
