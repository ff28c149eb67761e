"""Seeded input tables for the benchmark.

Writes the four tables the benchmarked queries read (events, documents,
embeddings, orders) as single-row-group parquet, the layout of the
engine's sf0.1 test tables, so scan splitting behaves as it does there.
Every column is drawn from ``profile/sf0.1.json``, which
``make_profile.py`` measured on those tables, the way
``tools/gen_sf1.py`` resamples them: categorical columns keep their
value frequencies, numeric ones their empirical quantiles, documents
their vocabulary frequencies, length histogram and near- and
exact-duplicate counts, embeddings their dimension and unit norm.
Factor 1 gives the sf0.1 sizes (100,000 events over 1,500 series);
factor f multiplies rows, key domains and duplicate counts by f. Every
value comes from ``numpy.random.default_rng(seed)``: one seed, one
dataset.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PROFILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "profile", "sf0.1.json")
TYPES = {
    "events": {"ts": pa.timestamp("us")},
    "embeddings": {"label": pa.int32()},
    "orders": {"o_orderdate": pa.timestamp("us")},
}
DAY_US = 86_400_000_000


def _categorical(rng, spec, n):
    p = np.array(spec["counts"], dtype=np.float64)
    return np.array(spec["values"])[rng.choice(len(p), size=n, p=p / p.sum())]


def _quantiles(rng, spec, n):
    q = np.array(spec["q"])
    x = np.round(np.interp(rng.random(n), np.linspace(0.0, 1.0, len(q)), q), spec["decimals"])
    return x.astype(np.int64) if spec["decimals"] == 0 else x


def _text(rng, spec, n, factor):
    p = np.array(spec["counts"], dtype=np.float64)
    lp = np.array(spec["length_counts"], dtype=np.float64)
    lengths = np.array(spec["lengths"])[rng.choice(len(lp), size=n, p=lp / lp.sum())]
    toks = np.array(spec["vocab"])[rng.choice(len(p), size=int(lengths.sum()), p=p / p.sum())]
    ends = np.cumsum(lengths)
    texts = [" ".join(toks[e - k : e]) for e, k in zip(ends, lengths)]
    # near duplicates: a copy of another, distinct document with the
    # marker appended, so they add no exact duplicates of their own
    picked = rng.choice(n, size=min(n // 2, spec["near_dups"] * factor) * 2, replace=False)
    for i, j in picked.reshape(2, -1).T:
        texts[i] = texts[j] + " " + spec["near_dup_mark"]
    for i in rng.choice(n, size=min(n, spec["exact_dups"] * factor), replace=False):
        texts[i] = texts[rng.integers(0, n)]
    return texts


def _column(rng, spec, n, factor, cols):
    kind = spec["kind"]
    if kind == "row_id":
        return np.arange(n, dtype=np.int64)
    if kind == "sorted_uniform":
        return np.sort(rng.integers(spec["min"], spec["max"] + 1, size=n))
    if kind == "uniform_key":
        return rng.integers(0, spec["domain"] * factor, size=n)
    if kind == "categorical":
        return _categorical(rng, spec, n)
    if kind == "quantiles":
        x = _quantiles(rng, spec, n)
        return x * DAY_US if spec.get("unit") == "day" else x
    if kind == "text":
        return _text(rng, spec, n, factor)
    if kind == "cycle":
        return np.array(spec["values"])[np.arange(n) % len(spec["values"])]
    if kind == "char_length":
        return np.array([len(s) for s in cols[spec["of"]]], dtype=np.int64)
    if kind == "unit_gaussian":
        v = rng.normal(size=(n, spec["dim"]))
        v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
        return pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), spec["dim"]).cast(
            pa.list_(pa.float32())
        )
    raise ValueError(f"unknown column kind {kind!r}")


def _table(rng, name, spec, factor) -> pa.Table:
    n = spec["rows"] * factor
    cols = {}
    for col, cspec in spec["columns"].items():
        cols[col] = _column(rng, cspec, n, factor, cols)
    types = TYPES.get(name, {})
    return pa.table({c: pa.array(v, type=types.get(c)) for c, v in cols.items()})


def load_profile() -> dict:
    with open(PROFILE) as f:
        return json.load(f)


def generate(out_dir: str, seed: int, factor: int = 1) -> dict:
    """Write every table under ``out_dir``; return rows and bytes per
    table. Each table draws from its own child stream of ``seed``, so
    adding a table never changes another."""
    os.makedirs(out_dir, exist_ok=True)
    tables = load_profile()["tables"]
    streams = np.random.SeedSequence(seed).spawn(len(tables))
    stats = {}
    for (name, spec), ss in zip(tables.items(), streams):
        table = _table(np.random.default_rng(ss), name, spec, factor)
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, row_group_size=max(1, table.num_rows))
        stats[name] = {"rows": table.num_rows, "bytes": os.path.getsize(path)}
    stats["events"]["series"] = tables["events"]["columns"]["user_id"]["domain"] * factor
    return stats
