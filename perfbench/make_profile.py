"""Measure the input profile that datagen.py draws the benchmark's tables from.

Usage: python3 perfbench/make_profile.py SRC_DIR [OUT]

SRC_DIR holds the engine's sf0.1 test tables (events, documents,
embeddings and orders as parquet). OUT defaults to
perfbench/profile/sf0.1.json. The model of each column (row id, sorted
uniform time, uniform key, categorical, empirical quantiles, text,
unit-norm vectors) was chosen by inspecting those tables; every
parameter of it is measured here, and each structural assumption the
model makes is checked, so the script fails on tables it would
misdescribe.
"""

from __future__ import annotations

import json
import os
import sys
from collections import Counter

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
QUANTILES = 1001  # points of each empirical inverse CDF
NEAR_DUP_MARK = "dup"  # sf0.1 near duplicates: a copy of another document + " dup"


def _check(ok: bool, what: str) -> None:
    if not ok:
        raise SystemExit(f"make_profile: {what}")


def _categorical(col) -> dict:
    counts = Counter(col.to_pylist())
    values = sorted(counts)
    return {"kind": "categorical", "values": values, "counts": [counts[v] for v in values]}


def _quantiles(x: np.ndarray, decimals: int) -> dict:
    _check(np.allclose(x, np.round(x, decimals)), f"values have more than {decimals} decimals")
    q = np.quantile(x, np.linspace(0.0, 1.0, QUANTILES))
    return {"kind": "quantiles", "decimals": decimals, "q": [round(float(v), 6) for v in q]}


def _row_id(col) -> dict:
    _check((col.to_numpy() == np.arange(len(col))).all(), "row ids are not 0..n-1")
    return {"kind": "row_id"}


def _uniform_key(col) -> dict:
    x = col.to_numpy()
    _check(x.min() == 0, "key domain does not start at 0")
    return {"kind": "uniform_key", "domain": int(x.max()) + 1}


def events(t) -> dict:
    ts = t.column("ts").combine_chunks().cast("int64").to_numpy()
    _check(bool((np.diff(ts) >= 0).all()), "events are not in ts order")
    return {
        "event_id": _row_id(t.column("event_id")),
        "ts": {"kind": "sorted_uniform", "min": int(ts.min()), "max": int(ts.max())},
        "user_id": _uniform_key(t.column("user_id")),
        "event_type": _categorical(t.column("event_type")),
        "value": _quantiles(t.column("value").to_numpy(), 2),
        "props": _categorical(t.column("props")),
    }


def documents(t) -> dict:
    texts = t.column("text").to_pylist()
    suffix = " " + NEAR_DUP_MARK
    known = set(texts)
    near = [s for s in texts if s.endswith(suffix)]
    _check(
        sum(s[: -len(suffix)] in known for s in near) >= 0.95 * len(near),
        "near duplicates are not copies of other documents plus a marker token",
    )
    base = [s.split() for s in texts if not s.endswith(suffix)]
    vocab = Counter(tok for toks in base for tok in toks)
    lengths = Counter(len(toks) for toks in base)
    exact = len(texts) - len(known)
    _check(
        t.column("source").to_pylist() == [f"src{i % 20}" for i in range(len(texts))],
        "source is not src<i % 20>",
    )
    _check(
        t.column("n_chars").to_pylist() == [len(s) for s in texts], "n_chars is not len(text)"
    )
    return {
        "doc_id": _row_id(t.column("doc_id")),
        "text": {
            "kind": "text",
            "vocab": sorted(vocab),
            "counts": [vocab[v] for v in sorted(vocab)],
            "lengths": sorted(lengths),
            "length_counts": [lengths[n] for n in sorted(lengths)],
            "near_dup_mark": NEAR_DUP_MARK,
            "near_dups": len(near),
            "exact_dups": exact,
        },
        "lang": _categorical(t.column("lang")),
        "source": {"kind": "cycle", "values": [f"src{i}" for i in range(20)]},
        "n_chars": {"kind": "char_length", "of": "text"},
    }


def embeddings(t) -> dict:
    v = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    norms = np.linalg.norm(v, axis=1)
    _check(bool(np.allclose(norms, 1.0, atol=1e-5)), "embeddings are not unit-norm")
    return {
        "vec_id": _row_id(t.column("vec_id")),
        "embedding": {
            "kind": "unit_gaussian",
            "dim": int(v.shape[1]),
            "measured_sigma": round(float(v.std()), 6),
        },
        "label": _categorical(t.column("label")),
    }


def orders(t) -> dict:
    days = t.column("o_orderdate").combine_chunks().cast("int64").to_numpy() // 86_400_000_000
    return {
        "o_orderkey": _row_id(t.column("o_orderkey")),
        "o_custkey": _uniform_key(t.column("o_custkey")),
        "o_orderstatus": _categorical(t.column("o_orderstatus")),
        "o_totalprice": _quantiles(t.column("o_totalprice").to_numpy(), 2),
        "o_orderdate": {**_quantiles(days.astype(np.float64), 0), "unit": "day"},
        "o_orderpriority": _categorical(t.column("o_orderpriority")),
    }


TABLES = {"events": events, "documents": documents, "embeddings": embeddings, "orders": orders}


def main() -> int:
    if len(sys.argv) < 2:
        raise SystemExit(__doc__)
    src = sys.argv[1]
    out = sys.argv[2] if len(sys.argv) > 2 else os.path.join(HERE, "profile", "sf0.1.json")
    profile = {"tables": {}}
    for name, measure in TABLES.items():
        path = os.path.join(src, f"{name}.parquet")
        t = pq.read_table(path)
        profile["tables"][name] = {
            "rows": t.num_rows,
            "bytes": os.path.getsize(path),
            "columns": measure(t),
        }
        _check(
            list(profile["tables"][name]["columns"]) == t.column_names,
            f"{name}: profile columns differ from the table's",
        )
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(profile, f, indent=1)
        f.write("\n")
    print(out)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
