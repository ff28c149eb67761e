"""Record the DuckDB oracle's fingerprints for one seed, so runs with
that seed skip the oracle step.

Usage: python3 perfbench/record_expected.py [seed]   (default: 42)

Writes perfbench/expected/seed-<seed>-x1-<hash>.json covering every
operation of every workload whose input factor is 1; the hash names the
oracle SQL and generator it was made from (see run.oracle_file).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import datagen  # noqa: E402
import run  # noqa: E402
from workloads import DEFAULT_SEED  # noqa: E402


def main() -> int:
    seed = int(sys.argv[1]) if len(sys.argv) > 1 else DEFAULT_SEED
    os.makedirs(run.STATE, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=run.STATE) as tmp:
        datagen.generate(tmp, seed, 1)
        name, got = run.compute_expected(tmp, seed, 1)
    path = os.path.join(HERE, "expected", name)
    with open(path, "w") as f:
        json.dump(got, f, indent=1, sort_keys=True)
    print(path)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
