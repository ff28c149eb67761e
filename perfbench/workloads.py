"""The benchmark's workloads: which operations one pass runs, in order.

An operation is a registered query (``__spark_entry__.queries()``) or
``index_build``, which builds the SFA index that ``q_index_knn`` then
probes. Every operation's output is checked against the DuckDB oracle of
the same name, except ``index_build``, whose index is checked through
the ``q_index_knn`` answers that follow it in the same pass.
"""

from __future__ import annotations

from dataclasses import dataclass

INDEX_BUILD = "index_build"
DEFAULT_SEED = 42


@dataclass(frozen=True)
class Workload:
    name: str
    factor: int  # input scale: 1 = the sf0.1 table sizes
    ops: tuple[str, ...]
    why: str


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="classify-sf0.1",
            factor=1,
            ops=("q_bag_topk", "q_boss_1nn"),
            why=(
                "SFA words to bags to top-k patterns, and BOSS 1-NN classify, over"
                " 100k events: 7-13 small jobs per query, so per-job fixed cost"
                " and Python worker start dominate"
            ),
        ),
        Workload(
            name="search-ingest-sf0.1",
            factor=1,
            ops=(INDEX_BUILD, "q_index_knn", "q_merge_changes"),
            why=(
                "SFA index build, k-NN probe of the fresh index and a keyed MERGE"
                " of a change batch: reads beside writes, off the classify layers"
            ),
        ),
    )
}


def oracle_names(workload: Workload) -> list[str]:
    return [op for op in workload.ops if op != INDEX_BUILD]
