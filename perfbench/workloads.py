"""The benchmark's workloads: fixed lists of registered queries from
``__spark_entry__.queries()``.  README.md says why each was chosen."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]
    #: nominal seconds of one warm pass on a steady 4-core host; a run
    #: makes ``round(--seconds / pass_s)`` timed passes (at least 1), the
    #: same number on every run and every commit unless the host is so
    #: slow that the run's deadline cuts them short
    pass_s: float


WORKLOADS = {
    # the reference's ETL chain and its BI layer, reads only; at sf0.001
    # fixed per-query overhead (schema reads, small eager steps, task
    # launch) outweighs executor work
    "etl_dashboard": Workload(
        queries=(
            "master_table",
            "join_inner_chain",
            "dedup_full_row",
            "dashboard_top_nations",
            "window_rank_panel",
        ),
        pass_s=2.0,
    ),
    # construction-dominated: graph loop, staged LSH, a streaming drain
    # and partitioned writes, all eager driver work before the
    # DataFrame is returned
    "llm_corpus": Workload(
        queries=(
            "doc_pagerank",
            "doc_near_dup_banded",
            "stream_tumbling_counts",
            "orders_retention_delete",
        ),
        pass_s=6.5,
    ),
}
