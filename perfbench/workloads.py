"""Workload definitions: which ops a pass runs, on which inputs.

An op is either a registered query (its ``Query.fn`` builds the result,
which then goes to a sink) or one of the two text-classifier ops, which
call ``ml.pipeline`` step by step. ``tables`` lists the input tables the
op reads; their row counts are the op's input rows for ``rows_per_s`` and
the denominator of ``sources.rescan_ratio``.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Op:
    name: str
    tables: tuple[str, ...]
    #: "noop" executes through the noop sink; "parquet" writes through
    #: ``sources.io.write_parquet`` and the check reads the files back
    sink: str = "noop"
    #: set for the split → fit → transform → evaluate ops
    classifier: str | None = None


@dataclass(frozen=True)
class Workload:
    name: str
    ops: tuple[Op, ...]


DOCS = ("documents",)

WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="ebook_classify",
            ops=(
                Op("nb_fit_eval", DOCS, classifier="nb"),
                Op("lr_fit_eval", DOCS, classifier="lr"),
            ),
        ),
        Workload(
            name="star_analytics",
            ops=(
                Op("agg_pricing_summary", ("lineitem",)),
                Op("join_broadcast_star_revenue", ("lineitem", "supplier", "nation", "region")),
                Op("join_inner_revenue_by_customer", ("customer", "orders", "lineitem")),
                Op("window_topn_revenue_per_segment", ("customer", "orders")),
            ),
        ),
        Workload(
            name="llm_curation",
            ops=(
                Op("data_curation_pipeline", DOCS, sink="parquet"),
                Op("dedup_incremental_gate", DOCS),
            ),
        ),
    )
}
