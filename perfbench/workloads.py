"""Workload definitions: which registered queries run, and in what order.

Every workload is a closed loop with one client: the next operation is
issued when the previous ``collect()`` returns. An operation is one
registered query, called through the engine's registry as any caller
would; its layer is the engine subpackage that defines the query
function.

A pass is the unit every phase repeats: each operation of the workload
once, in an order the seed draws. No measured traffic exists to weight
the operations by, so every pass does the same work and every operation
gets a steady median.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

LAYERS = ("operators", "functions", "similarity", "gold", "streaming", "sources")


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    ops: tuple[str, ...]  # registered query names, each run once per pass

    def pass_order(self, rng: random.Random) -> list[str]:
        return rng.sample(self.ops, len(self.ops))


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="daily_delta",
            why=(
                "the nightly refresh at O(new): a delta deduped against an "
                "index built in prepare, change capture, and a sink written "
                "beside its reads"
            ),
            ops=("incremental_segment_dedup", "changed_docs_reprocess_set", "append_log_sink_roundtrip"),
        ),
        Workload(
            name="rag_serving",
            why=(
                "the analyst API: a search against a warm ANN index, a "
                "dashboard and a chunking request, in a seeded order"
            ),
            ops=("ann_ivf_topk_warm", "rag_dashboard_gold", "chunk_documents"),
        ),
    )
}


def layer_of(module: str) -> str:
    """``project_orbit_spark.<layer>.<module>`` -> ``<layer>``."""
    parts = module.split(".")
    if len(parts) < 3 or parts[1] not in LAYERS:
        raise ValueError(f"query module {module!r} is in no known layer")
    return parts[1]
