"""The benchmark's workloads: a key mix, an input size and a warm-up.

Each workload is a closed loop with one client thread: it runs its keys
in order, one at a time, and starts the next key only when the previous
one's ``noop`` write has returned. README.md records why each workload
was chosen and every change to a mix.
"""

from __future__ import annotations

from dataclasses import dataclass

#: the package under test, and the layers a key is attributed to through
#: its function's module (``ls_hadoop_3_0_spark.<layer>.<module>``)
PACKAGE = "ls_hadoop_3_0_spark"
LAYERS = ("operators", "functions", "llm", "streaming", "sources")


@dataclass(frozen=True)
class Workload:
    name: str
    #: fixture scale factor of the generated inputs (gen.row_counts)
    size: float
    #: registered query keys, run in this order in every pass
    keys: tuple[str, ...]
    #: untimed passes after the oracle check's pass, before timed passes
    warmup_passes: int
    #: report a per-execution tail (needs enough samples per run)
    tail: bool = False


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "interactive",
            0.01,
            (
                "agg_multi",
                "topk",
                "join_inner",
                "window_ranking",
                "analytics_market_share",
                "subquery_in",
                "predicate_pushdown",
                "scalar_string",
            ),
            warmup_passes=1,
            tail=True,
        ),
        Workload(
            "pipeline",
            0.01,
            ("stream_batch_equiv", "quality_repetition", "sink_upsert"),
            # its passes still fell 15-20% across the window after one
            warmup_passes=2,
        ),
    )
}
