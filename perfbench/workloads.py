"""The benchmark's workloads: which registry keys run, at what scale.

Each workload is a fixed key list, run in this order on every pass, over the
benchmark's own synthetic corpus at one scale factor. The seed picks the
corpus (``corpus.tables(sf, seed)``): every seed is different data of the
same shape and size. The order is fixed because the engine is still
JIT-warming over these passes and which query warms first moves the warm
timings of the rest by more than a gate's bound.

``pass_s`` is a workload's nominal warm-pass wall time on 4 CPUs. A run
makes as many warm passes as nominally fit in ``--seconds``; the count
depends on that argument only, never on measured speed, because the engine
is still warming up over these passes and a speed-dependent count would
make the median move with the count.
"""

from __future__ import annotations

WORKLOADS = {
    "recsys": {
        "sf": 0.01,
        "pass_s": 8.0,
        "why": "the recommender path: interaction feature build and iterative "
               "MLlib ALS training; the only workload that trains ALS",
        "keys": (
            "q_als_recommend",
            "q_interactions",
        ),
    },
    "stream": {
        "sf": 0.01,
        "pass_s": 5.5,
        "why": "availableNow drains into the memory sink: state-store commits, "
               "offset logs and checkpoint files written beside the reads",
        "keys": (
            "q_stream_watermark_tumble",
            "q_stream_foreach_batch_sink",
        ),
    },
}


def warm_passes(workload: str, seconds: float) -> int:
    """Number of untraced warm passes a run of ``--seconds`` makes."""
    return max(1, int(seconds / WORKLOADS[workload]["pass_s"]))
