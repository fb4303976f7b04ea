"""Benchmark harness (driver contract + SURVEY.md §6).

Runs the headline query set at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line::

    {"metric": "headline_wall_sec", "value": N, "unit": "sec",
     "queries": {"q_agg_pricing_summary": sec, ...}, "sf": 0.1}

Each query is materialized through the noop sink (full execution, no
driver-side row transfer — the same discipline a cluster benchmark uses).
The whole set is timed as THREE full-run series; ``queries`` holds the
per-query MEDIAN of the three and ``value`` is the sum of medians.
Single runs on this box show ±25% cross-session noise with ~0.6%
within-session spread (BENCH_LOCAL_r04.json), so medians-of-3 is the
round-over-round comparison unit.

Only those contracted fields are printed, because the JSON line is read
back from a bounded tail (~2000 chars) of bench stdout; the raw series go
to a sidecar file (``$SPARK_GRAFT_BENCH_RUNS_PATH``, default
``BENCH_LOCAL_runs.json`` next to this script).
``tests/test_bench_contract.py`` pins the printed-line budget.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from recommendersystems_bigdata_spark import registry  # noqa: E402
from recommendersystems_bigdata_spark.session import get_spark  # noqa: E402

# One query per engine subsystem or physical shape (BASELINE.md): scans,
# joins, windows, similarity, text, the recommender features, the
# LLM-pipeline operators, iterative fixpoint loops, the Python/Arrow
# boundary, higher-order array functions and recursive CTEs.
HEADLINE = (
    "q_agg_pricing_summary",
    "q_join_star_multiway",
    "q_win_rownum_topk",
    "q_cosine_topk",
    "q_session_window",
    "q_str_split_explode",
    "q_interactions",
    "q_minhash_signatures",
    "q_dedup_lsh_join",
    "q_text_quality",
    "q_dedup_clusters",
    "q_seq_user_signature",
    "q_inv_fifo_allocation",
    "q_concentration_curve",
    "q_emb_norm_audit",
    "q_fingerprint_by_month",
    "q_survival_km_curve",
    "q_search_bm25ish",
    "q_rep_bigram_census",
)

N_SERIES = 3

# Shuffle-partition count sized for the bench scale factor: sf0.1 shuffles
# are a few MB, so 8 partitions beat the engine's 32-way default (less task
# scheduling, same parallelism where it matters — the parquet scan). The
# 100 TB analogue is the same rule in reverse: partitions ∝ shuffle bytes.
BENCH_SHUFFLE_PARTITIONS = 8


def _time_once(fn, spark, sf_dir: str) -> float:
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _payload(medians: dict[str, float], sf: float | None) -> dict:
    """The printed line: contracted fields only (see the module docstring)."""
    return {
        "metric": "headline_wall_sec",
        "value": round(sum(medians.values()), 3),
        "unit": "sec",
        "queries": medians,
        "sf": sf,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    registry.load_all()
    spark = get_spark(app_name="bench", shuffle_partitions=BENCH_SHUFFLE_PARTITIONS)
    spark.sparkContext.setLogLevel("ERROR")

    # Untimed warm-up pass: JVM/JIT + parquet footer caches, so series 1
    # measures the same steady state as series 2–3.
    for name in HEADLINE:
        _time_once(registry.QUERIES[name], spark, sf_dir)

    runs: list[dict[str, float]] = []
    for _ in range(N_SERIES):
        series = {
            name: round(_time_once(registry.QUERIES[name], spark, sf_dir), 3)
            for name in HEADLINE
        }
        runs.append(series)

    medians = {
        name: round(statistics.median(r[name] for r in runs), 3) for name in HEADLINE
    }

    payload = _payload(medians, sf)
    # Raw series to the sidecar (never stdout — see the module-doc note on
    # the driver's bounded tail capture).
    runs_path = os.environ.get(
        "SPARK_GRAFT_BENCH_RUNS_PATH",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL_runs.json"),
    )
    try:
        with open(runs_path, "w", encoding="utf-8") as fh:
            json.dump({**payload, "runs": runs}, fh)
    except OSError:
        pass  # a read-only checkout must not fail the bench
    print(json.dumps(payload))
    spark.stop()


if __name__ == "__main__":
    main()
