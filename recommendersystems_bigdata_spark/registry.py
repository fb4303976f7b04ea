"""Central query registry — the bridge to the driver contract.

Every operator module registers its queries with the :func:`query`
decorator; ``__spark_entry__.queries()`` / ``oracle_sql()`` read the two
dicts assembled here. Keys are the stable SURVEY.md §2 identifiers
(``q_agg_pricing_summary``, ``q_join_asof``, ...).

A query registered *without* oracle SQL gets the driver's weaker
rows-only check (reserved for genuinely non-SQL-expressible operators:
LSH, ALS, streaming).

Registration order is the fixed :data:`_QUERY_MODULES` order, then file
order inside each module. It has no semantic effect: every key's result
is independent of which keys registered before it.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

# Modules whose import populates the registry, in one fixed order. The
# order only decides the iteration order of QUERIES; it has no semantic
# effect.
_PKG = "recommendersystems_bigdata_spark"

_QUERY_MODULES = tuple(
    f"{_PKG}.{m}"
    for m in (
        "operators.windows",
        "operators.sorts",
        "operators.setops",
        "functions.scalars",
        "functions.udfs",
        "ml.dedup",
        "ml.similarity",
        "ml.text",
        "ml.multimodal",
        "ml.pipeline",
        "ml.recommender",
        "operators.timeops",
        "streaming.stream_queries",
        "sources.formats",
        "operators.scans",
        "operators.filters",
        "operators.joins",
        "operators.aggregates",
        "ml.curation",
        "ml.graph",
        "sources.ingest",
        "ml.privacy",
        "operators.sampling",
        "ml.matching",
        "operators.tpch_extra",
        "operators.timeseries",
        "operators.tpch_adapt",
        "operators.incremental",
        "operators.attribution",
        "operators.quality",
        "operators.analytics2",
        "streaming.stream_extra",
        "sources.pyds",
        "operators.sequences",
        "ml.features",
        "streaming.stream_state",
        "ml.search",
        "operators.rankstats",
        "operators.recursive",
        "operators.tsdiag",
        "operators.lifecycle",
        "ml.receval",
        "operators.integrity",
        "operators.inventory",
        "operators.spatial",
        "operators.calendar",
        "operators.sketchops",
        "operators.pricing",
        "operators.fulfillment",
        "operators.sqlsurface",
        "operators.procurement",
        "operators.forecast",
        "operators.bagops",
        "ml.lexstats",
        "operators.robust",
        "streaming.stream_outer",
        "operators.winsurface",
        "operators.migration",
        "operators.contingency",
        "operators.sampling2",
        "operators.apportion",
        "operators.bridge",
        "operators.backlog",
        "operators.inequality",
        "operators.tradeflow",
        "operators.cadence",
        "operators.standardize",
        "operators.priority_sla",
        "operators.rankedreports",
        "operators.regression",
        "operators.eventstudy",
        "operators.survival",
        "operators.hotspot",
        "operators.periodcmp",
        "operators.spc",
        "operators.benford",
        "operators.abcxyz",
        "ml.ctxbudget",
        "operators.botscreen",
        "ml.vecaudit",
        "operators.anova",
        "operators.simpson",
        "operators.revretention",
        "operators.basketshape",
        "operators.skyline",
        "operators.trend",
        "operators.peerbench",
        "operators.sharetree",
        "operators.fingerprint",
        "operators.dependence",
        "operators.calibration",
        "operators.pooling",
        "operators.leadlag",
        "operators.shuffleplan",
        "ml.repetition",
        "operators.seqab",
        "operators.newsvendor",
    )
)

_loaded = False


def query(key: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` under ``key``; optionally attach its DuckDB oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if key in QUERIES:
            raise ValueError(f"duplicate query key {key!r}")
        QUERIES[key] = fn
        if oracle is not None:
            ORACLES[key] = oracle
        return fn

    return deco


def load_all() -> None:
    """Import every operator module once, populating QUERIES/ORACLES."""
    global _loaded
    if _loaded:
        return
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)
    _loaded = True
