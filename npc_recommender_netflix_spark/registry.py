"""Query registry: every operator module registers (key -> callable, key -> oracle SQL).

The driver contract (``__spark_entry__.py``) aggregates these. Each callable
has signature ``(spark, sf_dir) -> DataFrame``; each oracle is ANSI SQL that
DuckDB 1.0 runs over the same parquet tables (pre-registered views).

Conventions enforced here (SURVEY.md §2 header):
- every float output rounded (6dp; money 2dp) on BOTH sides;
- every computed integral output cast to BIGINT on BOTH sides (Spark's
  row_number/size/year/... return INT while DuckDB returns BIGINT);
- every ordering ends in a unique tiebreak key;
- aliases identical between the Spark plan and the oracle SQL.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}

# Audit-tier contract (round-15 verdict item 4, made machine-checkable):
# these four keys are super-linear BY CONTRACT on any spread-out corpus
# (exact N² censuses, or output-bound at the weak cos>=0.35 threshold
# where the qualifying pair set itself is Θ(N²)). They stay registered as
# audit tools and stay labeled weak as production operators; each MUST
# keep its named linear production twin registered and ladder-measured.
# tools/inventory.py --check fails if a twin disappears or loses its
# SCALECHECK ladder row, so the pairing cannot silently break on rename.
AUDIT_TIER_TWINS: dict[str, str] = {
    "v_embed_neardup": "v_embed_neardup_strict",
    "v_semantic_dedup": "v_semantic_dedup_capped",
    # v_lsh_neardup shares the weak cos>=0.35 output contract: the
    # round-16 ladder measured it output-bound (x1 13.5k -> x10 331k ->
    # x30 3.0M pairs, 1973 s) — the qualifying pair set itself is
    # Θ(N²) at that threshold, so candidate pruning cannot save it. The
    # linear production path raises the threshold (its strict twin).
    # Promoted into this gate in round 17 (round-16 verdict item 2).
    "v_lsh_neardup": "v_embed_neardup_strict",
    "v_embed_neardup_lsh": "v_embed_neardup_strict",
    "v_lsh_multiprobe": "v_hamming_topk",
}


def register(key: str, oracle: str | None = None):
    """Decorator: register a query callable and (optionally) its oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if key in QUERIES:
            raise ValueError(f"duplicate query key: {key}")
        QUERIES[key] = fn
        if oracle is not None:
            ORACLE[key] = oracle
        return fn

    return deco


def load_all() -> None:
    """Import every operator module so registration side effects run."""
    from .sources import scans  # noqa: F401
    from .operators import filters, joins, aggregates, windows, setops, advanced, tpch, modern  # noqa: F401
    from .functions import strings, dates, maths, arrays, jsonmap  # noqa: F401
    from .recommender import core, als, rdd_mr, graph  # noqa: F401
    from .llm import text, vectors, dedup, multimodal, contamination, pipeline  # noqa: F401
    from .streaming import stream_windows, stateful  # noqa: F401
    from .udfs import surface  # noqa: F401
