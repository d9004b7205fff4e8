"""BlendedTermQuery — equalized term statistics across a term set.

Reference: `lucene/core/src/java/org/apache/lucene/search/
BlendedTermQuery.java:47`: every term in the set is scored with
ARTIFICIAL blended statistics — ``df = max(df_i)``, ``ttf = Σ ttf_i``
(adjustFrequencies) — so a rare variant (typo, cross-field copy,
synonym) cannot dominate ranking purely through its tiny docFreq.
The per-term queries (with their boosts) then combine via
``DISJUNCTION_MAX_REWRITE`` (DisMax, tie 0.01 — the class default) or
``BOOLEAN_REWRITE`` (SHOULD sum).

Spark shape: the searcher's exhaustive plan of the term set at float64
(:mod:`lucene_spark.search.parity`) — one decode+score pass, then the
plan's per-doc sum (BOOLEAN_REWRITE) or the DisMax combine. BM25's
score only reads docFreq, so the blend enters through the weights:
every term's idf comes from ``max(df)``.
"""

from __future__ import annotations

from typing import Dict

from pyspark.sql import DataFrame

from ..index.builder import InvertedIndex
from .parity import _f64_terms_plan, _topk
from .searcher import _dismax

__all__ = ["blended_term_topk"]


def blended_term_topk(
    index: InvertedIndex,
    term_boosts: Dict[str, float],
    k: int = 10,
    rewrite: str = "dismax",
    tie: float = 0.01,
) -> DataFrame:
    """Top-k under blended statistics; ``rewrite`` ∈ {"dismax",
    "boolean"} (DISJUNCTION_MAX_REWRITE default tie=0.01 /
    BOOLEAN_REWRITE)."""
    if rewrite not in ("dismax", "boolean"):
        raise ValueError("rewrite must be 'dismax' or 'boolean'")
    # adjustFrequencies: df is the max of all doc freqs
    searcher, plan = _f64_terms_plan(index, term_boosts, blend=True)
    if rewrite == "dismax":
        scored = _dismax(searcher._decoded(plan), tie)
    else:
        scored = searcher._frame(plan)
    return _topk(searcher._live(scored).withColumnRenamed("score", "s"), k)
