"""CommonTermsQuery: df-split boolean query
(`lucene/queries/src/java/org/apache/lucene/queries/CommonTermsQuery.java:80`).

Query terms are split by document frequency at query-build time
(`buildQuery`, CommonTermsQuery.java:145): a term is HIGH-frequency
when ``docFreq > maxTermFrequency`` (absolute form, ≥1) or
``docFreq > (int) ceil(maxTermFrequency · maxDoc)`` (fractional form).
The low-frequency group is REQUIRED (outer MUST) and the
high-frequency group optional (outer SHOULD) — so stop-like terms
rank but never gate the match set; when no low-frequency terms exist
the high group is rewritten to a conjunction (:175) to avoid a
full-corpus disjunction. Scores are plain BM25 sums over every
matching clause, identical to the equivalent BooleanQuery.

Spark shape: the df probe is a bounded collect over the query's own
terms (the terms-dictionary lookup the reference does in
`collectTermStates`); each group is one decode + partial-aggregated
groupBy, combined with a single left join keyed on doc_id.
"""

from __future__ import annotations

import math
from typing import Dict, Sequence

from pyspark.sql import DataFrame, functions as F

__all__ = ["common_terms_topk"]


def _msm(f: float, n_optional: int) -> int:
    # CommonTermsQuery.minNrShouldMatch:138 — fractions use
    # Math.round (floor(x + 0.5)), not banker's rounding
    if f >= 1.0 or f == 0.0:
        return int(f)
    return int(math.floor(f * n_optional + 0.5))


def common_terms_topk(
    index,
    terms: Sequence[str],
    max_term_frequency: float,
    k: int = 10,
    low_occur: str = "should",
    high_occur: str = "should",
    low_msm: float = 0.0,
    high_msm: float = 0.0,
    low_boost: float = 1.0,
    high_boost: float = 1.0,
) -> DataFrame:
    """Top-k (doc_id, score) for a CommonTermsQuery over the index."""
    from .parity import _bm25_scored_f64, _topk

    if low_occur not in ("must", "should") or high_occur not in ("must", "should"):
        raise ValueError("occur must be 'must' or 'should' (MUST_NOT is rejected)")
    uniq = sorted(set(terms))
    stats = {
        r["term"]: int(r["doc_freq"])
        for r in index.terms.filter(F.col("term").isin(uniq))
        .select("term", "doc_freq")
        .collect()
    }
    n = index.doc_count
    frac_cut = int(math.ceil(max_term_frequency * float(n)))

    def is_high(df_: int) -> bool:
        return (max_term_frequency >= 1.0 and df_ > max_term_frequency) or (
            df_ > frac_cut
        )

    # unknown terms (no postings) stay in the low group, like the
    # termStates == null branch of buildQuery
    low = [t for t in uniq if t not in stats or not is_high(stats[t])]
    high = [t for t in uniq if t in stats and is_high(stats[t])]

    def group_scored(group, occur, msm_f, boost) -> DataFrame:
        eff = len(group) if occur == "must" else max(1, _msm(msm_f, len(group)))
        return _bm25_scored_f64(
            index, {t: boost for t in group}, min_should_match=eff
        )

    if not low:
        # high-only rewrite: conjunction unless an explicit msm was set
        occur = high_occur
        if high_occur != "must" and _msm(high_msm, len(high)) == 0:
            occur = "must"
        combined = group_scored(high, occur, high_msm, high_boost)
    else:
        combined = group_scored(low, low_occur, low_msm, low_boost)
        if high:
            h = group_scored(high, high_occur, high_msm, high_boost).withColumnRenamed(
                "s", "s_high"
            )
            combined = combined.join(h, "doc_id", "left").select(
                "doc_id",
                (F.col("s") + F.coalesce(F.col("s_high"), F.lit(0.0))).alias("s"),
            )
    return _topk(combined, k)
