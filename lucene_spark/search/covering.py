"""CoveringQuery: per-document minimumNumberMatch.

`queries/src/java/org/apache/lucene/queries/CoveringQuery.java:40-60`
matches documents where at least `minimumNumberMatch` of the sub
queries match, with the threshold supplied PER DOCUMENT by a
`LongValuesSource` (doc-values field) rather than a query constant —
BooleanQuery.minShouldMatch generalized to data-dependent thresholds.

Spark re-expression: the per-clause match count is the same
conditional aggregation the boolean evaluator uses (one decode pass,
partial-agg'd `groupBy doc_id`); the threshold is just a column joined
from the doc table, and the filter `nmatch >= threshold` runs in the
same stage as the join — at scale this is one shuffle on doc_id, the
cheapest shape a data-dependent predicate can have.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, functions as F

from lucene_spark.index.builder import InvertedIndex
from lucene_spark.index.postings import read_postings

__all__ = ["covering_matches"]


def covering_matches(
    index: InvertedIndex,
    terms: Sequence[str],
    thresholds: DataFrame,
    threshold_col: str = "min_match",
) -> DataFrame:
    """(doc_id, nmatch) for docs where the number of distinct matching
    `terms` >= the doc's `threshold_col` value in `thresholds`
    (doc_id, threshold_col). Docs absent from `thresholds` don't match
    (LongValuesSource without a value advances past the doc).
    """
    terms = list(dict.fromkeys(terms))
    nmatch = (
        read_postings(index, terms)
        .select("doc_id", "term")
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("nmatch"))
    )
    out = nmatch.join(
        thresholds.select("doc_id", F.col(threshold_col).alias("_min")), "doc_id"
    ).filter(F.col("nmatch") >= F.col("_min"))
    hidden = index.hidden_docs
    if hidden is not None:
        out = out.join(hidden, "doc_id", "left_anti")
    return out.select("doc_id", "nmatch")
