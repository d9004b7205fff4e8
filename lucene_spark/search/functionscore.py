"""FunctionScoreQuery: compose a query's match set with a
DoubleValuesSource.

Re-expression of
`lucene/queries/src/java/org/apache/lucene/queries/function/FunctionScoreQuery.java:44-118`:

- ``FunctionScoreQuery(in, source)`` — matches `in`'s docs, scores
  each with the value source (which may itself read the wrapped
  query's score via ``DoubleValuesSource.SCORES``).
- ``boostByValue(in, boost)`` (`FunctionScoreQuery.java:64`) — score =
  in.score * boost(doc), i.e. source = SCORES * boost.
- ``boostByQuery(in, boostQuery, boostValue)``
  (`FunctionScoreQuery.java:78`) — score multiplied by `boostValue`
  only where `boostQuery` also matches (a QueryValueSource gate).

Spark shape: a DoubleValuesSource over stored doc values is just a
Column over the doc-values table, so FunctionScore = the scored match
frame joined to doc values on doc_id (one equi-join; at scale the
doc-values table shares the corpus partitioning, so the join is
co-located) with the combined expression evaluated in codegen.
Scores are float64 end-to-end, matching the parity scorer, so the
DuckDB oracle hash-matches exactly.
"""

from __future__ import annotations

from typing import Dict, Optional

from pyspark.sql import Column, DataFrame, functions as F

from lucene_spark.index.builder import InvertedIndex
from lucene_spark.search.parity import _bm25_scored_f64, _topk

__all__ = ["function_score_topk", "boost_by_query_topk", "function_range_match"]


def function_score_topk(
    index: InvertedIndex,
    term_boosts: Dict[str, float],
    doc_values: DataFrame,
    source: Column,
    mode: str = "multiply",
    k: int = 10,
) -> DataFrame:
    """Top-k of FunctionScoreQuery over a BM25 boolean-SHOULD inner
    query.

    ``source`` is a Column over `doc_values` rows (the
    DoubleValuesSource). ``mode='multiply'`` is boostByValue
    (score = bm25 * source); ``mode='replace'`` is the raw
    FunctionScoreQuery form (score = source, match set still the
    query's). Returns (doc_id, score) rounded 4dp, score desc / doc_id
    asc.
    """
    if mode not in ("multiply", "replace"):
        raise ValueError("mode must be 'multiply' or 'replace'")
    scored = _bm25_scored_f64(index, term_boosts)
    # LEFT join: the match set is the QUERY's. A doc with no doc-values
    # row scores 0 (DoubleValues.advanceExact == false →
    # FunctionScoreQuery keeps the doc at 0), it does not vanish.
    vals = doc_values.select("doc_id", source.cast("double").alias("_fv"))
    joined = scored.join(vals, "doc_id", "left").withColumn(
        "_fv", F.coalesce(F.col("_fv"), F.lit(0.0))
    )
    s = (
        (F.col("s") * F.col("_fv"))
        if mode == "multiply"
        else F.col("_fv")
    )
    return _topk(joined.select("doc_id", s.alias("s")), k)


def boost_by_query_topk(
    index: InvertedIndex,
    term_boosts: Dict[str, float],
    boost_terms: Dict[str, float],
    boost_value: float,
    k: int = 10,
) -> DataFrame:
    """FunctionScoreQuery.boostByQuery: base BM25 score multiplied by
    `boost_value` on docs that ALSO match the boost query (any of
    `boost_terms`), unchanged elsewhere (`FunctionScoreQuery.java:78`
    — QueryValueSource yields boost where the sub-query matches, 1
    otherwise)."""
    from lucene_spark.index.postings import read_postings

    scored = _bm25_scored_f64(index, term_boosts)
    # only PRESENCE of the boost query matters (QueryValueSource gate):
    # decode the boost terms' postings to a distinct doc set instead of
    # running the full scoring pipeline and discarding the scores
    bmatch = (
        read_postings(index, list(boost_terms))
        .select("doc_id")
        .distinct()
        .withColumn("_b", F.lit(True))
    )
    joined = scored.join(bmatch, "doc_id", "left")
    s = F.when(F.col("_b"), F.col("s") * F.lit(float(boost_value))).otherwise(
        F.col("s")
    )
    return _topk(joined.select("doc_id", s.alias("s")), k)


def function_range_match(
    df,
    value_col,
    lo: float | None = None,
    hi: float | None = None,
    include_lower: bool = True,
    include_upper: bool = True,
    id_col: str = "doc_id",
):
    """FunctionRangeQuery / FunctionMatchQuery
    (`queries/function/FunctionRangeQuery.java:37`,
    `FunctionMatchQuery.java:43`): match every doc whose computed
    DoubleValuesSource value satisfies a range/predicate. The
    reference warns this is a linear scan best combined with
    restrictive queries; in Spark the predicate is a codegen'd filter
    that participates in whole-stage codegen and — when the source is
    a plain column — pushes to the parquet scan, so the "combine with
    restrictive queries" guidance is exactly Catalyst's job. Returns
    (id_col, value) rows, id asc."""
    v = value_col.cast("double")
    cond = F.lit(True)
    if lo is not None:
        cond = cond & (v >= F.lit(float(lo)) if include_lower else v > F.lit(float(lo)))
    if hi is not None:
        cond = cond & (v <= F.lit(float(hi)) if include_upper else v < F.lit(float(hi)))
    return (
        df.filter(cond)
        .select(F.col(id_col), F.round(v, 4).alias("value"))
        .orderBy(id_col)
    )
