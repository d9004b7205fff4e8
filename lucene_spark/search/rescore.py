"""Two-phase retrieval: QueryRescorer / FeatureField scoring.

- :func:`rescore_phrase_topk` — `search/QueryRescorer.java:35-60`:
  take the first-pass top-`window` (a cheap disjunction), evaluate an
  expensive second query (here: an exact phrase) ONLY on that window,
  and combine ``first + weight * second`` (QueryRescorer's default
  combine). The Spark re-expression keeps Lucene's "advance the second
  scorer only to window docIDs" efficiency: the window's [min, max]
  docID range prunes posting blocks before the positional decode
  (`decode_positions(doc_range=...)` — the skip-list analog), the
  phrase rows are restricted to the window by a broadcast join, and
  the phrase freqs score through the searcher's kernel as a float64
  pseudo-term, like :func:`lucene_spark.search.parity.phrase_bm25_f64`.
- :func:`saturation` / :func:`log_feature` / :func:`sigmoid` +
  :func:`feature_bm25_topk` — `document/FeatureField.java:63-147`:
  static per-document ranking signals (pagerank, freshness, url
  length) folded into the relevance score as ``weight * f(v)``.
  Lucene smuggles the feature value into a pseudo-term's frequency;
  columnar storage makes that encoding unnecessary — the feature is
  just a column, and at scale it lives doc-partitioned next to the
  norms so the score join is co-located (zero extra shuffle with a
  shared layout).
"""

from __future__ import annotations

from functools import partial
from typing import Dict

from pyspark.sql import Column, DataFrame, functions as F

from lucene_spark.index.builder import InvertedIndex
from lucene_spark.search.parity import _bm25_scored_f64, _f64_weight
from lucene_spark.search.searcher import IndexSearcher

__all__ = [
    "rescore_phrase_topk",
    "feature_bm25_topk",
    "saturation",
    "log_feature",
    "sigmoid",
]


def rescore_phrase_topk(
    index: InvertedIndex,
    first_pass: Dict[str, float],
    phrase: list,
    window: int = 50,
    weight: float = 2.0,
    k: int = 10,
) -> DataFrame:
    """First-pass BM25 disjunction top-`window`, rescored by
    ``first + weight * phrase_bm25`` on the window only, top-`k` out.

    Returns (doc_id, score double rounded 4dp), combined-score desc /
    doc_id asc — `QueryRescorer.rescore` semantics: docs in the window
    that do not match the phrase keep their first-pass score.
    """
    spark = index.spark
    win = (
        _bm25_scored_f64(index, first_pass)
        .orderBy(F.col("s").desc(), F.col("doc_id").asc())
        .limit(window)
        .persist()
    )
    try:
        # window docID bounds: a k-bounded driver action, the in-RAM
        # TopDocs Lucene's rescorer iterates anyway
        bounds = win.agg(
            F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
        ).collect()[0]
        if bounds["lo"] is None:
            return spark.createDataFrame([], "doc_id long, score double")

        searcher = IndexSearcher(index)
        ctx = searcher._bind_terms(phrase)
        plan = searcher._phrase_plan(
            ctx,
            phrase,
            doc_range=(bounds["lo"], bounds["hi"]),
            weigh=partial(_f64_weight, ctx),
        )
        if plan.blocks is not None:  # None: an unindexed term matches nothing
            plan.blocks = plan.blocks.join(F.broadcast(win.select("doc_id")), "doc_id")
        second = searcher._frame(plan).withColumnRenamed("score", "ps")
        combined = win.join(second, "doc_id", "left").withColumn(
            "c",
            F.col("s") + F.lit(float(weight)) * F.coalesce(F.col("ps"), F.lit(0.0)),
        )
        # Materialize the k result rows off the still-cached window,
        # then release it (r2 advice: no persisted blocks outlive the
        # query).
        rows = (
            combined.orderBy(F.col("c").desc(), F.col("doc_id").asc())
            .limit(k)
            .select("doc_id", F.round(F.col("c"), 4).alias("score"))
            .collect()
        )
    finally:
        win.unpersist()
    return spark.createDataFrame(rows, "doc_id long, score double")


def saturation(v: Column, pivot: float) -> Column:
    """FeatureField.newSaturationQuery: v / (v + pivot)."""
    return v / (v + F.lit(float(pivot)))


def log_feature(v: Column, scaling: float = 1.0) -> Column:
    """FeatureField.newLogQuery: ln(scaling + v)."""
    return F.log(F.lit(float(scaling)) + v)


def sigmoid(v: Column, pivot: float, exponent: float) -> Column:
    """FeatureField.newSigmoidQuery: v^a / (v^a + pivot^a)."""
    va = F.pow(v, F.lit(float(exponent)))
    return va / (va + F.lit(float(pivot) ** float(exponent)))


def feature_bm25_topk(
    index: InvertedIndex,
    term_boosts: Dict[str, float],
    features: DataFrame,
    feature_score: Column,
    weight: float = 1.0,
    k: int = 10,
) -> DataFrame:
    """BM25 disjunction + ``weight * feature_score`` static signal.

    `features` is (doc_id, ...feature cols); `feature_score` is a
    Column over those (e.g. ``saturation(F.col("n_chars"), 500)``).
    Docs matching no text term don't enter the result (text SHOULD
    group + feature SHOULD clause composed like FeatureField's javadoc
    example, where the feature boosts but doesn't recall).
    """
    scored = _bm25_scored_f64(index, term_boosts)
    combined = scored.join(features, "doc_id", "left").withColumn(
        "c",
        F.col("s")
        + F.lit(float(weight)) * F.coalesce(feature_score, F.lit(0.0)),
    )
    return (
        combined.orderBy(F.col("c").desc(), F.col("doc_id").asc())
        .limit(k)
        .select("doc_id", F.round(F.col("c"), 4).alias("score"))
    )


def sort_rescorer_topk(
    index: InvertedIndex,
    term_boosts,
    sort_df: DataFrame,
    sort_col: str,
    first_pass_k: int = 50,
    top_n: int = 10,
    ascending: bool = False,
) -> DataFrame:
    """SortRescorer (`core/search/SortRescorer.java:28`): take the
    first-pass top-``first_pass_k`` relevance hits, then re-order that
    WINDOW by an arbitrary sort field (the "retrieve by relevance,
    present by recency/price" pattern), keeping ``top_n``.

    Two TakeOrderedAndProjects: the first pass is the normal BM25
    top-k; the second sorts only the k-row window joined (broadcast —
    it is k rows) to the sort column, so the rescore costs one
    broadcast join of k rows no matter the corpus size. Returns
    (doc_id, score, sort_value), sort order then docID asc."""
    from lucene_spark.search.parity import _bm25_scored_f64

    first = (
        _bm25_scored_f64(index, term_boosts)
        .orderBy(F.col("s").desc(), F.col("doc_id").asc())
        .limit(first_pass_k)
    )
    joined = sort_df.join(
        F.broadcast(first), "doc_id"
    ).select(
        "doc_id",
        F.round("s", 4).alias("score"),
        F.col(sort_col).alias("sort_value"),
    )
    order = (
        F.col("sort_value").asc() if ascending else F.col("sort_value").desc()
    )
    return joined.orderBy(order, F.col("doc_id").asc()).limit(top_n)
