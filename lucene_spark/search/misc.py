"""Analogs of Lucene's `misc` module utilities.

- :func:`high_freq_terms` — `misc/src/java/org/apache/lucene/misc/
  HighFreqTerms.java:37` (top-n terms by docFreq or totalTermFreq,
  ties broken by term text per `DocFreqComparator`/
  `TotalTermFreqComparator`, HighFreqTerms.java:129-158).
- :func:`doc_values_stats` — `misc/search/DocValuesStats.java:29`
  (count / missing / min / max / sum / mean / variance / stdev of a
  numeric doc-values field over a match set).
- :func:`diversified_topk` — `misc/search/
  DiversifiedTopDocsCollector.java:69` (top-k with at most
  max_hits_per_key docs sharing a key).

All three are single partial-aggregated DataFrame plans: the terms
table is already term-keyed (no extra shuffle beyond the orderBy
top-n), the stats are one `agg()` over the match set (map-side
combine, one row out), and diversification is one window per key plus
a `TakeOrderedAndProject` — no driver materialization anywhere, so
each survives a 1000-executor / 100 TB scale-up unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

__all__ = [
    "large_num_hits_topk","high_freq_terms", "doc_values_stats", "diversified_topk"]


def high_freq_terms(
    terms: DataFrame, n: int = 100, order: str = "doc_freq"
) -> DataFrame:
    """Top-`n` (term, doc_freq, total_term_freq) rows from an index's
    terms table, ordered by `order` desc with term-text asc
    tie-breaks (HighFreqTerms.java:132-158; the field-name tie level
    collapses because one index column == one field)."""
    if order not in ("doc_freq", "total_term_freq"):
        raise ValueError("order must be doc_freq or total_term_freq")
    return (
        terms.select("term", "doc_freq", "total_term_freq")
        .orderBy(F.col(order).desc(), F.col("term").asc())
        .limit(n)
    )


def doc_values_stats(matched: DataFrame, value_col: str) -> DataFrame:
    """One-row numeric doc-values stats over a match set
    (DocValuesStats.java:29, LongDocValuesStats / DoubleDocValuesStats).

    `missing` counts matched docs with a NULL `value_col`
    (DocValuesStats.accumulate, :64-71). mean/variance/stdev are
    derived from exact integer sums (sum, sum-of-squares) rather than
    the reference's streaming Welford update — algebraically the same
    population variance (`variance/count`, DocValuesStats.java:130-138)
    without a merge-order-dependent float accumulation, so the result
    is deterministic under Spark's partial aggregation.
    """
    v = F.col(value_col).cast("long")
    agg = matched.agg(
        F.count(v).alias("cnt"),
        F.sum(F.when(v.isNull(), 1).otherwise(0)).alias("missing"),
        F.min(v).alias("min_v"),
        F.max(v).alias("max_v"),
        F.sum(v).alias("sum_v"),
        F.sum(v * v).alias("_sumsq"),
    )
    mean = F.col("sum_v") * F.lit(1.0) / F.col("cnt")
    variance = F.col("_sumsq") * F.lit(1.0) / F.col("cnt") - mean * mean
    return agg.select(
        "cnt",
        "missing",
        "min_v",
        "max_v",
        "sum_v",
        mean.alias("mean_v"),
        F.round(variance, 6).alias("variance"),
        F.round(F.sqrt(variance), 6).alias("stdev"),
    )


def diversified_topk(
    scored: DataFrame,
    key_col: str,
    max_per_key: int,
    k: int,
    score_col: str = "s",
    id_col: str = "doc_id",
) -> DataFrame:
    """Global top-`k` by score keeping at most `max_per_key` docs per
    key (DiversifiedTopDocsCollector.java:69 — "top 20 hit records of
    1967 with a max of 3 Beatles hits"): each key retains only its
    best `max_per_key` hits (score desc, docID asc on ties, the
    collector's insertWithOverflow order), then the survivors compete
    for the global top-k under the same order.

    Physical plan: one hash-partitioned window per key (keys are the
    diversity dimension — low cardinality relative to docs, so no
    skew pathology worse than the equivalent grouping search) feeding
    a TakeOrderedAndProject; nothing is collected.
    """
    w = Window.partitionBy(key_col).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= max_per_key)
        .drop("_rk")
        .orderBy(F.col(score_col).desc(), F.col(id_col).asc())
        .limit(k)
    )


def large_num_hits_topk(
    index,
    term_boosts,
    num_hits: int = 1 << 20,
):
    """LargeNumHitsTopDocsCollector
    (`sandbox/search/LargeNumHitsTopDocsCollector.java:38`): when the
    requested window is expected to exceed the hit count, skip the
    per-hit priority queue — collect every hit's score and sort ONCE
    at the end; totalHits is exact by construction. The Spark plan is
    literally that collector: score all matches (no k-bounded heap
    until the final TakeOrdered), one global sort of the hit set, plus
    the exact hit total on every row. Returns
    (doc_id, score, total_hits)."""
    from lucene_spark.search.parity import _bm25_scored_f64

    scored = _bm25_scored_f64(index, term_boosts)
    total = scored.agg(F.count(F.lit(1)).cast("long").alias("total_hits"))
    return (
        scored.crossJoin(F.broadcast(total))
        .select("doc_id", F.round("s", 4).alias("score"), "total_hits")
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(num_hits)
    )


def multi_collector_stats(
    index,
    term_boosts,
    value_col_expr=None,
) -> DataFrame:
    """MultiCollector / MultiCollectorManager analog
    (`core/search/MultiCollector.java:36`,
    `MultiCollectorManager.java:30`): several collectors observe ONE
    scoring pass.  Where Lucene wraps LeafCollectors so each collect()
    feeds every child, the DataFrame analog fuses every SCALAR
    collector (TotalHitCountCollector, max/min/avg score trackers,
    sum aggregators) into ONE partial-agg'd job over the single scored
    frame — literally one pass over the postings, map-side combined.

    Returns one row: (total_hits, max_score, min_score, sum_score,
    avg_score) — TotalHitCount + the score-statistics collectors.
    """
    from pyspark.sql import functions as F

    from .parity import _bm25_scored_f64

    scored = _bm25_scored_f64(index, term_boosts)
    return scored.agg(
        F.count(F.lit(1)).cast("long").alias("total_hits"),
        F.round(F.max("s"), 4).alias("max_score"),
        F.round(F.min("s"), 4).alias("min_score"),
        F.round(F.sum("s"), 4).alias("sum_score"),
        F.round(F.avg("s"), 4).alias("avg_score"),
    )


def document_terms(index, doc_id: int, with_positions: bool = False) -> DataFrame:
    """Luke Documents-tab analog: one document's indexed view — every
    (term, freq[, positions]) posting it carries.

    The block skip metadata prunes first: only blocks whose
    [first_doc, max_doc] interval covers the id decode (the same
    pushdown every query path uses), so the cost is one narrow pass
    over the document's own blocks, not the index.
    """
    from pyspark.sql import functions as F

    from lucene_spark.index.postings import read_postings

    posts = read_postings(index, None, doc_range=(doc_id, doc_id))
    out = posts.select("term", F.col("freq").cast("long").alias("freq"))
    if with_positions:
        from .positional import decode_positions

        # the doc's own distinct terms (<= its dl — a bounded collect)
        doc_terms = [r["term"] for r in out.select("term").collect()]
        if doc_terms:
            pos = decode_positions(index, doc_terms, doc_range=(doc_id, doc_id))
            out = out.join(
                pos.select("term", F.col("positions")),
                "term",
                "left",
            )
        else:
            out = out.withColumn(
                "positions", F.lit(None).cast("array<long>")
            )
    return out.orderBy("term")
