"""IndriAndQuery — Indri belief-AND over smoothed language models.

References: `lucene/core/src/java/org/apache/lucene/search/
IndriAndQuery.java`, `IndriAndWeight.java`, `IndriAndScorer.java:45`
(scoreDoc: the BOOST-WEIGHTED MEAN ``Σ boost_i·s_i / Σ boost_i``),
`TermScorer.java:108` (smoothingScore: a clause that does not match
the doc contributes ``similarity.score(freq=0, norm)`` — the Dirichlet
background probability, "acts like an idf for subqueries/terms"),
`similarities/IndriDirichletSimilarity.java:68`.

Because every candidate doc is scored by EVERY clause (matched or
smoothed), the candidate set is the union of the clauses' postings and
the score needs each doc's length even for missing clauses — one
cross of the union docs with the k-term broadcast, left-joined against
the postings.  Terms absent from the whole index produce no scorer and
drop out of both sums, like the reference's null-scorer skip.
"""

from __future__ import annotations

from typing import Dict

from pyspark.sql import DataFrame, functions as F

from ..index.builder import InvertedIndex
from ..index.postings import read_postings
from .parity import _dlq_col, _topk
from .searcher import IndexSearcher

__all__ = ["indri_and_topk"]


def indri_and_topk(
    index: InvertedIndex,
    term_boosts: Dict[str, float],
    mu: float = 2000.0,
    k: int = 10,
) -> DataFrame:
    """Top-k by the Indri AND belief score (negative log-probs; higher
    = less negative = better)."""
    spark = index.spark
    stats = {
        r["term"]: int(r["total_term_freq"])
        for r in index.terms.filter(
            F.col("term").isin(list(term_boosts))
        ).collect()
    }
    present = sorted(t for t in term_boosts if t in stats)
    if not present:
        return spark.createDataFrame([], "doc_id long, score double")
    n, sttf = index.doc_count, index.sum_total_term_freq
    boost_sum = sum(float(term_boosts[t]) for t in present)

    posts = read_postings(index, present)
    union_docs = posts.select("doc_id", "norm").distinct()
    tb = spark.createDataFrame(
        [(t, float(term_boosts[t]), stats[t]) for t in present],
        "term string, boost double, ttf long",
    )
    # every (union doc × clause): matched freq or the smoothing 0
    pairs = (
        union_docs.join(_dlq_col(spark), "norm")
        .crossJoin(F.broadcast(tb))
        .join(
            posts.select("doc_id", "term", "freq"), ["doc_id", "term"], "left"
        )
        .withColumn("freq", F.coalesce(F.col("freq"), F.lit(0)))
    )
    p_c = F.col("ttf") / F.lit(float(sttf))
    s = F.col("boost") * F.log(
        (F.col("freq") + F.lit(float(mu)) * p_c)
        / (F.col("dl_q") + F.lit(float(mu)))
    )
    scored = (
        pairs.withColumn("s_t", s)
        .groupBy("doc_id")
        .agg((F.sum("s_t") / F.lit(boost_sum)).alias("s"))
    )
    return _topk(IndexSearcher(index)._live(scored), k)
