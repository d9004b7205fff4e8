"""MemoryIndex analog: score a query against each document as its own
single-document index.

Lucene's MemoryIndex (`memory/src/java/org/apache/lucene/index/memory/
MemoryIndex.java:147`) holds exactly one document and answers
`search(query)` with that document's score — the classic "prospective
search" / percolation primitive (each stored query is scored against
one incoming doc). Its collection statistics are therefore degenerate:
``N = 1``, ``docFreq = 1`` for every term the doc contains, and
``avgdl = dl`` (the one doc IS the collection), which collapses BM25
(k1=1.2, b=0.75) to

    score(doc) = sum over query terms present:
        boost * ln(1 + 0.5/1.5) * tf / (tf + k1)

since the length norm ``k1 * (1 - b + b * dl/avgdl)`` is just ``k1``.

The Spark re-expression runs the degenerate scorer over EVERY row at
once — one narrow map stage (split / filter / aggregate expressions,
all JVM whole-stage-codegen, no shuffle until the final top-k), which
is the batch shape a 100 TB percolation sweep needs: no per-doc index
object, no Python in the loop.
"""

from __future__ import annotations

from typing import Dict

from pyspark.sql import DataFrame, functions as F

from lucene_spark.search.parity import _topk

__all__ = ["memory_index_scores"]

_K1 = 1.2
# ln(1 + (N - df + 0.5) / (df + 0.5)) at N=1, df=1
_IDF1 = "ln(1.0 + 0.5 / 1.5)"


def memory_index_scores(
    docs: DataFrame,
    term_boosts: Dict[str, float],
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, score) of the top-`k` docs by their own single-doc
    MemoryIndex BM25 score for a boolean-OR of `term_boosts`
    (MemoryIndex.java:147 `search`; MemoryIndexReader's degenerate
    stats). Whitespace tokenization to stay oracle-comparable.

    Score is rounded to 4dp after ordering (same float-hash contract
    as the other f64 parity gates).
    """
    toks = F.filter(F.split(F.col(text_col), " "), lambda x: x != F.lit(""))
    score = F.lit(0.0)
    for term, boost in sorted(term_boosts.items()):
        tf = F.size(F.filter(toks, lambda x: x == F.lit(term))).cast("double")
        score = score + F.when(
            tf > 0,
            F.lit(float(boost))
            * F.expr(_IDF1)
            * tf
            / (tf + F.lit(_K1)),
        ).otherwise(F.lit(0.0))
    return _topk(
        docs.select(F.col(id_col).alias("doc_id"), score.alias("s")).filter(F.col("s") > 0), k
    )
