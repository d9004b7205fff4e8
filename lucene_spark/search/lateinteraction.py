"""Late-interaction (ColBERT-style) multi-vector MaxSim rescoring.

References: `lucene/core/src/java/org/apache/lucene/search/
LateInteractionRescorer.java:28` and
`LateInteractionFloatValuesSource.java` (the maxSim loop: ``score =
Σ_q max_d sim(q, d)`` over the query's and document's token vectors),
`document/LateInteractionField` (the multi-vector doc field).

Similarity functions mirror ``VectorSimilarityFunction``'s score
normalization: COSINE → ``(1 + cos)/2``, DOT_PRODUCT → ``(1+dot)/2``,
EUCLIDEAN → ``1/(1 + ||q−d||²)``.

Spark shape
-----------
The query multi-vector is a handful of driver-side constants, so the
whole MaxSim is a PURE JVM higher-order-function column —
``array_max(transform(doc_vectors, d → sim(q_i, d)))`` summed over
the query tokens.  No UDF, no Arrow hop, no shuffle: at 100 TB the
rescore is a semi join of the doc multi-vector column against the
broadcast first-pass ids, a broadcast left join of the hits against
that k-bounded result, and one codegen'd projection.  Docs
missing the multi-vector score 0 (``combine``) or keep their
first-pass score (``withFallbackToFirstPassScore``).
"""

from __future__ import annotations

import math
from typing import List, Sequence

from pyspark.sql import Column, DataFrame, functions as F

__all__ = ["late_interaction_maxsim_col", "late_interaction_rescore"]


def _dot(d: Column, q: List[float]) -> Column:
    qlit = F.array(*[F.lit(float(x)) for x in q])
    return F.aggregate(
        F.zip_with(d, qlit, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm2(d: Column) -> Column:
    return F.aggregate(
        d, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
    )


def _compare(d: Column, q: List[float], similarity: str) -> Column:
    qn2 = sum(float(x) * float(x) for x in q)
    if similarity == "cosine":
        if qn2 == 0.0:
            raise ValueError("zero-norm query token vector")
        # zero-norm DOC vectors score cos=0 instead of 0/0=NaN (Spark
        # orders NaN above every double, which would rank them FIRST);
        # same guard as the HNSW merge path
        n2 = _norm2(d)
        cos = F.when(n2 == 0.0, F.lit(0.0)).otherwise(
            _dot(d, q) / (F.sqrt(n2) * F.lit(math.sqrt(qn2)))
        )
        return (F.lit(1.0) + cos) / F.lit(2.0)
    if similarity == "dot_product":
        return (F.lit(1.0) + _dot(d, q)) / F.lit(2.0)
    if similarity == "euclidean":
        dist2 = _norm2(d) - F.lit(2.0) * _dot(d, q) + F.lit(qn2)
        return F.lit(1.0) / (F.lit(1.0) + dist2)
    raise ValueError(f"unknown similarity {similarity!r}")


def late_interaction_maxsim_col(
    multivec_col: Column,
    query_vecs: Sequence[Sequence[float]],
    similarity: str = "cosine",
) -> Column:
    """``Σ_q max_d sim(q, d)`` as one codegen'd Column
    (`LateInteractionFloatValuesSource`'s maxSim loop)."""
    if not query_vecs:
        raise ValueError("empty query multi-vector")
    parts = [
        F.array_max(
            F.transform(multivec_col, lambda d: _compare(d, list(q), similarity))
        )
        for q in query_vecs
    ]
    total = parts[0]
    for p in parts[1:]:
        total = total + p
    return total


def late_interaction_rescore(
    first_pass: DataFrame,
    docs: DataFrame,
    query_vecs: Sequence[Sequence[float]],
    id_col: str = "doc_id",
    multivec_col: str = "multi_vec",
    score_col: str = "score",
    similarity: str = "cosine",
    fallback_to_first_pass: bool = False,
    k: int = 10,
) -> DataFrame:
    """Rescore first-pass hits by MaxSim (`LateInteractionRescorer`).

    first_pass: k-bounded (id, score) hits; docs: (id, multi-vector)
    table. Both joins are broadcast hash joins on the k-bounded side.  Missing multi-vectors
    score 0, or keep the first-pass score with
    ``fallback_to_first_pass=True`` (withFallbackToFirstPassScore).
    """
    fp = first_pass.select(
        F.col(id_col), F.col(score_col).alias("_fp_score")
    )
    # Spark never broadcasts the preserved side of an outer join, so the
    # corpus is first cut to the first-pass ids (a semi join building
    # on the broadcast ids), and that <= k-row frame is the broadcast
    # build side of the left join
    hits = docs.select(F.col(id_col), F.col(multivec_col).alias("_mv")).join(
        F.broadcast(fp.select(id_col)), id_col, "left_semi"
    )
    joined = fp.join(F.broadcast(hits), id_col, "left")
    maxsim = late_interaction_maxsim_col(F.col("_mv"), query_vecs, similarity)
    absent = F.col("_mv").isNull() | (F.size("_mv") == 0)
    combined = F.when(
        absent,
        F.col("_fp_score").cast("double") if fallback_to_first_pass else F.lit(0.0),
    ).otherwise(maxsim)
    return (
        joined.select(F.col(id_col), combined.alias("_s"))
        .orderBy(F.col("_s").desc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, F.round("_s", 6).alias("score"))
    )
