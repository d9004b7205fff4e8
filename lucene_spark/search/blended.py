"""BlendedTermQuery — equalized term statistics across a term set.

Reference: `lucene/core/src/java/org/apache/lucene/search/
BlendedTermQuery.java:47`: every term in the set is scored with
ARTIFICIAL blended statistics — ``df = max(df_i)``, ``ttf = Σ ttf_i``
(adjustFrequencies) — so a rare variant (typo, cross-field copy,
synonym) cannot dominate ranking purely through its tiny docFreq.
The per-term queries (with their boosts) then combine via
``DISJUNCTION_MAX_REWRITE`` (DisMax, tie 0.01 — the class default) or
``BOOLEAN_REWRITE`` (SHOULD sum).

Spark shape: identical physical plan to the other similarity paths —
one posting decode for the term set, 256-row norm broadcast, k-row
stats broadcast, codegen'd score expression, partial-agg'd groupBy,
TakeOrderedAndProject top-k.  BM25's score only reads docFreq, so the
blend enters through the shared idf computed from ``max(df)``.
"""

from __future__ import annotations

from typing import Dict

import numpy as np
from pyspark.sql import DataFrame, functions as F

from ..functions.smallfloat import byte4_to_int
from ..index.builder import InvertedIndex
from ..index.postings import read_postings
from .parity import B, K1

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
    spark = index.spark
    terms = sorted(term_boosts)
    stats = {
        r["term"]: int(r["doc_freq"])
        for r in index.terms.filter(F.col("term").isin(terms)).collect()
    }
    present = [t for t in terms if t in stats]
    if not present:
        return spark.createDataFrame([], "doc_id long, score double")
    # adjustFrequencies: df is the max of all doc freqs
    df_blended = max(stats[t] for t in present)
    n, sttf = index.doc_count, index.sum_total_term_freq
    posts = read_postings(index, present)
    dlq = spark.createDataFrame(
        [(int(i), int(byte4_to_int(np.int64(i)))) for i in range(256)],
        "norm int, dl_q int",
    )
    tb = spark.createDataFrame(
        [(t, float(term_boosts[t])) for t in present],
        "term string, boost double",
    )
    avgdl = F.lit(float(sttf)) / F.lit(float(n))
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n)) - F.lit(df_blended) + F.lit(0.5))
        / (F.lit(df_blended) + F.lit(0.5))
    )
    norm_f = F.lit(K1) * (F.lit(1.0 - B) + F.lit(B) * F.col("dl_q") / avgdl)
    per_term = F.col("boost") * idf * F.col("freq") / (F.col("freq") + norm_f)
    scored = (
        posts.join(F.broadcast(dlq), "norm")
        .join(F.broadcast(tb), "term")
        .withColumn("s_t", per_term)
        .groupBy("doc_id")
        .agg(F.max("s_t").alias("mx"), F.sum("s_t").alias("sm"))
    )
    s = (
        F.col("mx") + F.lit(float(tie)) * (F.col("sm") - F.col("mx"))
        if rewrite == "dismax"
        else F.col("sm")
    )
    scored = scored.withColumn("s", s)
    hidden = index.hidden_docs
    if hidden is not None:
        scored = scored.join(hidden, "doc_id", "left_anti")
    return (
        scored.orderBy(F.col("s").desc(), F.col("doc_id").asc())
        .limit(k)
        .select("doc_id", F.round("s", 4).alias("score"))
    )
