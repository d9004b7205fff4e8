"""SQL-parity BM25 retrieval: the searcher's plan, float64 oracle-matching math.

The driver's correctness gate compares each Spark query against an
ANSI-SQL DuckDB oracle by value hash. Lucene's float32 scoring cannot
be reproduced bit-exactly in ANSI SQL, so the gate's term queries run
on :class:`IndexSearcher`'s own exhaustive plan (block selection,
decode+score kernel, clause combine, liveDocs) with float64 weights in
place of the float32 ones:

    dl_q   = byte4ToInt(intToByte4(dl))          -- the lossy norm round-trip
    idf    = ln(1 + (N - df + 0.5) / (df + 0.5))
    w      = boost * idf
    ni     = 1 / (k1 * ((1 - b) + b * dl_q / (sttf / N)))
    score  = Σ_terms w - w / (1 + freq * ni), rounded to 4dp

The oracle SQL sums ``w * freq / (freq + 1 / ni)``: algebraically
identical, and in float64 the ~1e-16 evaluation-order noise is
absorbed by the rounding. Only the weights' dtype separates this path
from the served float32 one (``_score_postings``), which the pytest
goldens and naive-reference differential tests check bit for bit.

:func:`oracle_bm25_sql` emits the matching DuckDB SQL so the Spark and
oracle sides are generated from one parameter set and cannot drift.
Phrase, synonym, combined-field and rescore parity score one freq per
doc (phrase occurrences, summed or field-weighted freqs) from a freq
producer, as a pseudo-term through the same kernel: only their float64
weights (:func:`_f64_weight`) differ. Pluggable similarities keep
column expressions over the :func:`_dlq_col` lookup.
"""

from __future__ import annotations

import math
from functools import partial
from typing import Dict, Optional

import numpy as np
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from lucene_spark.functions.smallfloat import byte4_to_int, int_to_byte4
from lucene_spark.index.builder import InvertedIndex
from lucene_spark.index.postings import read_postings
from lucene_spark.search.query import BooleanClause, BooleanQuery, BoostQuery, Occur, TermQuery
from lucene_spark.search.positional import _synonym_plan
from lucene_spark.search.searcher import IndexSearcher, _dismax, _freq_plan

__all__ = ["bm25_topk_f64", "oracle_bm25_sql"]

K1, B = 1.2, 0.75

# norm byte → quantized decoded length (exact ints; LENGTH_TABLE is float32)
_DLQ = byte4_to_int(np.arange(256, dtype=np.int64))


def _dlq_col(spark):
    """256-row broadcast: norm byte → quantized decoded length."""
    return F.broadcast(
        spark.createDataFrame([(i, int(d)) for i, d in enumerate(_DLQ)], "norm int, dl_q int")
    )


def _f64_idf(df: int, n: int) -> float:
    return math.log(1 + (n - df + 0.5) / (df + 0.5))


def _f64_weight(ctx, dfs, boost: float = 1.0, dlq=_DLQ, sttf: Optional[float] = None):
    """Float64 (boost·Σ idf(df) over ``dfs``, normInverse[256]): the
    float32 :meth:`_Ctx.weight` at float64. ``dlq`` (norm byte →
    length) and ``sttf`` (total length) replace the index's for a
    pseudo-field."""
    n = ctx.doc_count
    avgdl = float(ctx.sum_total_term_freq if sttf is None else sttf) / float(n)
    ni = 1.0 / (ctx.k1 * ((1.0 - ctx.b) + ctx.b * dlq / avgdl))
    return float(boost) * sum(_f64_idf(df, n) for df in dfs), ni


def _f64_weights(ctx, term_boosts: Dict[str, float], df: Optional[int] = None):
    """term → float64 weight for the indexed terms of ``term_boosts``.
    ``df`` replaces every term's doc_freq (blended statistics)."""
    return {
        t: _f64_weight(ctx, [ctx.term_stats[t][0] if df is None else df], b)
        for t, b in term_boosts.items()
        if t in ctx.term_stats
    }


def _f64_terms_plan(index: InvertedIndex, term_boosts: Dict[str, float], blend: bool = False):
    """(searcher, exhaustive plan of every block of the indexed terms,
    float64 weights). ``blend`` scores each term with the set's max
    doc_freq (BlendedTermQuery's adjustFrequencies)."""
    searcher = IndexSearcher(index)
    ctx = searcher._bind_terms(list(term_boosts))
    plan = searcher._terms_plan(ctx, term_boosts)
    df = max((d for d, _ in ctx.term_stats.values()), default=None) if blend else None
    plan.weights = _f64_weights(ctx, term_boosts, df)
    return searcher, plan


def _topk(scored: DataFrame, k: int) -> DataFrame:
    """Top k of a (doc_id, s) frame: ordered by the raw double (as the
    oracle's ORDER BY s), then rounded to 4 dp as ``score``."""
    return (
        scored.orderBy(F.col("s").desc(), F.col("doc_id").asc())
        .limit(k)
        .select("doc_id", F.round(F.col("s"), 4).alias("score"))
    )


def _plan_topk(searcher: IndexSearcher, plan, k: int) -> DataFrame:
    """:func:`_topk` of a float64 plan's live doc scores."""
    return _topk(searcher._live(searcher._frame(plan)).withColumnRenamed("score", "s"), k)


def _bm25_scored_f64(
    index: InvertedIndex,
    term_boosts: Dict[str, float],
    min_should_match: int = 0,
    must_terms: Optional[list] = None,
    must_not_terms: Optional[list] = None,
    filter_terms: Optional[list] = None,
    posts: Optional[DataFrame] = None,
) -> DataFrame:
    """All live matching docs with the RAW float64 score column ``s``
    (un-rounded, un-ordered). Shared by :func:`bm25_topk_f64` and
    :func:`search_after_f64` — paging must compare raw scores
    (`search/IndexSearcher.java:576-588` compares exact scores), so the
    4-dp display rounding only happens in the final top-k select.

    The flat boolean the searcher plans: a SHOULD clause per scored
    term, FILTER per must/filter term (this path does not score them),
    MUST_NOT per excluded term, and msm at least 1 (a doc needs a
    scored match). ``posts`` is a pre-decoded (doc_id, term, freq,
    norm) frame of the query's terms that replaces the block decode —
    the :class:`DirectPostingsCache` seam.
    """
    clauses = [BooleanClause(BoostQuery(TermQuery(t), b)) for t, b in term_boosts.items()]
    clauses += [
        BooleanClause(TermQuery(t), Occur.FILTER)
        for t in [*(must_terms or []), *(filter_terms or [])]
    ]
    clauses += [BooleanClause(TermQuery(t), Occur.MUST_NOT) for t in must_not_terms or []]
    q = BooleanQuery(tuple(clauses), max(min_should_match, 1))
    searcher = IndexSearcher(index)
    ctx = searcher._bind(q)
    plan = searcher._plan(q, ctx, k=0, mode="exhaustive")
    if plan is None:  # no scored term
        return index.spark.createDataFrame([], "doc_id long, s double")
    plan.weights = _f64_weights(ctx, {t: term_boosts.get(t, 1.0) for t in plan.weights})
    if posts is not None and plan.blocks is not None:
        plan.blocks = posts.filter(F.col("term").isin(list(plan.weights)))
    return searcher._live(searcher._frame(plan)).withColumnRenamed("score", "s")


def bm25_topk_f64(
    index: InvertedIndex,
    term_boosts: Dict[str, float],
    k: int = 10,
    min_should_match: int = 0,
    must_terms: Optional[list] = None,
    must_not_terms: Optional[list] = None,
    filter_terms: Optional[list] = None,
    posts: Optional[DataFrame] = None,
) -> DataFrame:
    """Engine-backed BM25 boolean top-k with SQL-reproducible scores.

    Returns (doc_id long, score double rounded 4dp), ordered
    score desc / doc_id asc, limited to k.
    """
    scored = _bm25_scored_f64(
        index,
        term_boosts,
        min_should_match=min_should_match,
        must_terms=must_terms,
        must_not_terms=must_not_terms,
        filter_terms=filter_terms,
        posts=posts,
    )
    return _topk(scored, k)


# --- pluggable-similarity scoring ------------------------------------------


def similarity_topk_f64(
    index: InvertedIndex,
    term_boosts: Dict[str, float],
    similarity,
    k: int = 10,
    round_score: bool = True,
) -> DataFrame:
    """Top-k disjunction scored by a pluggable :class:`Similarity`
    (`search/similarities/Similarity.java`): per-doc score is the sum
    of per-term ``similarity.score_col`` over matching terms.

    Same physical shape as the BM25 path — one decode pass, 256-row
    norm→length broadcast, per-term stats broadcast, JVM-side score
    expression, partial-agg'd groupBy, TakeOrderedAndProject top-k —
    so swapping the formula swaps zero physical strategy.
    """
    spark = index.spark
    terms = sorted(set(term_boosts))
    posts = read_postings(index, terms)
    stats = {
        r["term"]: (int(r["doc_freq"]), int(r["total_term_freq"]))
        for r in index.terms.filter(F.col("term").isin(terms)).collect()
    }
    present = [t for t in terms if t in stats]
    n, sttf = index.doc_count, index.sum_total_term_freq
    tb = spark.createDataFrame(
        [
            (t, float(term_boosts[t]), stats[t][0], stats[t][1])
            for t in present
        ]
        or [("", 0.0, 0, 0)],
        "term string, boost double, doc_freq long, ttf long",
    )
    cols = {
        "freq": F.col("freq").cast("double"),
        "dl": F.col("dl_q").cast("double"),
        "doc_freq": F.col("doc_freq").cast("double"),
        "ttf": F.col("ttf").cast("double"),
        "n_docs": F.lit(float(n)),
        "sttf": F.lit(float(sttf)),
        "boost": F.col("boost"),
    }
    scored = (
        posts.filter(F.col("term").isin(present) if present else F.lit(False))
        .join(_dlq_col(spark), "norm")
        .join(F.broadcast(tb), "term")
        .withColumn("s", similarity.score_col(cols))
        .groupBy("doc_id")
        .agg(F.sum("s").alias("s"))
    )
    scored = IndexSearcher(index)._live(scored)
    score = F.round(F.col("s"), 4) if round_score else F.col("s")
    return (
        scored.orderBy(F.col("s").desc(), F.col("doc_id").asc())
        .limit(k)
        .select("doc_id", score.alias("score"))
    )


def oracle_similarity_sql(
    term_boosts: Dict[str, float], similarity, k: int = 10, table: str = "documents"
) -> str:
    """DuckDB SQL mirroring :func:`similarity_topk_f64`: binds freq,
    dl, doc_freq, ttf, n_docs, sttf, boost into the similarity's
    ``score_sql`` expression."""
    terms_in = ", ".join(f"'{t}'" for t in term_boosts)
    boost_rows = ", ".join(f"('{t}', {b!r})" for t, b in term_boosts.items())
    expr = similarity.score_sql()
    return f"""
WITH tok AS (
  SELECT doc_id, term FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM {table}
  ) WHERE term <> ''
),
dl0 AS (SELECT doc_id, count(*) AS dl0 FROM tok GROUP BY doc_id),
stats AS (SELECT count(*) AS n_docs, CAST(sum(dl0) AS DOUBLE) AS sttf FROM dl0),
dlq AS (SELECT doc_id, CAST({_DLQ_SQL.replace("dl", "dl0")} AS DOUBLE) AS dl FROM dl0),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS freq FROM tok
  WHERE term IN ({terms_in}) GROUP BY doc_id, term
),
df AS (
  SELECT term, CAST(count(*) AS DOUBLE) AS doc_freq,
         CAST(sum(freq) AS DOUBLE) AS ttf
  FROM tf GROUP BY term
),
boosts(term, boost) AS (VALUES {boost_rows}),
scores AS (
  SELECT tf.doc_id, sum({expr}) AS s
  FROM tf
  JOIN df USING (term) JOIN boosts USING (term) JOIN dlq USING (doc_id)
  CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT doc_id, round(s, 4) AS score FROM scores
ORDER BY s DESC, doc_id ASC LIMIT {k}
"""


# --- DuckDB oracle generation ----------------------------------------------

_DLQ_SQL = """
  CASE WHEN dl < 24 THEN dl
       WHEN (dl - 24) < 8 THEN dl
       ELSE 24 + ((dl - 24) >> (length(bin(dl - 24)) - 4)) * (1 << (length(bin(dl - 24)) - 4))
  END
"""


def oracle_bm25_sql(
    term_boosts: Dict[str, float],
    k: int = 10,
    min_should_match: int = 0,
    must_terms: Optional[list] = None,
    must_not_terms: Optional[list] = None,
    filter_terms: Optional[list] = None,
    table: str = "documents",
    hide_doc_pred: Optional[str] = None,
) -> str:
    """DuckDB SQL mirroring :func:`bm25_topk_f64` on the same table.

    `hide_doc_pred` is a raw predicate over `tok` rows whose matching
    doc_ids are excluded from RESULTS but still count in stats — the
    liveDocs/soft-delete oracle shape.
    """
    terms_in = ", ".join(f"'{t}'" for t in term_boosts)
    boost_rows = ", ".join(f"('{t}', {b!r})" for t, b in term_boosts.items())
    req = list(must_terms or []) + list(filter_terms or [])
    req_clauses = "".join(
        f"\n  AND doc_id IN (SELECT doc_id FROM tok WHERE term = '{t}')" for t in req
    )
    not_clauses = "".join(
        f"\n  AND doc_id NOT IN (SELECT doc_id FROM tok WHERE term = '{t}')"
        for t in (must_not_terms or [])
    )
    if hide_doc_pred:
        not_clauses += (
            f"\n  AND doc_id NOT IN (SELECT doc_id FROM tok WHERE {hide_doc_pred})"
        )
    msm = f"\n  AND nmatch >= {min_should_match}" if min_should_match > 0 else ""
    return f"""
WITH tok AS (
  -- mirror the engine's simple analyzer: split on ' ', drop empties
  SELECT doc_id, term FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM {table}
  ) WHERE term <> ''
),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*) AS n_docs, sum(dl) AS sttf FROM dl),
dlq AS (SELECT doc_id, {_DLQ_SQL} AS dl_q FROM dl),
tf AS (
  SELECT doc_id, term, count(*) AS freq FROM tok
  WHERE term IN ({terms_in}) GROUP BY doc_id, term
),
df AS (SELECT term, count(*) AS doc_freq FROM tf GROUP BY term),
boosts(term, boost) AS (VALUES {boost_rows}),
scores AS (
  SELECT tf.doc_id,
         sum(boost * ln(1 + (n_docs - doc_freq + 0.5) / (doc_freq + 0.5))
             * freq / (freq + {K1} * (1 - {B} + {B} * dl_q / (sttf * 1.0 / n_docs)))) AS s,
         count(*) AS nmatch
  FROM tf
  JOIN df USING (term) JOIN boosts USING (term) JOIN dlq USING (doc_id)
  CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT doc_id, round(s, 4) AS score FROM scores
WHERE 1=1{msm}{req_clauses}{not_clauses}
ORDER BY s DESC, doc_id ASC LIMIT {k}
"""


# --- phrase / synonym / dismax / searchAfter parity paths -------------------
#
# DisMax and searchAfter run the searcher's plan like bm25_topk_f64.
# Phrase and synonym score per-doc freqs (phrase occurrences, summed
# synonym freqs) as a pseudo-term through the same kernel.


def phrase_bm25_f64(index: InvertedIndex, phrase: list, k: int = 10) -> DataFrame:
    """Engine phrase retrieval (positional blocks), f64 oracle scoring.

    freq = exact phrase occurrences; weight = Σ_i idf(df_i) (idf summed
    over phrase terms per `BM25Similarity.java:161-170`).
    """
    searcher = IndexSearcher(index)
    ctx = searcher._bind_terms(phrase)
    plan = searcher._phrase_plan(ctx, phrase, weigh=partial(_f64_weight, ctx))
    return _plan_topk(searcher, plan, k)


def oracle_phrase_sql(phrase: list, k: int = 10, table: str = "documents") -> str:
    m = len(phrase)
    conds = " AND ".join(f"l[i + {j}] = '{t}'" for j, t in enumerate(phrase))
    idfs = " + ".join(
        f"(SELECT ln(1 + (n_docs - doc_freq + 0.5) / (doc_freq + 0.5)) "
        f"FROM df, stats WHERE term = '{t}')"
        for t in dict.fromkeys(phrase)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l FROM {table}
),
dl AS (SELECT doc_id, len(l) AS dl FROM toks WHERE len(l) > 0),
stats AS (SELECT count(*) AS n_docs, sum(dl) AS sttf FROM dl),
dlq AS (SELECT doc_id, {_DLQ_SQL} AS dl_q FROM dl),
df AS (
  SELECT term, count(DISTINCT doc_id) AS doc_freq
  FROM (SELECT doc_id, unnest(l) AS term FROM toks) GROUP BY term
),
occ AS (
  SELECT doc_id, count(*) AS freq
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(l) - {m - 1})) AS i)
  WHERE {conds}
  GROUP BY doc_id
),
scores AS (
  SELECT occ.doc_id,
         ({idfs}) * freq
           / (freq + {K1} * (1 - {B} + {B} * dl_q / (sttf * 1.0 / n_docs))) AS s
  FROM occ JOIN dlq USING (doc_id) CROSS JOIN stats
)
SELECT doc_id, round(s, 4) AS score FROM scores
ORDER BY s DESC, doc_id ASC LIMIT {k}
"""


def synonym_bm25_f64(index: InvertedIndex, terms: list, k: int = 10) -> DataFrame:
    """SynonymQuery parity: pseudo-term df = max, freq = Σ freqs."""
    searcher = IndexSearcher(index)
    ctx = searcher._bind_terms(terms)
    return _plan_topk(searcher, _synonym_plan(index, ctx, terms, weigh=partial(_f64_weight, ctx)), k)


def oracle_synonym_sql(terms: list, k: int = 10, table: str = "documents") -> str:
    terms_in = ", ".join(f"'{t}'" for t in terms)
    return f"""
WITH tok AS (
  SELECT doc_id, term FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM {table}
  ) WHERE term <> ''
),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*) AS n_docs, sum(dl) AS sttf FROM dl),
dlq AS (SELECT doc_id, {_DLQ_SQL} AS dl_q FROM dl),
df AS (
  SELECT max(doc_freq) AS pseudo_df FROM (
    SELECT term, count(DISTINCT doc_id) AS doc_freq FROM tok
    WHERE term IN ({terms_in}) GROUP BY term
  )
),
tf AS (
  SELECT doc_id, count(*) AS freq FROM tok
  WHERE term IN ({terms_in}) GROUP BY doc_id
),
scores AS (
  SELECT tf.doc_id,
         ln(1 + (n_docs - pseudo_df + 0.5) / (pseudo_df + 0.5)) * freq
           / (freq + {K1} * (1 - {B} + {B} * dl_q / (sttf * 1.0 / n_docs))) AS s
  FROM tf JOIN dlq USING (doc_id) CROSS JOIN stats CROSS JOIN df
)
SELECT doc_id, round(s, 4) AS score FROM scores
ORDER BY s DESC, doc_id ASC LIMIT {k}
"""


def dismax_f64(
    index: InvertedIndex, term_boosts: Dict[str, float], tie: float = 0.0, k: int = 10
) -> DataFrame:
    """DisjunctionMax parity: max + tie * (sum - max) in float64."""
    searcher, plan = _f64_terms_plan(index, term_boosts)
    scored = searcher._live(_dismax(searcher._decoded(plan), tie))
    return _topk(scored.withColumnRenamed("score", "s"), k)


def oracle_dismax_sql(
    term_boosts: Dict[str, float], tie: float = 0.0, k: int = 10, table: str = "documents"
) -> str:
    terms_in = ", ".join(f"'{t}'" for t in term_boosts)
    boost_rows = ", ".join(f"('{t}', {b!r})" for t, b in term_boosts.items())
    return f"""
WITH tok AS (
  SELECT doc_id, term FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM {table}
  ) WHERE term <> ''
),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*) AS n_docs, sum(dl) AS sttf FROM dl),
dlq AS (SELECT doc_id, {_DLQ_SQL} AS dl_q FROM dl),
tf AS (
  SELECT doc_id, term, count(*) AS freq FROM tok
  WHERE term IN ({terms_in}) GROUP BY doc_id, term
),
df AS (SELECT term, count(*) AS doc_freq FROM tf GROUP BY term),
boosts(term, boost) AS (VALUES {boost_rows}),
per_term AS (
  SELECT tf.doc_id,
         boost * ln(1 + (n_docs - doc_freq + 0.5) / (doc_freq + 0.5)) * freq
           / (freq + {K1} * (1 - {B} + {B} * dl_q / (sttf * 1.0 / n_docs))) AS ts
  FROM tf JOIN df USING (term) JOIN boosts USING (term)
  JOIN dlq USING (doc_id) CROSS JOIN stats
),
scores AS (
  SELECT doc_id, max(ts) + (sum(ts) - max(ts)) * {float(tie)!r} AS s
  FROM per_term GROUP BY doc_id
)
SELECT doc_id, round(s, 4) AS score FROM scores
ORDER BY s DESC, doc_id ASC LIMIT {k}
"""


def search_after_f64(
    index: InvertedIndex, term_boosts: Dict[str, float], k: int = 10
) -> DataFrame:
    """Page 2 via searchAfter: anchor = page 1's last (score, doc_id),
    then ``WHERE s < anchor OR (s = anchor AND doc_id > anchor_doc)``
    (`search/IndexSearcher.java:576-588` semantics). With the total
    (s desc, doc_id asc) order this equals rows k..2k-1.

    The anchor and the page filter BOTH use the raw float64 ``s``
    column off one persisted frame: rounding first (the round-1 bug)
    merged distinct raw scores that display identically at 4 dp, so a
    page-1 row could re-enter page 2. Persisting pins the float64 sum
    results so the collected anchor and the filter see identical bits.
    """
    scored = _bm25_scored_f64(index, term_boosts)
    spark = scored.sparkSession
    full = (
        scored.orderBy(F.col("s").desc(), F.col("doc_id").asc()).limit(2 * k).persist()
    )
    try:
        rows = full.orderBy(F.col("s").desc(), F.col("doc_id").asc()).collect()
        if len(rows) <= k:
            page = []
        else:
            anchor_s = float(rows[k - 1]["s"])
            anchor_d = int(rows[k - 1]["doc_id"])
            # Page 2 materializes off the SAME cached frame (Spark-side
            # rounding included) so anchor and filter see identical
            # float64 bits; then the cache is released — the page is at
            # most k rows, so the local relation is trivially small.
            page = (
                full.filter(
                    (F.col("s") < anchor_s)
                    | ((F.col("s") == anchor_s) & (F.col("doc_id") > anchor_d))
                )
                .orderBy(F.col("s").desc(), F.col("doc_id").asc())
                .select("doc_id", F.round(F.col("s"), 4).alias("score"))
                .collect()
            )
    finally:
        full.unpersist()
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("score", T.DoubleType(), True),
        ]
    )
    return spark.createDataFrame(page, schema)


def oracle_search_after_sql(term_boosts: Dict[str, float], k: int = 10) -> str:
    inner = oracle_bm25_sql(term_boosts, k=2 * k).strip().rstrip()
    return f"SELECT * FROM ({inner}) OFFSET {k}"


def search_after_sorted(
    df: DataFrame,
    sort_spec,
    k: int = 10,
    anchor=None,
) -> DataFrame:
    """searchAfter over an arbitrary field Sort
    (`search/IndexSearcher.java:698` searchAfter(after, query, n,
    Sort); `TopFieldCollector` after-bottom filtering): page through a
    total order (field1, field2, ..., doc_id asc) by filtering rows
    STRICTLY after the anchor tuple in that order, then top-k.

    ``sort_spec`` = [(col, 'asc'|'desc'), ...]; doc_id asc is the
    implicit final tiebreak (Lucene's docID tie-break within equal
    sort values). ``anchor`` = the previous page's last row as a dict
    {col: value, 'doc_id': id}; None returns page 1.

    The after predicate is the lexicographic strict-after disjunction
    — pure column comparisons, pushed into the scan by Catalyst — and
    top-k is one TakeOrderedAndProject: no global sort, no OFFSET scan
    of prior pages (classic deep-paging shape: each page is an
    independent top-k over `after`-filtered rows, exactly why Lucene
    recommends searchAfter over from+size).
    Assumes non-null sort values (the reference needs an explicit
    missingValue to sort nulls; pre-coalesce columns to use one here).
    """
    spec = list(sort_spec) + [("doc_id", "asc")]
    order = [
        F.col(c).asc() if d == "asc" else F.col(c).desc() for c, d in spec
    ]
    if anchor is not None:
        after = F.lit(False)
        eq_prefix = F.lit(True)
        for c, d in spec:
            a = F.lit(anchor[c])
            strict = (F.col(c) > a) if d == "asc" else (F.col(c) < a)
            after = after | (eq_prefix & strict)
            eq_prefix = eq_prefix & (F.col(c) == a)
        df = df.filter(after)
    return df.orderBy(*order).limit(k)


# --- CombinedFieldQuery (BM25F) --------------------------------------------


def _dlq_sql_expr(col: str) -> str:
    """The SmallFloat intToByte4∘byte4ToInt quantization as SQL over `col`."""
    c = col
    return (
        f"CASE WHEN {c} < 24 THEN {c} WHEN ({c} - 24) < 8 THEN {c} "
        f"ELSE 24 + ((({c} - 24) >> (length(bin({c} - 24)) - 4)) << (length(bin({c} - 24)) - 4)) END"
    )


def combined_field_f64(
    index: InvertedIndex,
    docs: DataFrame,
    term: str,
    w_text: float = 1.0,
    w_kw: float = 2.0,
    kw_col: str = "source",
    k: int = 20,
) -> DataFrame:
    """BM25F over a pseudo-field = text (weight w_text) + a one-token
    keyword field (weight w_kw), float64 parity scoring.

    Semantics from `search/CombinedFieldQuery.java:274-316` and
    `MultiNormsLeafSimScorer.java:164-173`:
      docFreq   = max over fields' docFreq
      ttf       = Σ_f w_f · ttf_f ;  sttf = Σ_f w_f · sttf_f
      freq(doc) = Σ_f w_f · freq_f(doc)
      norm(doc) = quantize(round(Σ_f w_f · decodedLen_f(doc)))
    """
    spark = index.spark
    n = index.doc_count
    # keyword side: every doc has exactly one token in kw_col
    kw = docs.select(F.col("doc_id").cast("long").alias("doc_id"), F.col(kw_col))
    # df_kw counts only docs that are IN the index (non-empty tokenized
    # text, like the oracle's JOIN dl): an empty-text doc whose keyword
    # matches must not inflate pseudo_df
    df_kw = (
        kw.filter(F.col(kw_col) == term)
        .join(index.norms.select("doc_id"), "doc_id", "semi")
        .count()
    )
    searcher = IndexSearcher(index)
    ctx = searcher._bind_terms([term])
    df_text = ctx.term_stats.get(term, (0, 0))[0]
    pseudo_df = max(df_text, df_kw)
    if pseudo_df == 0:
        return spark.createDataFrame([], "doc_id long, score double")
    # The combined length depends only on the text norm byte (the
    # keyword field is one token), so its quantization is a 256-entry
    # table. Math.round semantics (floor(x+0.5), half UP) as in
    # MultiNormsLeafSimScorer's norm combination — np.rint would round
    # half-to-even and diverge for fractional weights.
    comb = np.floor(w_text * _DLQ + w_kw + 0.5).astype(np.int64)
    weight = _f64_weight(
        ctx,
        [pseudo_df],
        dlq=byte4_to_int(int_to_byte4(comb)),
        sttf=w_text * index.sum_total_term_freq + w_kw * n,
    )

    # per-doc combined freq, keyed by the doc's text norm byte
    text_posts = (
        read_postings(index, [term]).select("doc_id", "freq")
        if df_text
        else spark.createDataFrame([], "doc_id long, freq int")
    )
    freqs = (
        index.norms.select("doc_id", "norm")
        .join(kw, "doc_id")
        .join(text_posts, "doc_id", "left")
        .select(
            "doc_id",
            "norm",
            (
                F.coalesce(F.col("freq"), F.lit(0)) * F.lit(float(w_text))
                + F.when(F.col(kw_col) == term, F.lit(float(w_kw))).otherwise(0.0)
            ).alias("freq"),
        )
        .filter(F.col("freq") > 0)
    )
    return _plan_topk(searcher, _freq_plan(freqs, term, weight), k)


def oracle_combined_field_sql(
    term: str,
    w_text: float = 1.0,
    w_kw: float = 2.0,
    kw_col: str = "source",
    k: int = 20,
    table: str = "documents",
) -> str:
    dlq_text = _dlq_sql_expr("dl.dl")
    comb = f"CAST(round({w_text!r} * ({dlq_text}) + {w_kw!r}) AS BIGINT)"
    dlq_comb = _dlq_sql_expr(f"({comb})")
    return f"""
WITH tok AS (
  SELECT doc_id, term FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM {table}
  ) WHERE term <> ''
),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*) AS n_docs, sum(dl) AS sttf FROM dl),
dfs AS (
  SELECT
    (SELECT count(DISTINCT doc_id) FROM tok WHERE term = '{term}') AS df_text,
    (SELECT count(*) FROM {table} d JOIN dl ON d.doc_id = dl.doc_id
      WHERE d.{kw_col} = '{term}') AS df_kw
),
base AS (
  SELECT dl.doc_id,
         {dlq_comb} AS dl_q,
         {w_text!r} * coalesce(tf.freq, 0)
           + CASE WHEN d.{kw_col} = '{term}' THEN {w_kw!r} ELSE 0 END AS cfreq
  FROM dl
  JOIN {table} d ON d.doc_id = dl.doc_id
  LEFT JOIN (
    SELECT doc_id, count(*) AS freq FROM tok WHERE term = '{term}' GROUP BY doc_id
  ) tf ON tf.doc_id = dl.doc_id
),
scores AS (
  SELECT doc_id,
         ln(1 + (n_docs - greatest(df_text, df_kw) + 0.5) / (greatest(df_text, df_kw) + 0.5))
           * cfreq / (cfreq + {K1} * (1 - {B} + {B} * dl_q
             / (({w_text!r} * sttf + {w_kw!r} * n_docs) * 1.0 / n_docs))) AS s
  FROM base CROSS JOIN stats CROSS JOIN dfs
  WHERE cfreq > 0
)
SELECT doc_id, round(s, 4) AS score FROM scores
ORDER BY s DESC, doc_id ASC LIMIT {k}
"""


# --- rescorer / feature-field oracles ---------------------------------------


def _bm25_scored_ctes(term_boosts: Dict[str, float], table: str = "documents") -> str:
    """Shared CTE chain ending in ``first(doc_id, s)`` — the raw
    first-pass disjunction scores :func:`oracle_bm25_sql` wraps."""
    terms_in = ", ".join(f"'{t}'" for t in term_boosts)
    boost_rows = ", ".join(f"('{t}', {b!r})" for t, b in term_boosts.items())
    return f"""tok AS (
  SELECT doc_id, term FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM {table}
  ) WHERE term <> ''
),
toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l FROM {table}
),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*) AS n_docs, sum(dl) AS sttf FROM dl),
dlq AS (SELECT doc_id, {_DLQ_SQL} AS dl_q FROM dl),
tf AS (
  SELECT doc_id, term, count(*) AS freq FROM tok
  WHERE term IN ({terms_in}) GROUP BY doc_id, term
),
df AS (SELECT term, count(*) AS doc_freq FROM tf GROUP BY term),
boosts(term, boost) AS (VALUES {boost_rows}),
first AS (
  SELECT tf.doc_id,
         sum(boost * ln(1 + (n_docs - doc_freq + 0.5) / (doc_freq + 0.5))
             * freq / (freq + {K1} * (1 - {B} + {B} * dl_q / (sttf * 1.0 / n_docs)))) AS s
  FROM tf
  JOIN df USING (term) JOIN boosts USING (term) JOIN dlq USING (doc_id)
  CROSS JOIN stats
  GROUP BY tf.doc_id
)"""


def oracle_rescore_sql(
    first_pass: Dict[str, float],
    phrase: list,
    window: int = 50,
    weight: float = 2.0,
    k: int = 10,
    table: str = "documents",
) -> str:
    """DuckDB SQL mirroring :func:`lucene_spark.search.rescore.rescore_phrase_topk`."""
    m = len(phrase)
    conds = " AND ".join(f"l[i + {j}] = '{t}'" for j, t in enumerate(phrase))
    idfs = " + ".join(
        f"(SELECT ln(1 + (n_docs - doc_freq + 0.5) / (doc_freq + 0.5)) "
        f"FROM pdf, stats WHERE term = '{t}')"
        for t in dict.fromkeys(phrase)
    )
    return f"""
WITH {_bm25_scored_ctes(first_pass, table)},
win AS (SELECT doc_id, s FROM first ORDER BY s DESC, doc_id ASC LIMIT {window}),
pdf AS (
  SELECT term, count(DISTINCT doc_id) AS doc_freq
  FROM (SELECT doc_id, unnest(l) AS term FROM toks) GROUP BY term
),
occ AS (
  SELECT doc_id, count(*) AS freq
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(l) - {m - 1})) AS i)
  WHERE {conds}
  GROUP BY doc_id
),
ps AS (
  SELECT occ.doc_id,
         ({idfs}) * freq
           / (freq + {K1} * (1 - {B} + {B} * dl_q / (sttf * 1.0 / n_docs))) AS ps
  FROM occ JOIN dlq USING (doc_id) CROSS JOIN stats
)
SELECT win.doc_id,
       round(win.s + {weight!r} * coalesce(ps.ps, 0), 4) AS score
FROM win LEFT JOIN ps ON win.doc_id = ps.doc_id
ORDER BY win.s + {weight!r} * coalesce(ps.ps, 0) DESC, win.doc_id ASC LIMIT {k}
"""


def oracle_feature_sql(
    term_boosts: Dict[str, float],
    feature_sql: str,
    weight: float = 1.0,
    k: int = 10,
    table: str = "documents",
) -> str:
    """DuckDB SQL mirroring :func:`lucene_spark.search.rescore.feature_bm25_topk`;
    `feature_sql` is the f(v) expression over `{table}` columns, e.g.
    ``n_chars / (n_chars + 500.0)``."""
    return f"""
WITH {_bm25_scored_ctes(term_boosts, table)}
SELECT first.doc_id,
       round(first.s + {weight!r} * ({feature_sql}), 4) AS score
FROM first JOIN {table} d ON first.doc_id = d.doc_id
ORDER BY first.s + {weight!r} * ({feature_sql}) DESC, first.doc_id ASC LIMIT {k}
"""


def oracle_collapse_sql(
    term_boosts: Dict[str, float],
    group_col: str,
    k: int = 10,
    table: str = "documents",
) -> str:
    """DuckDB SQL mirroring :func:`lucene_spark.search.collapse.collapse_topk`
    (output column ``grp`` to dodge SQL keyword quoting)."""
    return f"""
WITH {_bm25_scored_ctes(term_boosts, table)},
keyed AS (
  SELECT first.doc_id, s, d.{group_col} AS grp
  FROM first JOIN {table} d ON first.doc_id = d.doc_id
),
best AS (
  SELECT grp, doc_id, s,
         row_number() OVER (PARTITION BY grp ORDER BY s DESC, doc_id ASC) AS rn
  FROM keyed
)
SELECT grp, doc_id, round(s, 4) AS score FROM best WHERE rn = 1
ORDER BY s DESC, doc_id ASC LIMIT {k}
"""


def blended_fuzzy_f64(
    index: InvertedIndex,
    term: str,
    max_edits: int = 1,
    k: int = 10,
    max_expansions: int = 50,
) -> DataFrame:
    """FuzzyQuery with its real scoring default
    (`search/TopTermsRewrite.java` + `search/BlendedTermQuery.java`):
    expand to the top `max_expansions` dictionary terms within
    Damerau-Levenshtein `max_edits` (best docFreq first), then score
    each expanded term as a TermQuery whose docFreq is BLENDED to the
    maximum across the set, summed per doc (SHOULD semantics). The
    constant-score gates cover the match set; this covers ranking.
    """
    from lucene_spark.search.blended import blended_term_topk
    from lucene_spark.search.query import FuzzyQuery

    exp = (
        index.terms.filter(FuzzyQuery(term, max_edits).term_filter())
        .select("term", "doc_freq")
        .orderBy(F.col("doc_freq").desc(), F.col("term").asc())
        .limit(max_expansions)
        .collect()
    )
    return blended_term_topk(index, {r["term"]: 1.0 for r in exp}, k=k, rewrite="boolean")


def oracle_blended_fuzzy_sql(
    term: str,
    max_edits: int = 1,
    k: int = 10,
    max_expansions: int = 50,
    table: str = "documents",
) -> str:
    """DuckDB SQL mirroring :func:`blended_fuzzy_f64` (same length
    window + Damerau expansion + blended-max docFreq)."""
    L = len(term)
    return f"""
WITH tok AS (
  SELECT doc_id, term FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM {table}
  ) WHERE term <> ''
),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*) AS n_docs, sum(dl) AS sttf FROM dl),
dlq AS (SELECT doc_id, {_DLQ_SQL} AS dl_q FROM dl),
dict AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term),
e AS (
  SELECT term, df FROM dict
  WHERE length(term) BETWEEN {L - max_edits} AND {L + max_edits}
    AND damerau_levenshtein(term, '{term}') <= {max_edits}
  ORDER BY df DESC, term ASC LIMIT {max_expansions}
),
b AS (SELECT max(df) AS bdf FROM e),
tf AS (
  SELECT doc_id, term, count(*) AS freq FROM tok
  WHERE term IN (SELECT term FROM e) GROUP BY doc_id, term
),
scores AS (
  SELECT tf.doc_id,
         sum(ln(1 + (n_docs - bdf + 0.5) / (bdf + 0.5))
             * freq / (freq + {K1} * (1 - {B} + {B} * dl_q / (sttf * 1.0 / n_docs)))) AS s
  FROM tf JOIN dlq USING (doc_id) CROSS JOIN stats CROSS JOIN b
  GROUP BY tf.doc_id
)
SELECT doc_id, round(s, 4) AS score FROM scores
ORDER BY s DESC, doc_id ASC LIMIT {k}
"""
