"""IndexSearcher: BM25 top-k over posting blocks, exhaustive or WAND.

The Spark re-expression of Lucene's read path
(`lucene/core/src/java/org/apache/lucene/search/IndexSearcher.java:612-878`):

1. **rewrite** the query tree to fixpoint (:mod:`lucene_spark.search.query`);
2. **weight**: resolve collection stats + per-term stats once per query
   (driver-side lookups on the tiny terms table —
   `search/TermQuery.java:61-67`), fix float32 idf/avgdl/weight and the
   256-entry norm-inverse cache (`BM25Similarity.java:179-184`);
3. **execute**: decode+score matching posting blocks with one
   Arrow-batch kernel (``_decode_score``: FOR/PFor decode, cumsum,
   table lookup, float32 BM25), combine clauses per doc;
4. **collect**: top k by (score desc, doc_id asc) — Spark's
   ``TakeOrderedAndProject`` is the distributed analog of
   TopScoreDocCollector's tie-break-by-lower-docID heap
   (`search/HitQueue.java:76-82`).

Two routes decide *where* step 3 runs, never *which* blocks it reads:

- **local** — a term-shaped query (a boosted term, a flat term boolean
  incl. rewritten prefixes, a WAND disjunction) on an index without
  deletes whose Σ doc_freq is below ``_LOCAL_MAX_POSTINGS`` (1M; the
  sum comes from the bound stats, so choosing costs no job). One
  JVM-only job (``toArrow``, no Python workers) fetches the surviving
  blocks; decode, score, combine and top-k run in numpy on the driver,
  and the hits return as a local relation. Lucene scores such a query
  in-process over a few hundred blocks; a ``mapInPandas`` job would
  start Python tasks on every cached partition instead.
- **distributed** — everything else (deletes, phrase, span, DisMax,
  non-flat booleans, queries over the cap): the same kernel in
  ``mapInPandas``. A non-flat boolean keys each clause's rows by clause
  and combines them in one conditional aggregation (:meth:`_flat_agg`).

Scoring follows Lucene's split of a freq producer from one
``BM25Similarity`` SimScorer. Term postings are one producer; phrase
matches, a synonym group's summed freq and a combined field's weighted
freq are others, whose (doc_id, freq, norm) rows score as one
pseudo-term (:func:`_freq_plan`). Every producer's rows go through the
same kernel with (weight, normInverse[256]) weights: float32 for
serving, float64 for the oracle-parity paths
(:mod:`lucene_spark.search.parity`).

Block selection (exhaustive, the WAND ``keep`` filter, the conjunction
prune's semi-join) happens before the route is taken, in a ``_Plan``
both routes evaluate with the same float32 arithmetic and the same
combine semantics, so the routes return identical top-k bit for bit
(``tests/test_search_routes.py``).

Two physical strategies, selected like ``BooleanScorerSupplier``
(`search/BooleanScorerSupplier.java:197-548`):

- ``exhaustive`` — score every posting of every clause
  (`search/BooleanScorer.java` analog); the correctness oracle.
- ``wand`` — block-max WAND (`search/WANDScorer.java:31-121`,
  `search/ImpactsDISI.java:67-84`): phase A scores each term's
  highest-impact blocks to bootstrap θ (a lower bound on the k-th best
  score); phase B prunes every block whose score upper bound plus the
  sum of the other terms' global maxima is below θ, then scores only
  survivors. Result-identical to exhaustive (see proof sketch in
  ``_wand_plan``), differential-tested in
  ``tests/test_search_differential.py``.

Boosts are pushed down into term weights (``weight = boost * idf`` in
float32) exactly as ``createWeight(q, mode, boost)`` does — NOT applied
as a post-multiply, which would round differently.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from functools import reduce
from typing import Dict, Iterator, List, Optional, Tuple

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lucene_spark.functions.bm25 import BM25, bm25_avgdl, bm25_cache, bm25_idf
from lucene_spark.index.builder import InvertedIndex
from lucene_spark.index.postings import decode_blocks, decode_frame
from lucene_spark.search.query import (
    BooleanQuery,
    BoostQuery,
    ConstantScoreQuery,
    DisjunctionMaxQuery,
    MatchAllDocsQuery,
    MatchNoDocsQuery,
    MultiTermFilterDocsQuery,
    Occur,
    PhraseQuery,
    Query,
    SpanNearQuery,
    SpanNotQuery,
    TermQuery,
    rewrite,
)

__all__ = ["IndexSearcher"]

_SCORED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("term", T.StringType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)

_DOCS_SCHEMA = T.StructType([T.StructField("doc_id", T.LongType(), False)])

_TOPK_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.FloatType(), False),
    ]
)


_BLOCK_COLS = ("term", "docs_packed", "freqs_packed", "norms_raw")


def _term_codes(terms, names) -> np.ndarray:
    """Index into ``names`` of each term."""
    code_of = {t: i for i, t in enumerate(names)}
    return np.fromiter((code_of[t] for t in terms), np.intp, len(terms))


def _score_postings(term_of, freq, norm, weights) -> np.ndarray:
    """BM25 score of decoded postings: ``w - w / (1 + freq * cache[norm])``
    with per-posting weight and normInverse gathers.

    The arithmetic dtype is the weights' dtype: float32 weights run
    Lucene's float32 ops (the served scores), float64 weights the same
    lines in float64 (the oracle-matching scores).
    """
    names = list(weights)
    ni = np.stack([weights[t][1] for t in names])[term_of, norm]
    dt = ni.dtype.type
    w = np.array([weights[t][0] for t in names], dtype=ni.dtype)[term_of]
    return w - w / (dt(1.0) + freq.astype(ni.dtype) * ni)


def _decode_score(batch, weights):
    """Decode + score one batch of posting blocks (``batch[c]`` for c
    in ``_BLOCK_COLS``).

    The one scoring kernel of both routes: the shared posting-block
    decode, then :func:`_score_postings` once over the batch — the same
    ops as scoring each block alone.

    weights: term → (weight, normInverse[256]), float32 or float64.
    Returns (doc_id int64, index into ``list(weights)`` per posting,
    score).
    """
    if len(batch["term"]) == 0:
        return np.empty(0, np.int64), np.empty(0, np.intp), np.empty(0, np.float32)
    p = decode_blocks(batch)
    term_of = np.repeat(_term_codes(batch["term"], list(weights)), p.lens)
    return p.doc_id, term_of, _score_postings(term_of, p.freq, p.norm, weights)


def _decode_score_udf(weights: Dict[str, Tuple[float, np.ndarray]]):
    """mapInPandas kernel → (doc_id, term, score), one output frame per
    Arrow batch. Block rows are decoded and scored
    (:func:`_decode_score`); rows already decoded to (doc_id, term,
    freq, norm) are only scored."""
    names = np.array(list(weights), dtype=object)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if "docs_packed" in pdf:
                docs, term_of, score = _decode_score(pdf, weights)
            else:
                docs = pdf["doc_id"].values
                term_of = _term_codes(pdf["term"], names)
                score = _score_postings(term_of, pdf["freq"].values, pdf["norm"].values, weights)
            yield pd.DataFrame(
                {
                    "doc_id": docs,
                    "term": names[term_of],
                    "score": score.astype(np.float64),
                }
            )

    return fn


def _dismax(scored: DataFrame, tie: float) -> DataFrame:
    """Per doc, ``max + tie * (sum - max)`` of its (doc_id, score) rows
    (`search/DisjunctionMaxScorer.java:60-72`)."""
    agg = scored.groupBy("doc_id").agg(F.max("score").alias("_mx"), F.sum("score").alias("_sm"))
    return agg.select(
        "doc_id",
        (F.col("_mx") + (F.col("_sm") - F.col("_mx")) * F.lit(float(tie))).alias("score"),
    )


def _sum_by_doc(docs: np.ndarray, score: np.ndarray):
    """Per-doc float64 sum of posting scores → (doc_ids, sums, index of
    each posting's doc in doc_ids)."""
    uniq, inv = np.unique(docs, return_inverse=True)
    total = np.bincount(inv, weights=score.astype(np.float64), minlength=uniq.size)
    return uniq, total, inv


def _combine(plan: "_Plan", docs: np.ndarray, term_of: np.ndarray, score: np.ndarray):
    """Driver-side combine of a plan's scored postings → (doc_ids,
    float64 scores): the numpy restatement of
    :meth:`IndexSearcher._frame`'s aggregation, filter for filter."""
    if plan.groups is None:
        if len(plan.weights) == 1 and plan.theta is None:
            return docs, score.astype(np.float64)  # one posting per doc
        uniq, total, _ = _sum_by_doc(docs, score)
        if plan.theta is None:
            return uniq, total
        keep = total >= plan.theta
        return uniq[keep], total[keep]
    names = list(plan.weights)
    member = lambda ts: np.isin(term_of, [i for i, t in enumerate(names) if t in ts])
    uniq, total, inv = _sum_by_doc(docs, np.where(member(plan.scoring), score, np.float32(0)))

    def present(ts) -> np.ndarray:
        out = np.zeros(uniq.size, dtype=bool)
        out[inv[member(ts)]] = True
        return out

    keep = np.ones(uniq.size, dtype=bool)
    n_should = np.zeros(uniq.size, dtype=np.int64)
    for o, g in plan.groups:
        if o == Occur.MUST_NOT:
            keep &= ~present(g)
        elif o in (Occur.MUST, Occur.FILTER):
            keep &= present(g)
        elif o == Occur.SHOULD:
            n_should += present(g)
    if plan.need > 0 and any(o == Occur.SHOULD for o, _ in plan.groups):
        keep &= n_should >= plan.need
    return uniq[keep], total[keep]


def _block_keys(rows):
    """Filter matching exactly the blocks of `rows` by (term, first_doc)."""
    cond = F.lit(False)
    for r in rows:
        cond = cond | ((F.col("term") == r["term"]) & (F.col("first_doc") == r["first_doc"]))
    return cond


@dataclass
class _Ctx:
    """Per-query bound stats (the Weight tree analog)."""

    doc_count: int
    sum_total_term_freq: int
    term_stats: Dict[str, Tuple[int, int]]  # term -> (doc_freq, total_term_freq)
    k1: float
    b: float

    def scorer(self, term: str, boost: float) -> Optional[BM25]:
        st = self.term_stats.get(term)
        if st is None:
            return None
        return BM25(
            doc_freq=st[0],
            doc_count=self.doc_count,
            sum_total_term_freq=self.sum_total_term_freq,
            boost=boost,
            k1=self.k1,
            b=self.b,
        )

    def weight(self, dfs, boost: float = 1.0) -> Tuple[np.float32, np.ndarray]:
        """Float32 (boost·idf, normInverse[256]) of a term or pseudo-term
        whose idf is Σ idf(df) over ``dfs``, accumulated in double and
        cast to float (`BM25Similarity.java:161-170`)."""
        idf = np.float32(sum(float(bm25_idf(df, self.doc_count)) for df in dfs))
        avgdl = bm25_avgdl(self.sum_total_term_freq, self.doc_count)
        return np.float32(boost) * idf, bm25_cache(avgdl, self.k1, self.b)


@dataclass
class _Plan:
    """A query after block selection: the rows the kernel reads, the
    weights they score with, and how scored rows combine into doc
    scores. Both routes evaluate exactly this.

    ``blocks`` holds encoded posting blocks, or rows a freq producer
    already decoded to (doc_id, term, freq, norm), where ``term`` may
    key a pseudo-term (:func:`_freq_plan`).

    ``groups`` is None for a plain per-doc sum (a term, a WAND
    disjunction, a flat SHOULD boolean needing one match); otherwise it
    holds the [(occur, terms)] presence groups, ``scoring`` the terms
    summed into the score, and ``need`` the SHOULD groups a doc must
    match. ``theta`` keeps docs whose sum is >= θ (WAND).
    """

    blocks: Optional[DataFrame]  # None: nothing can match
    weights: Dict[str, Tuple[np.float32, np.ndarray]]
    groups: Optional[List[Tuple[Occur, frozenset]]] = None
    scoring: frozenset = frozenset()
    need: int = 0
    theta: Optional[float] = None


def _freq_plan(freqs: DataFrame, key: str, weight) -> _Plan:
    """A freq producer's (doc_id, freq, norm) rows, one per doc, scored
    as the pseudo-term ``key`` with ``weight`` = (w, normInverse[256])."""
    return _Plan(freqs.select("doc_id", F.lit(key).alias("term"), "freq", "norm"), {key: weight})


def _need(groups, msm: int) -> int:
    """SHOULD groups a doc must match: msm when a MUST/FILTER group
    exists, else at least one when any SHOULD group does."""
    if any(o in (Occur.MUST, Occur.FILTER) for o, _ in groups):
        return msm
    return max(msm, 1 if any(o == Occur.SHOULD for o, _ in groups) else 0)


class IndexSearcher:
    def __init__(self, index: InvertedIndex, k1: float = 1.2, b: float = 0.75):
        self.index = index
        self.k1 = k1
        self.b = b
        # per-searcher term-stats memo (TermStates cache analog,
        # `index/TermStates.java`): repeated queries skip the lookup job
        self._stats_cache: Dict[str, Optional[Tuple[int, int]]] = {}
        # per-term impact heads (the in-RAM top-impact block payloads +
        # f(x)=x/(1+x) spread, where x = max freq·normInverse of a
        # block). ub = weight · f(x), so everything here is
        # boost-independent and reusable across queries — the analog of
        # a reader holding impact metadata hot. Keyed by term; holds the
        # top _IMPACT_HEADS blocks (covers k ≤ 128·(_IMPACT_HEADS-1)).
        self._impact_cache: Dict[str, dict] = {}
        # prune telemetry of the most recent _wand_plan call
        # (postings/sec-style emitted metric; bench asserts pruned > 0
        # on clustered corpora)
        self.last_wand_stats: Optional[dict] = None
        self._max_impact_col = None

    _IMPACT_HEADS = 4
    # lead-driven conjunction pruning guards: the lead group's decoded
    # postings are collected + broadcast (bounded by its doc_freq), so
    # cap it, and require the prune to promise a real decode reduction
    # (rest-of-query df ≫ lead df) before paying the lead pre-decode.
    _PRUNE_MAX_LEAD_DOCS = 1_000_000
    _PRUNE_MIN_RATIO = 4.0
    # route cap: a term-shaped query whose Σ doc_freq is below this
    # decodes its surviving blocks on the driver (at most tens of MB of
    # decoded arrays); larger ones keep the distributed decode.
    _LOCAL_MAX_POSTINGS = 1_000_000

    # ------------------------------------------------------------------
    def _live(self, df: DataFrame) -> DataFrame:
        """Drop tombstoned docs (liveDocs check, `index/PendingDeletes`).

        No-op when the index has no deletes, so the common path adds
        zero plan nodes. Scores of surviving docs are NOT affected:
        stats still count deleted docs until reclaim, as in Lucene.
        """
        hidden = self.index.hidden_docs
        if hidden is None:
            return df
        return df.join(hidden, "doc_id", "left_anti")

    def search(self, query: Query, k: int = 10, mode: str = "auto") -> DataFrame:
        """Top-k (doc_id, score) ordered by score desc, doc_id asc.

        ``mode``: "auto" (cost-based), "exhaustive" or "wand"; anything
        else raises ValueError."""
        if mode not in ("auto", "exhaustive", "wand"):
            raise ValueError(f"unknown search mode {mode!r}")
        q = rewrite(query, self.index.terms)
        ctx = self._bind(q)
        if mode == "auto":
            # cost-based physical choice (BooleanScorerSupplier.java:
            # 197-221): block-max pruning pays when the posting lists
            # are long; short lists are cheaper scored exhaustively
            # (phase-A/θ bootstrap overhead dominates otherwise).
            total_df = sum(df for df, _ in ctx.term_stats.values())
            mode = (
                "wand"
                if self._wandable(q) and total_df > 100_000
                else "exhaustive"
            )
        plan = self._plan(q, ctx, k, mode)
        if plan is not None and self._local_route(ctx):
            return self._local_topk(plan, k)
        return self._topk(self._frame(plan) if plan is not None else self._eval(q, ctx, 1.0), k)

    def _topk(self, result: DataFrame, k: int) -> DataFrame:
        """Live top k of a (doc_id, score double) frame, scores cast to
        float, ordered score desc, doc_id asc."""
        return (
            self._live(result)
            .select("doc_id", F.col("score").cast("float").alias("score"))
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(k)
        )

    # -- routes -------------------------------------------------------------
    def _plan(self, q: Query, ctx: _Ctx, k: int, mode: str) -> Optional[_Plan]:
        """Block selection of a term-shaped query (a boosted term, a flat
        term boolean, a WAND disjunction); None for every other shape,
        which evaluates through :meth:`_eval`."""
        if mode == "wand" and self._wandable(q):
            return self._wand_plan(q, ctx, k)
        boost = 1.0
        while isinstance(q, BoostQuery):
            boost *= q.boost
            q = q.query
        if isinstance(q, TermQuery):
            return self._terms_plan(ctx, {q.term: boost})
        if isinstance(q, BooleanQuery):
            flat = self._flat_term_clauses(q)
            if flat is not None and any(
                o in (Occur.SHOULD, Occur.MUST) for o, _ in flat
            ):
                return self._flat_plan(flat, q, ctx, boost)
        return None

    def _local_route(self, ctx: _Ctx) -> bool:
        """Decode on the driver when nothing is tombstoned and the
        query's Σ doc_freq (from the bound stats: no job) is under the
        cap. Only *where* the surviving blocks decode depends on this."""
        return (
            self.index.hidden_docs is None
            and sum(df for df, _ in ctx.term_stats.values())
            < self._LOCAL_MAX_POSTINGS
        )

    def _local_topk(self, plan: _Plan, k: int) -> DataFrame:
        """Local route: one JVM-only job fetches the surviving blocks as
        Arrow; decode, score, combine and top-k run on the driver. The
        hits come back as a local relation, so collecting them starts
        no further job."""
        docs = np.empty(0, np.int64)
        total = np.empty(0, np.float64)
        if plan.blocks is not None:
            tbl = plan.blocks.select(*_BLOCK_COLS).toArrow()
            docs, total = _combine(
                plan,
                *_decode_score(
                    {c: tbl.column(c).to_pylist() for c in _BLOCK_COLS}, plan.weights
                ),
            )
        score = total.astype(np.float32)
        top = np.lexsort((docs, -score))[:k]
        return self.index.spark.createDataFrame(
            pa.table({"doc_id": docs[top], "score": score[top]}), _TOPK_SCHEMA
        )

    def _frame(self, plan: _Plan) -> DataFrame:
        """Distributed route: the plan as a (doc_id, score double) frame."""
        if plan.blocks is None:
            return self.index.spark.createDataFrame([], "doc_id long, score double")
        scored = self._decoded(plan)
        if plan.groups is not None:
            return self._flat_agg(scored, plan.groups, plan.scoring, plan.need)
        if len(plan.weights) == 1 and plan.theta is None:
            return scored.select("doc_id", "score")  # one posting per doc
        agg = scored.groupBy("doc_id").agg(F.sum("score").alias("score"))
        if plan.theta is None:
            return agg
        return agg.filter(F.col("score") >= F.lit(plan.theta))

    def _terms_plan(
        self,
        ctx: _Ctx,
        term_boosts: Dict[str, float],
        blocks: Optional[DataFrame] = None,
    ) -> _Plan:
        """Score every block of the given (indexed) terms, or `blocks`
        when a prune already restricted them to those terms."""
        weights = {
            t: ctx.weight([ctx.term_stats[t][0]], b)
            for t, b in term_boosts.items()
            if t in ctx.term_stats
        }
        if not weights:
            return _Plan(None, {})
        if blocks is None:
            blocks = self._term_blocks(list(weights))
        return _Plan(blocks, weights)

    def count(self, query: Query) -> int:
        """Number of live matching documents (`IndexSearcher.count`).

        Constant-time shortcuts mirror `IndexSearcher.java:740-766`:
        MatchAllDocsQuery without deletes → ``numDocs``; a single term
        without deletes → its docFreq straight from the term dictionary
        (zero posting decode); everything else counts the match set.
        """
        q = rewrite(query, self.index.terms)
        while isinstance(q, (BoostQuery, ConstantScoreQuery)):
            q = q.query
        ctx = self._bind(q)
        if self.index.hidden_docs is None:
            if isinstance(q, MatchAllDocsQuery):
                return self.index.doc_count
            if isinstance(q, TermQuery):
                st = ctx.term_stats.get(q.term)
                return int(st[0]) if st else 0
        return self._live(self._matching_docs(q, ctx)).distinct().count()

    def explain(self, query: Query, doc_id: int) -> dict:
        """Score breakdown of one document (`IndexSearcher.explain` /
        `BM25Similarity.explain`), as a nested Explanation dict
        (match/value/description/details), float32-identical to
        ``search()``'s score for term and flat-boolean queries.

        Like the reference, this seeks the doc's postings directly
        (driver-side decode of the few blocks whose docID range covers
        `doc_id`) — no distributed job.
        """
        q = rewrite(query, self.index.terms)
        ctx = self._bind(q)
        g = None
        if isinstance(q, BooleanQuery):
            flat = self._flat_term_clauses(q)
            if flat is not None:
                g = {
                    t: b
                    for occur, grp in flat
                    if occur in (Occur.SHOULD, Occur.MUST)
                    for t, b in grp.items()
                }
        else:
            g = self._term_group(q, 1.0)
        if g is None:
            raise NotImplementedError(
                "explain supports term and flat term-boolean queries"
            )
        hidden = self.index.hidden_docs
        if (
            hidden is not None
            and hidden.filter(F.col("doc_id") == int(doc_id)).limit(1).count() > 0
        ):
            return {
                "match": False,
                "value": 0.0,
                "description": f"doc {doc_id} is deleted",
                "details": [],
            }
        details = []
        total = 0.0
        for term in sorted(g):
            hit = self._doc_freq_norm(term, int(doc_id))
            if hit is None:
                continue
            freq, norm = hit
            sc = ctx.scorer(term, g[term])
            val = float(sc.score([freq], [norm])[0])
            total += val
            tf_val = val / float(sc.weight) if float(sc.weight) else 0.0
            df_, _ = ctx.term_stats[term]
            details.append(
                {
                    "match": True,
                    "value": val,
                    "description": f"weight({term} in {doc_id}) [BM25Similarity]",
                    "details": [
                        {
                            "match": True,
                            "value": float(sc.boost),
                            "description": "boost",
                            "details": [],
                        },
                        {
                            "match": True,
                            "value": float(sc.idf),
                            "description": (
                                "idf, computed as log(1 + (N - n + 0.5) / "
                                f"(n + 0.5)) with n={df_}, N={self.index.doc_count}"
                            ),
                            "details": [],
                        },
                        {
                            "match": True,
                            "value": tf_val,
                            "description": (
                                "tf, computed as freq / (freq + k1 * (1 - b "
                                f"+ b * dl / avgdl)) with freq={freq}, "
                                f"norm_byte={norm}, avgdl={float(sc.avgdl)!r}"
                            ),
                            "details": [],
                        },
                    ],
                }
            )
        return {
            "match": bool(details),
            # float32 of the float64 clause sum — exactly search()'s
            # groupBy-sum-then-cast rounding
            "value": float(np.float32(total)),
            "description": "sum of:",
            "details": details,
        }

    def search_with_collector(self, query: Query, collector):
        """Custom collector surface (`search/Collector.java` /
        `IndexSearcher.search(Query, CollectorManager)`).

        `collector` is any callable ``DataFrame -> result``; it
        receives the full live scored match frame (doc_id, score
        double) — the stream a LeafCollector would see doc-by-doc —
        and reduces it however it likes (histogram, count, custom
        top-k, side-output). Scoring is exhaustive: pruned strategies
        skip exactly the docs a non-top-k collector needs, the same
        reason Lucene disables WAND once a collector demands
        ``ScoreMode.COMPLETE``.
        """
        q = rewrite(query, self.index.terms)
        ctx = self._bind(q)
        scored = self._eval(q, ctx, boost=1.0)
        return collector(self._live(scored))

    def _doc_freq_norm(self, term: str, doc_id: int) -> Optional[Tuple[int, int]]:
        """(freq, norm_byte) of `doc_id` in `term`'s postings, from the
        block(s) whose [first_doc, max_doc] covers it (skip-list seek)."""
        cols = ("docs_packed", "freqs_packed", "norms_raw")
        rows = (
            self.index.blocks.filter(
                (F.col("term") == term)
                & (F.col("first_doc") <= doc_id)
                & (F.col("max_doc") >= doc_id)
            )
            .select(*cols)
            .collect()
        )
        p = decode_blocks({c: [r[c] for r in rows] for c in cols})
        hit = np.flatnonzero(p.doc_id == doc_id)
        if hit.size:
            return int(p.freq[hit[0]]), int(p.norm[hit[0]])
        return None

    # -- weight resolution ---------------------------------------------
    def _collect_terms(self, q: Query) -> List[str]:
        if isinstance(q, TermQuery):
            return [q.term]
        if isinstance(q, PhraseQuery):
            return list(q.terms)
        if isinstance(q, (BoostQuery, ConstantScoreQuery)):
            return self._collect_terms(q.query)
        if isinstance(q, DisjunctionMaxQuery):
            out: List[str] = []
            for sub in q.queries:
                out.extend(self._collect_terms(sub))
            return out
        if isinstance(q, BooleanQuery):
            out: List[str] = []
            for c in q.clauses:
                out.extend(self._collect_terms(c.query))
            return out
        return []

    def _bind(self, q: Query) -> _Ctx:
        return self._bind_terms(self._collect_terms(q))

    def _bind_terms(self, term_list: List[str]) -> _Ctx:
        terms = sorted(set(term_list))
        missing = [t for t in terms if t not in self._stats_cache]
        if missing:
            rows = (
                self.index.terms.filter(F.col("term").isin(missing))
                .select("term", "doc_freq", "total_term_freq")
                .collect()
            )
            found = {r["term"]: (r["doc_freq"], r["total_term_freq"]) for r in rows}
            for t in missing:
                self._stats_cache[t] = found.get(t)
        stats = {
            t: self._stats_cache[t] for t in terms if self._stats_cache[t] is not None
        }
        return _Ctx(
            doc_count=self.index.doc_count,
            sum_total_term_freq=self.index.sum_total_term_freq,
            term_stats=stats,
            k1=self.k1,
            b=self.b,
        )

    # -- exhaustive evaluation -------------------------------------------
    def _term_blocks(self, terms: List[str]) -> DataFrame:
        return self.index.blocks.filter(F.col("term").isin(terms))

    def _decoded(self, plan: _Plan) -> DataFrame:
        """(doc_id, term, score) of every row of the plan: each posting
        of its blocks, or each decoded (doc_id, term, freq, norm) row."""
        if plan.blocks is None:
            return self.index.spark.createDataFrame([], _SCORED_SCHEMA)
        decoded = "docs_packed" not in plan.blocks.columns
        src = plan.blocks.select(*(("doc_id", "term", "freq", "norm") if decoded else _BLOCK_COLS))
        return src.mapInPandas(_decode_score_udf(plan.weights), _SCORED_SCHEMA)

    def _matching_docs(self, q: Query, ctx: _Ctx) -> DataFrame:
        """Unscored match set (FILTER / MUST_NOT / ConstantScore path)."""
        spark = self.index.spark
        if isinstance(q, MatchNoDocsQuery):
            return spark.createDataFrame([], _DOCS_SCHEMA)
        if isinstance(q, MatchAllDocsQuery):
            return self.index.norms.select("doc_id")
        if isinstance(q, (BoostQuery, ConstantScoreQuery)):
            return self._matching_docs(q.query, ctx)
        if isinstance(q, TermQuery):
            if q.term not in ctx.term_stats:
                return spark.createDataFrame([], _DOCS_SCHEMA)
            return decode_frame(self._term_blocks([q.term]), ["doc_id"])
        if isinstance(q, MultiTermFilterDocsQuery):
            # Above-cap multi-term expansion: the matched-term set
            # stays a DataFrame and SEMI-JOINS the posting blocks — no
            # driver-side term list, no isin() literal. At 100 TB the
            # join shuffles on the term key (or broadcasts when the
            # matched set is small — AQE decides from runtime stats).
            matched = self.index.terms.filter(q.source.term_filter()).select("term")
            return decode_frame(self.index.blocks.join(matched, "term", "semi"), ["doc_id"])
        if isinstance(q, PhraseQuery):
            from lucene_spark.search.positional import phrase_freqs

            return phrase_freqs(self.index, list(q.terms), slop=q.slop).select("doc_id")
        if isinstance(q, SpanNearQuery):
            from lucene_spark.search.spans import (
                span_near_docs,
                span_near_multi_docs,
            )

            if q.has_multi_slots:
                return span_near_multi_docs(
                    self.index, q.slot_lists, q.slop, q.in_order
                )
            return span_near_docs(
                self.index, list(q.terms), q.slop, q.in_order
            )
        if isinstance(q, SpanNotQuery):
            from lucene_spark.search.spans import span_not_docs

            return span_not_docs(
                self.index,
                q.include.slot_lists,
                list(q.exclude_terms),
                q.include.slop,
                q.include.in_order,
                pre=q.pre,
                post=q.post,
            )
        if isinstance(q, DisjunctionMaxQuery):
            union = None
            for sub in q.queries:
                d = self._matching_docs(sub, ctx)
                union = d if union is None else union.unionByName(d)
            return union.distinct()
        if isinstance(q, BooleanQuery):
            return self._eval_boolean(q, ctx, 1.0, match_only=True).select("doc_id")
        raise NotImplementedError(f"matching_docs: {type(q).__name__}")

    def _eval(self, q: Query, ctx: _Ctx, boost: float) -> DataFrame:
        """Scored evaluation → DataFrame(doc_id, score double)."""
        spark = self.index.spark
        if isinstance(q, MatchNoDocsQuery):
            return spark.createDataFrame([], "doc_id long, score double")
        if isinstance(q, MatchAllDocsQuery):
            return self.index.norms.select(
                "doc_id", F.lit(float(np.float32(boost))).alias("score")
            )
        if isinstance(q, BoostQuery):
            return self._eval(q.query, ctx, boost * q.boost)
        if isinstance(q, ConstantScoreQuery):
            docs = self._matching_docs(q.query, ctx).distinct()
            return docs.select("doc_id", F.lit(float(np.float32(boost))).alias("score"))
        if isinstance(q, (SpanNearQuery, SpanNotQuery)):
            # span match set, constant-scored (the span gates' semantics)
            docs = self._matching_docs(q, ctx).distinct()
            return docs.select("doc_id", F.lit(float(np.float32(boost))).alias("score"))
        if isinstance(q, TermQuery):
            return self._frame(self._terms_plan(ctx, {q.term: boost}))
        if isinstance(q, PhraseQuery):
            return self._frame(self._phrase_plan(ctx, q.terms, q.slop, boost))
        if isinstance(q, DisjunctionMaxQuery):
            groups = [self._term_group(sub, boost) for sub in q.queries]
            if all(g is not None and len(g) == 1 for g in groups):
                terms = {t: b for g in groups for t, b in g.items()}
                if len(terms) == len(groups):  # one kernel pass over every disjunct
                    return _dismax(self._decoded(self._terms_plan(ctx, terms)), q.tie_breaker)
            union = None
            for sub in q.queries:
                d = self._eval(sub, ctx, boost)
                union = d if union is None else union.unionByName(d)
            return _dismax(union, q.tie_breaker)
        if isinstance(q, BooleanQuery):
            return self._eval_boolean(q, ctx, boost)
        raise NotImplementedError(f"eval: {type(q).__name__}")

    def _phrase_plan(
        self, ctx: _Ctx, phrase, slop: int = 0, boost: float = 1.0, doc_range=None, weigh=None
    ) -> _Plan:
        """Phrase freqs scored as one pseudo-term whose idf sums the
        distinct terms' idfs. ``weigh(dfs, boost)`` builds the weight
        (default :meth:`_Ctx.weight`, float32); an unindexed term
        matches nothing."""
        from lucene_spark.search.positional import phrase_freqs

        terms = list(dict.fromkeys(phrase))
        if any(t not in ctx.term_stats for t in terms):
            return _Plan(None, {})
        weight = (weigh or ctx.weight)([ctx.term_stats[t][0] for t in terms], boost)
        freqs = phrase_freqs(self.index, list(phrase), slop=slop, doc_range=doc_range)
        return _freq_plan(freqs, " ".join(phrase), weight)

    def _term_group(self, sub: Query, boost: float):
        """A clause body → {term: boost} when it is a (boosted) term or
        a pure SHOULD term disjunction (msm<=1) — else None."""
        if isinstance(sub, BoostQuery):
            return self._term_group(sub.query, boost * sub.boost)
        if isinstance(sub, TermQuery):
            return {sub.term: boost}
        if isinstance(sub, BooleanQuery) and sub.minimum_number_should_match <= 1:
            out = {}
            for c in sub.clauses:
                if c.occur != Occur.SHOULD:
                    return None
                inner = self._term_group(c.query, boost)
                if inner is None:
                    return None
                for t, b in inner.items():
                    if t in out:
                        return None
                    out[t] = b
            return out or None
        return None

    def _flat_term_clauses(self, q: BooleanQuery):
        """[(occur, {term: boost})] when every clause is a (boosted)
        term or a nested pure term-disjunction, and scoring terms are
        distinct across clauses — else None. Each entry is a GROUP: a
        doc satisfies the clause when any member matches; its score
        contribution is the sum of matching members' scores (exactly
        the general evaluator's semantics for these shapes)."""
        out = []
        for c in q.clauses:
            g = self._term_group(c.query, 1.0)
            if g is None:
                return None
            out.append((c.occur, g))
        scoring = [
            t for o, g in out if o in (Occur.SHOULD, Occur.MUST) for t in g
        ]
        if len(set(scoring)) != len(scoring):
            return None
        return out

    def _flat_plan(self, flat, q: BooleanQuery, ctx: _Ctx, boost: float) -> _Plan:
        """One decode pass for a flat term-only boolean: presence and
        scores per clause come from conditional aggregation instead of
        per-clause decode passes (BooleanScorer's single-pass window
        accumulator, `search/BooleanScorer.java:31-34`)."""
        # a MUST/FILTER group with no indexed member can never match
        for o, g in flat:
            if o in (Occur.MUST, Occur.FILTER) and not any(
                t in ctx.term_stats for t in g
            ):
                return _Plan(None, {})
        scoring = {
            t: b * boost
            for o, g in flat
            if o in (Occur.SHOULD, Occur.MUST)
            for t, b in g.items()
        }
        all_terms = dict(scoring)
        for o, g in flat:
            for t in g:
                all_terms.setdefault(t, 1.0)
        pruned = self._conjunction_pruned_blocks(ctx, flat, list(all_terms))
        plan = self._terms_plan(ctx, all_terms, blocks=pruned)
        need = _need(flat, q.minimum_number_should_match)
        if need <= 1 and all(o == Occur.SHOULD for o, _ in flat):
            return plan  # every posting's doc matches: a plain per-doc sum
        plan.groups = [(o, frozenset(g)) for o, g in flat]
        plan.scoring = frozenset(scoring)
        plan.need = need
        return plan

    @staticmethod
    def _flat_agg(scored: DataFrame, groups, scoring, need: int) -> DataFrame:
        """Distributed combine of (doc_id, term, score) rows under
        [(occur, terms)] presence groups: per-doc sum of the ``scoring``
        terms' scores and per-group presence flags in one conditional
        aggregation; a doc needs every MUST/FILTER group, no MUST_NOT
        group and ``need`` SHOULD groups."""
        in_ = lambda ts: F.col("term").isin(list(ts)) if ts else F.lit(False)
        nots = [t for o, g in groups if o == Occur.MUST_NOT for t in g]
        aggs = [
            F.sum(F.when(in_(scoring), F.col("score"))).alias("score"),
            F.max(F.when(in_(nots), F.lit(1))).alias("_n"),
        ]
        # per-group presence flags (a group matches when ANY member does)
        req_flags, should_flags = [], []
        for i, (o, g) in enumerate(groups):
            if o in (Occur.MUST, Occur.FILTER):
                aggs.append(F.max(F.when(in_(g), F.lit(1))).alias(f"_r{i}"))
                req_flags.append(f"_r{i}")
            elif o == Occur.SHOULD:
                aggs.append(F.max(F.when(in_(g), F.lit(1))).alias(f"_s{i}"))
                should_flags.append(f"_s{i}")
        agg = scored.groupBy("doc_id").agg(*aggs)

        cond = F.col("_n").isNull()
        for f_ in req_flags:
            cond = cond & (F.col(f_) == 1)
        if should_flags and need > 0:
            n_should = sum(
                [F.coalesce(F.col(f_), F.lit(0)) for f_ in should_flags[1:]],
                F.coalesce(F.col(should_flags[0]), F.lit(0)),
            )
            cond = cond & (n_should >= need)
        return agg.filter(cond).select(
            "doc_id", F.coalesce(F.col("score"), F.lit(0.0)).alias("score")
        )

    def _conjunction_pruned_blocks(
        self, ctx: _Ctx, flat, all_terms: List[str]
    ) -> Optional[DataFrame]:
        """Block-max conjunction pruning
        (`search/BlockMaxConjunctionBulkScorer.java`, selected at
        `BooleanScorerSupplier.java:393-413`; lead-advance semantics of
        `ConjunctionDISI.java`): the cheapest required clause drives.

        Pure-JVM shape (round 4 — no Python decode, no driver hop):
        every term's block metadata is LEFT SEMI joined against the
        broadcast lead group's block metadata on interval overlap AND
        zone-bitmap intersection. Each block carries ``doc_zones``, a
        64-bit occupancy bitmap over its [first_doc, max_doc] span
        written at build time; the join keeps a block only if some
        lead block has an occupied zone inside the block's doc range —
        integer shift/mask arithmetic, whole-stage-codegen'd, resolving
        lead docs to ~span/64 granularity. Exact (never drops a block
        containing a conjunction survivor): a surviving doc is a lead
        doc, its lead block overlaps the containing block's range, and
        the doc's zone bit lies inside the masked range by
        monotonicity of the zone function.

        Returns None (no pruning) when there is no required group or
        the guards say the prune won't pay; callers then decode the
        full block set as before.
        """
        req = [g for o, g in flat if o in (Occur.MUST, Occur.FILTER)]
        if not req:
            return None
        df_of = lambda g: sum(
            ctx.term_stats[t][0] for t in g if t in ctx.term_stats
        )
        lead = min(req, key=df_of)
        lead_df = df_of(lead)
        rest_df = sum(
            ctx.term_stats[t][0] for t in all_terms if t in ctx.term_stats
        ) - lead_df
        if not (0 < lead_df <= self._PRUNE_MAX_LEAD_DOCS):
            return None
        if rest_df < self._PRUNE_MIN_RATIO * lead_df:
            return None
        lead_terms = [t for t in lead if t in ctx.term_stats]
        lead_meta = (
            self._term_blocks(lead_terms)
            .select("first_doc", "max_doc", "doc_zones")
            .alias("lb")
        )
        # zone index of a doc d within lead block lb:
        #   (d - lb.first_doc) * 64 DIV (lb.max_doc - lb.first_doc + 1)
        # mask = bits [zlo, zhi] of the overlap subrange (zhi <= 63 by
        # construction). Bits [0..zhi] via shiftrightunsigned(-1, 63-zhi)
        # — no "2^(zhi+1) - 1" subtraction, which overflows under ANSI
        # mode at zhi = 62 (Long.MIN_VALUE - 1).
        cond = F.expr(
            "ob.first_doc <= lb.max_doc AND ob.max_doc >= lb.first_doc AND "
            "(lb.doc_zones & ("
            "  shiftrightunsigned(CAST(-1 AS BIGINT),"
            "      63 - CAST(((LEAST(ob.max_doc, lb.max_doc) - lb.first_doc) * 64)"
            "                DIV (lb.max_doc - lb.first_doc + 1) AS INT))"
            "  & shiftleft(CAST(-1 AS BIGINT),"
            "      CAST(((GREATEST(ob.first_doc, lb.first_doc) - lb.first_doc) * 64)"
            "           DIV (lb.max_doc - lb.first_doc + 1) AS INT))"
            ")) != 0"
        )
        return (
            self._term_blocks(all_terms)
            .alias("ob")
            .join(F.broadcast(lead_meta), on=cond, how="left_semi")
        )

    def _eval_boolean(
        self, q: BooleanQuery, ctx: _Ctx, boost: float, match_only: bool = False
    ) -> DataFrame:
        """A flat term boolean is one plan. Any other boolean keys each
        clause's rows by clause index — the scored rows of SHOULD/MUST
        clauses, the match set of FILTER/MUST_NOT ones (of every clause
        when ``match_only``: the doc set is all that is used) — and
        combines them once with :meth:`_flat_agg` under the flat plan's
        rule."""
        flat = self._flat_term_clauses(q)
        if flat is not None and any(
            o in (Occur.SHOULD, Occur.MUST) for o, _ in flat
        ):
            return self._frame(self._flat_plan(flat, q, ctx, boost))
        rows, groups = [], []
        for i, c in enumerate(q.clauses):
            if c.occur in (Occur.SHOULD, Occur.MUST) and not match_only:
                d = self._eval(c.query, ctx, boost)
            else:
                d = self._matching_docs(c.query, ctx).withColumn("score", F.lit(0.0))
            rows.append(d.select("doc_id", F.lit(str(i)).alias("term"), "score"))
            groups.append((c.occur, frozenset([str(i)])))
        scoring = [str(i) for i, c in enumerate(q.clauses) if c.occur in (Occur.SHOULD, Occur.MUST)]
        return self._flat_agg(
            reduce(DataFrame.unionByName, rows),
            groups,
            frozenset(scoring),
            _need(groups, q.minimum_number_should_match),
        )

    # -- block-max WAND ---------------------------------------------------
    def _bootstrap_theta(self, scorers, weights, heads, k: int) -> float:
        """θ = lower bound on the k-th best LIVE total score, from each
        term's highest-impact blocks.

        Their payloads are cached driver-side (a few KB per term), so
        the common no-deletes path scores them with the shared batch
        kernel — zero Spark jobs. With tombstones, the head blocks
        re-score through the Spark path so the anti-join keeps θ valid
        for live docs.
        """
        per_term = min(max(1, math.ceil(k / 128) + 1), self._IMPACT_HEADS)
        head_rows = [r for t in scorers for r in heads[t]["heads"][:per_term]]
        if not head_rows:
            return 0.0
        if self.index.hidden_docs is not None:
            top = [
                r["score"]
                for r in self._live(
                    self._term_blocks(list(scorers))
                    .filter(_block_keys(head_rows))
                    .select(*_BLOCK_COLS)
                    .mapInPandas(_decode_score_udf(weights), _SCORED_SCHEMA)
                    .groupBy("doc_id")
                    .agg(F.sum("score").alias("score"))
                )
                .orderBy(F.col("score").desc())
                .limit(k)
                .collect()
            ]
        else:
            docs, _, score = _decode_score(
                {c: [r[c] for r in head_rows] for c in _BLOCK_COLS}, weights
            )
            top = -np.sort(-_sum_by_doc(docs, score)[1])[:k]
        return float(top[k - 1]) if len(top) >= k else 0.0

    def _disjunction_boosts(self, q: BooleanQuery) -> Dict[str, float]:
        """term → accumulated boost for a wandable pure disjunction."""
        term_boosts: Dict[str, float] = {}
        for c in q.clauses:
            sub, boost = c.query, 1.0
            if isinstance(sub, BoostQuery):
                sub, boost = sub.query, sub.boost
            term_boosts[sub.term] = term_boosts.get(sub.term, 0.0) + boost
        return term_boosts

    def _max_impact(self):
        """Column x = max over a block's impacts of freq·normInverse.

        The 256-float normInverse cache depends only on (avgdl, k1, b),
        so the column is built once per searcher: its array literal
        costs hundreds of Py4J calls, more than a small query's decode.
        """
        if self._max_impact_col is None:
            cache = BM25(
                doc_freq=1,
                doc_count=self.index.doc_count or 1,
                sum_total_term_freq=self.index.sum_total_term_freq or 1,
                boost=1.0,
                k1=self.k1,
                b=self.b,
            ).cache
            cache_arr = F.array(*[F.lit(float(x)) for x in cache])
            self._max_impact_col = F.array_max(
                F.zip_with(
                    "impact_freqs",
                    "impact_norms",
                    lambda fr, nm: fr.cast("double") * F.element_at(cache_arr, nm + 1),
                )
            )
        return self._max_impact_col

    def _load_impact_heads(self, terms: List[str]) -> None:
        """Fill ``self._impact_cache`` for any term missing from it.

        One metadata-only window job picks each term's top
        ``_IMPACT_HEADS`` blocks by x = max(freq·normInverse) plus the
        per-term max/avg of f(x) = x/(1+x); one JVM filter+collect then
        fetches just those blocks' payloads (a few KB per term). Both
        are boost-independent, so repeated WAND queries over the same
        terms run with ZERO extra jobs before the scoring pass — the
        reader-holds-impact-metadata-in-RAM behavior of Lucene.
        """
        missing = [t for t in terms if t not in self._impact_cache]
        if not missing:
            return
        f_col = F.col("x") / (F.lit(1.0) + F.col("x"))
        w_rank = Window.partitionBy("term").orderBy(F.col("x").desc(), "first_doc")
        w_term = Window.partitionBy("term")
        meta_rows = (
            self._term_blocks(missing)
            .withColumn("x", self._max_impact())
            .select("term", "first_doc", "x")
            .withColumn("_r", F.row_number().over(w_rank))
            .withColumn("_mxf", F.max(f_col).over(w_term))
            .withColumn("_avf", F.avg(f_col).over(w_term))
            .filter(F.col("_r") <= self._IMPACT_HEADS)
            .collect()
        )
        by_term: Dict[str, list] = {t: [] for t in missing}
        stats: Dict[str, Tuple[float, float]] = {}
        for r in meta_rows:
            by_term[r["term"]].append(r)
            stats[r["term"]] = (float(r["_mxf"]), float(r["_avf"]))
        # a block is keyed by (term, first_doc): unique within a term,
        # unlike (segment_id, block_ord), which repeats across the
        # partial flushes of an aligned build's split segments
        payload_by_key: Dict[tuple, object] = {}
        if meta_rows:
            for row in (
                self._term_blocks(missing)
                .filter(_block_keys(meta_rows))
                .select("first_doc", *_BLOCK_COLS)
                .collect()
            ):
                payload_by_key[(row["term"], row["first_doc"])] = row
        for t in missing:
            ordered = sorted(by_term[t], key=lambda r: r["_r"])
            self._impact_cache[t] = {
                "heads": [
                    payload_by_key[(t, r["first_doc"])]
                    for r in ordered
                    if (t, r["first_doc"]) in payload_by_key
                ],
                "mxf": stats.get(t, (0.0, 0.0))[0],
                "avf": stats.get(t, (0.0, 0.0))[1],
            }

    def _wandable(self, q: Query) -> bool:
        """Pure scored disjunction of TermQuery/Boost(TermQuery)."""
        if not isinstance(q, BooleanQuery) or q.minimum_number_should_match > 1:
            return False
        for c in q.clauses:
            if c.occur != Occur.SHOULD:
                return False
            sub = c.query
            if isinstance(sub, BoostQuery):
                sub = sub.query
            if not isinstance(sub, TermQuery):
                return False
        return True

    def _wand_plan(self, q: BooleanQuery, ctx: _Ctx, k: int) -> _Plan:
        """Block-max WAND: θ-bootstrap + upper-bound block pruning.

        Correctness: a block B of term t is pruned only when
        ``ub(B) + Σ_{t'≠t} max_ub(t') < θ`` with θ a lower bound on the
        k-th best total score. Any doc appearing in a pruned block has
        total score < θ, hence is not in the top-k; every top-k doc
        therefore has all of its blocks surviving and is scored
        exactly. Docs with partial (under-)scores all land strictly
        below θ and cannot displace a top-k doc even on tie-break.
        (Block-grained restatement of `WANDScorer.java:301-317`.)
        """
        term_boosts = self._disjunction_boosts(q)
        scorers = {t: ctx.scorer(t, b) for t, b in term_boosts.items()}
        scorers = {t: s for t, s in scorers.items() if s is not None}
        if not scorers:
            return _Plan(None, {})
        weights = {t: (s.weight, s.cache) for t, s in scorers.items()}

        # Per-term impact heads (cached across queries — see __init__):
        # top blocks by x = max(freq·normInverse), plus the f(x)=x/(1+x)
        # spread. ub = weight·f(x)·(1+ε), so all cached facts are
        # boost-independent.
        self._load_impact_heads(list(scorers))
        heads = {t: self._impact_cache[t] for t in scorers}
        if all(not h["heads"] for h in heads.values()):
            return _Plan(None, {})

        # Cost-based degenerate-case routing (the physical-plan choice
        # BooleanScorerSupplier.java:197-305 makes from cost stats):
        # when every term's block maxima are flat (avg f ≈ max f —
        # short-doc/high-freq outliers saturate freq/(freq+norm) in
        # nearly every block), θ can never exceed the other terms'
        # near-max bounds and the prune test cannot fire (measured
        # 0/2055 blocks pruned on the Zipf bench corpus; BENCH.md).
        # Score everything in one exhaustive-shaped job instead of
        # paying the θ-bootstrap + prune jobs for nothing — the same
        # degenerate-case fallback MAXSCORE/WAND make per-window.
        saturated = all(
            h["avf"] >= 0.9 * h["mxf"] for h in heads.values() if h["heads"]
        )
        if saturated:
            self.last_wand_stats = {
                "theta": None, "prunable": False, "blocks": None,
                "pruned": 0, "saturated": True,
            }
            return self._terms_plan(ctx, term_boosts)

        theta = self._bootstrap_theta(scorers, weights, heads, k)

        # phase B: the WAND prune test. "Others" is bounded by each
        # other term's MAX BLOCK UB = weight·mxf·(1+ε) — driver math
        # from the cached heads (ImpactsDISI's
        # getMaxScore(NO_MORE_DOCS) analog), tighter than the analytic
        # weight supremum and with no extra job.
        max_ub = {
            t: float(scorers[t].weight) * heads[t]["mxf"] * (1.0 + 1e-5)
            for t in scorers
            if heads[t]["heads"]
        }
        total_ub = sum(max_ub.values())

        # JVM-side per-block ub for the prune scan. The (1+ε) inflation
        # guards against float32-vs-double rounding: a loose bound only
        # prunes less, never wrong.
        w_map = F.create_map(
            *[F.lit(x) for t, s in scorers.items() for x in (t, float(s.weight))]
        )
        w_col = w_map[F.col("term")]
        max_x = self._max_impact()
        ub_col = (w_col - w_col / (F.lit(1.0) + max_x)) * F.lit(1.0 + 1e-5)
        meta = self._term_blocks(list(scorers))

        # Driver-side prunability: a block of term t prunes only when
        # ub_block < θ - Σ_{t'≠t} mx(t'); if θ never exceeds the other
        # terms' max-ub sum for ANY term (the low-co-occurrence regime:
        # top docs carry essentially one query term), zero blocks can
        # prune — skip the prune scan and score everything in one
        # exhaustive-shaped job. Pure arithmetic on already-collected
        # stats, no extra Spark job.
        prunable = any(theta > total_ub - u for u in max_ub.values())
        self.last_wand_stats = {"theta": float(theta), "prunable": prunable,
                                "blocks": None, "pruned": 0}
        if not prunable:
            surv = meta
        else:
            others = F.create_map(
                *[F.lit(x) for t, u in max_ub.items() for x in (t, total_ub - u)]
            )[F.col("term")]
            keep = ub_col + others >= F.lit(theta)
            # the keep predicate is a codegen'd expression over block
            # metadata — applying it costs one plan node while every
            # pruned block saves a Python-side decode, so it is applied
            # unconditionally. (An earlier version ran a metadata-count
            # job here to skip "barely pruning" filters: that job cost
            # more wall-clock than any filter ever could, and its 0.5
            # keep-fraction threshold suppressed real 40-90% prunes on
            # clustered corpora.) Prune telemetry is opt-in because the
            # count is itself a job: set `wand_collect_stats = True`.
            if getattr(self, "wand_collect_stats", False):
                counts = meta.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.when(keep, 1).otherwise(0)).alias("kept"),
                ).collect()[0]
                self.last_wand_stats["blocks"] = int(counts["n"])
                self.last_wand_stats["pruned"] = int(counts["n"]) - int(
                    counts["kept"] or 0
                )
            surv = meta.filter(keep)
        return _Plan(surv, weights, theta=float(theta))
