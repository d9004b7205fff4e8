"""Positional queries: exact/sloppy PhraseQuery, SynonymQuery, DisMax.

Spark re-expressions of Lucene's positional and multi-term scorers:

- **PhraseQuery** (`search/PhraseQuery.java:71-152`, matcher
  `search/ExactPhraseMatcher.java:39`): a doc matches when for some
  position p every phrase term t_i occurs at p + offset_i; the BM25
  freq is the number of such p. The SimScorer is built from the **sum
  of the per-term idfs** (double-accumulated, cast to float —
  `similarities/BM25Similarity.java:161-170`) and scored against the
  doc's norm like a single pseudo-term.
- **Sloppy phrase** (`search/SloppyPhraseMatcher.java:54`): a match is
  an alignment whose span slack ≤ slop, with sloppy freq
  ``Σ 1/(1+matchLength)`` over the greedy minimal alignments. Phrases
  with repeated terms use the exact branch-and-bound kernel further
  down this module (one anchor per leftmost occurrence, distinct
  positions per repeat group) — the same semantics as Lucene's
  repeats-handling matcher, differential-tested against a brute-force
  alignment oracle.
- **SynonymQuery** (`search/SynonymQuery.java:212-231`): scored as ONE
  pseudo-term with docFreq = max over terms, totalTermFreq = sum, and
  per-doc freq = sum of the per-term freqs (boost-weighted,
  `FreqBoostTermScorer`).
- **DisjunctionMaxQuery** (`search/DisjunctionMaxScorer.java:60-72`):
  score = max(sub scores) + tieBreaker * sum(other sub scores).

The functions here are freq producers: they decode posting blocks in
Arrow-batched ``mapInPandas`` (numpy kernels) and yield one (doc_id,
freq, norm) row per doc. Scoring is not theirs: the top-k functions
hand those rows to :class:`IndexSearcher`'s one BM25 kernel as a
pseudo-term, and DisMax runs as a searcher query.
"""

from __future__ import annotations

from typing import Dict, List

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lucene_spark.index.builder import InvertedIndex
from lucene_spark.index.postings import read_postings
from lucene_spark.search.query import BoostQuery, DisjunctionMaxQuery, PhraseQuery, TermQuery
from lucene_spark.search.searcher import IndexSearcher, _freq_plan, _Plan

__all__ = [
    "decode_positions",
    "phrase_freqs",
    "phrase_topk",
    "multi_phrase_freqs",
    "synonym_freqs",
    "synonym_topk",
    "dismax_topk",
]

def decode_positions(
    index: InvertedIndex,
    terms: List[str],
    doc_range=None,
    with_payloads: bool = False,
    max_tasks: int = None,
) -> DataFrame:
    """(doc_id, term, freq, norm, positions[, payloads]) of the given
    terms: :func:`lucene_spark.index.postings.read_postings` with the
    POSITIONS (and, with ``with_payloads``, PAYLOADS) flag."""
    return read_postings(
        index,
        terms,
        positions=True,
        payloads=with_payloads,
        doc_range=doc_range,
        max_tasks=max_tasks,
    )


def _exact_phrase_kernel(pos_cols: List[np.ndarray], offsets: List[int]) -> float:
    """#positions p with p + offsets[i] ∈ pos_cols[i] for all i (numpy)."""
    cand = np.asarray(pos_cols[0], dtype=np.int64)
    for i in range(1, len(pos_cols)):
        if cand.size == 0:
            return 0.0
        nxt = np.asarray(pos_cols[i], dtype=np.int64) - (offsets[i] - offsets[0])
        cand = cand[np.isin(cand, nxt)]
    return float(cand.size)


def _sloppy_phrase_kernel(pos_cols: List[np.ndarray], offsets: List[int], slop: int) -> float:
    """Greedy sloppy matcher for non-repeating phrases.

    Enumerates candidate anchors from the first term; for each anchor
    greedily picks the nearest-legal position of every other term; a
    match with total slack ``L ≤ slop`` adds ``1/(1+L)`` (the
    sloppyWeight of `SloppyPhraseMatcher`). Positions may not be
    reused across matches for the same term (greedy consumption).
    """
    m = len(pos_cols)
    cols = [np.asarray(c, dtype=np.int64) - off for c, off in zip(pos_cols, offsets)]
    used = [np.zeros(len(c), dtype=bool) for c in cols]
    total = 0.0
    for a_idx in range(len(cols[0])):
        anchor = cols[0][a_idx]
        slack = 0
        picks = []
        ok = True
        for i in range(1, m):
            avail = np.nonzero(~used[i])[0]
            if avail.size == 0:
                ok = False
                break
            dists = np.abs(cols[i][avail] - anchor)
            j = avail[np.argmin(dists)]
            d = int(abs(cols[i][j] - anchor))
            if slack + d > slop:
                ok = False
                break
            slack += d
            picks.append((i, j))
        if ok:
            for i, j in picks:
                used[i][j] = True
            total += 1.0 / (1.0 + slack)
    return total


def phrase_freqs(
    index: InvertedIndex, phrase: List[str], slop: int = 0, doc_range=None
) -> DataFrame:
    """DataFrame(doc_id, freq double, norm) of phrase occurrences.

    Exact phrases (slop=0) match fully JVM-side: each slot's positions
    are exploded, offset-shifted to the anchor, and equi-joined on
    (doc_id, position) — the leapfrog intersection of
    `ExactPhraseMatcher.java:39` as a codegen'd multi-way join. Sloppy
    phrases use the Arrow-batched greedy matcher.
    """
    if slop == 0:
        norms = decode_positions(index, [phrase[0]], doc_range).select("doc_id", "norm")
        anchors = None
        for i, t in enumerate(phrase):
            slot = (
                decode_positions(index, [t], doc_range)
                .select("doc_id", F.explode("positions").alias("p"))
                .select("doc_id", (F.col("p") - F.lit(i)).alias("p"))
            )
            anchors = slot if anchors is None else anchors.join(slot, ["doc_id", "p"])
        return (
            anchors.groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("double").alias("freq"))
            .join(norms, "doc_id")
            .select("doc_id", "freq", "norm")
        )

    offsets_by_term: Dict[str, List[int]] = {}
    for i, t in enumerate(phrase):
        offsets_by_term.setdefault(t, []).append(i)
    distinct = list(offsets_by_term)

    # per-term decode: the term filter prunes blocks BEFORE the Python
    # decode (filtering a shared multi-term decode would re-run the
    # whole decode once per join branch)
    base = decode_positions(index, [distinct[0]], doc_range).select(
        "doc_id", "norm", F.col("positions").alias("p0")
    )
    for i, t in enumerate(distinct[1:], start=1):
        base = base.join(
            decode_positions(index, [t], doc_range).select(
                "doc_id", F.col("positions").alias(f"p{i}")
            ),
            "doc_id",
        )

    # expand repeated terms back to per-phrase-slot position columns
    slot_col_idx = []  # for each phrase slot: index into distinct[]
    for t in phrase:
        slot_col_idx.append(distinct.index(t))
    offsets = list(range(len(phrase)))

    repeated = len(set(phrase)) != len(phrase)
    use_sloppy = slop > 0 and not repeated

    @F.pandas_udf(T.DoubleType())
    def phrase_freq_udf(*cols: pd.Series) -> pd.Series:
        out = np.empty(len(cols[0]))
        for r in range(len(cols[0])):
            pos_cols = [cols[slot_col_idx[s]].iloc[r] for s in range(len(phrase))]
            if use_sloppy:
                out[r] = _sloppy_phrase_kernel(pos_cols, offsets, slop)
            elif slop > 0:
                # repeated-term sloppy: exact repeat-group matching
                out[r] = _sloppy_phrase_kernel_repeats(
                    pos_cols, offsets, slop, phrase
                )
            else:
                out[r] = _exact_phrase_kernel(pos_cols, offsets)
        return pd.Series(out)

    pcols = [F.col(f"p{i}") if i else F.col("p0") for i in range(len(distinct))]
    return (
        base.withColumn("freq", phrase_freq_udf(*pcols))
        .filter(F.col("freq") > 0)
        .select("doc_id", "freq", "norm")
    )


def ngram_phrase_docs(index: InvertedIndex, gram_terms: List[str], n: int) -> DataFrame:
    """NGramPhraseQuery (`search/NGramPhraseQuery.java:29-45`): on a
    field tokenized into n-grams, a phrase of consecutive grams is
    fully determined by every n-th gram plus the last one — the
    optimization drops the redundant middle slots, decoding ~1/n of the
    posting lists while returning the exact same docs. Valid ONLY for
    n-gram fields (consecutive grams sit at consecutive positions by
    construction), which is why Lucene keys the rewrite on the
    tokenizer's gram size.

    Returns DataFrame(doc_id) of matching docs; the match join is the
    same JVM-side offset-shifted position equi-join as the exact-phrase
    path."""
    m = len(gram_terms)
    slots = list(range(0, m, n))
    if slots[-1] != m - 1:
        slots.append(m - 1)
    anchors = None
    for i in slots:
        slot = (
            decode_positions(index, [gram_terms[i]])
            .select("doc_id", F.explode("positions").alias("p"))
            .select("doc_id", (F.col("p") - F.lit(i)).alias("p"))
        )
        anchors = slot if anchors is None else anchors.join(slot, ["doc_id", "p"])
    return anchors.select("doc_id").distinct()


def multi_phrase_freqs(index: InvertedIndex, slots: List[List[str]]) -> DataFrame:
    """MultiPhraseQuery (`search/MultiPhraseQuery.java:54`): each slot
    is a SET of alternative terms; a doc matches at p when every slot i
    has some alternative occurring at p + i. freq = #matching p.

    Plan shape: per-slot positions = union of the alternatives'
    positions (groupBy doc + flatten), then the exact-phrase kernel.
    """
    distinct = sorted({t for slot in slots for t in slot})
    decoded = decode_positions(index, distinct)

    slot_dfs = []
    for i, slot in enumerate(slots):
        d = (
            decoded.filter(F.col("term").isin(slot))
            .groupBy("doc_id")
            .agg(
                F.array_sort(
                    F.array_distinct(F.flatten(F.collect_list("positions")))
                ).alias(f"p{i}"),
                F.max("norm").alias("norm") if i == 0 else F.max("norm").alias(f"_n{i}"),
            )
        )
        slot_dfs.append(
            d.select("doc_id", f"p{i}", "norm") if i == 0 else d.select("doc_id", f"p{i}")
        )

    base = slot_dfs[0]
    for d in slot_dfs[1:]:
        base = base.join(d, "doc_id")

    m = len(slots)
    offsets = list(range(m))

    @F.pandas_udf(T.DoubleType())
    def mp_freq(*cols: pd.Series) -> pd.Series:
        out = np.empty(len(cols[0]))
        for r in range(len(cols[0])):
            out[r] = _exact_phrase_kernel([cols[i].iloc[r] for i in range(m)], offsets)
        return pd.Series(out)

    return (
        base.withColumn("freq", mp_freq(*[F.col(f"p{i}") for i in range(m)]))
        .filter(F.col("freq") > 0)
        .select("doc_id", "freq", "norm")
    )


def _sloppy_phrase_kernel_repeats(
    pos_cols, offsets, slop: int, slot_terms
) -> float:
    """Sloppy matcher for phrases WITH repeated terms (the repeat-group
    case of `search/SloppyPhraseMatcher.java:54`): two slots holding the
    same term must match DISTINCT positions.

    Per anchor (slot-0 position), a branch-and-bound DFS finds the
    minimal-total-slack injective assignment of the remaining slots —
    exact match-existence (unlike a greedy nearest pick, which can
    dead-end on e.g. slots [a, a] with positions [5, 6]). Matches
    consume their positions (non-overlapping, in anchor order) and each
    adds sloppyWeight 1/(1+slack). Position lists are per-doc and tiny,
    so the DFS is bounded in practice; slop pruning cuts it further.
    """
    m = len(pos_cols)
    shifted = [np.asarray(c, dtype=np.int64) - off for c, off in zip(pos_cols, offsets)]
    raw = [np.asarray(c, dtype=np.int64) for c in pos_cols]
    consumed = {t: set() for t in set(slot_terms)}
    total = 0.0
    t0 = slot_terms[0]
    for a_idx in range(len(shifted[0])):
        a_raw = int(raw[0][a_idx])
        if a_raw in consumed[t0]:
            continue
        anchor = int(shifted[0][a_idx])
        best: list = [None]

        def dfs(i: int, slack: int, picked: dict) -> None:
            if best[0] is not None and slack >= best[0][0]:
                return
            if i == m:
                best[0] = (slack, {t: set(s) for t, s in picked.items()})
                return
            t = slot_terms[i]
            cand = []
            taken = picked.get(t, ())
            for j in range(len(raw[i])):
                rp = int(raw[i][j])
                if rp in consumed[t] or rp in taken:
                    continue
                d = abs(int(shifted[i][j]) - anchor)
                if slack + d <= slop:
                    cand.append((d, rp))
            cand.sort()
            for d, rp in cand:
                picked.setdefault(t, set()).add(rp)
                dfs(i + 1, slack + d, picked)
                picked[t].discard(rp)

        dfs(1, 0, {t0: {a_raw}})
        if best[0] is not None:
            slack, picked = best[0]
            for t, s in picked.items():
                consumed[t] |= s
            total += 1.0 / (1.0 + slack)
    return total


def phrase_topk(
    index: InvertedIndex,
    phrase: List[str],
    k: int = 10,
    slop: int = 0,
    boost: float = 1.0,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 top-k for a phrase: float32 Lucene semantics.

    weight = boost * (Σ_i idf(df_i)) with the idf sum accumulated in
    float64 and cast to float32 (`BM25Similarity.java:161-170`).
    """
    q = BoostQuery(PhraseQuery(tuple(phrase), slop), boost)
    return IndexSearcher(index, k1=k1, b=b).search(q, k, "exhaustive")


# --- SynonymQuery ----------------------------------------------------------


def synonym_freqs(index: InvertedIndex, term_boosts: Dict[str, float]) -> DataFrame:
    """Per-doc boost-weighted summed freq across synonym terms."""
    posts = read_postings(index, list(term_boosts))
    boosts = F.create_map(
        *[F.lit(x) for tb in term_boosts.items() for x in (tb[0], float(tb[1]))]
    )
    return (
        posts.withColumn("wf", F.col("freq") * boosts[F.col("term")])
        .groupBy("doc_id")
        .agg(F.sum("wf").alias("freq"), F.max("norm").alias("norm"))
    )


def _synonym_plan(index: InvertedIndex, ctx, terms: List[str], boost: float = 1.0, weigh=None):
    """Summed synonym freqs scored as one pseudo-term with df = the max
    over the indexed terms (`search/SynonymQuery.java:212-231`).
    ``weigh(dfs, boost)`` builds the weight (default float32)."""
    present = [t for t in dict.fromkeys(terms) if t in ctx.term_stats]
    if not present:
        return _Plan(None, {})
    weight = (weigh or ctx.weight)([max(ctx.term_stats[t][0] for t in present)], boost)
    return _freq_plan(synonym_freqs(index, {t: 1.0 for t in present}), " ".join(present), weight)


def synonym_topk(
    index: InvertedIndex,
    terms: List[str],
    k: int = 10,
    boost: float = 1.0,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """SynonymQuery top-k: one pseudo-term, df = max, freq = Σ freqs."""
    searcher = IndexSearcher(index, k1=k1, b=b)
    plan = _synonym_plan(index, searcher._bind_terms(terms), terms, boost)
    return searcher._topk(searcher._frame(plan), k)


# --- DisjunctionMaxQuery ---------------------------------------------------


def dismax_topk(
    index: InvertedIndex,
    term_boosts: Dict[str, float],
    tie_breaker: float = 0.0,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """DisMax over TermQuery clauses: max + tie * (sum - max), float32.

    The float arithmetic in `DisjunctionMaxScorer.java:60-72` is
    ``(float)(scoreMax + otherScoreSum * tieBreakerMultiplier)`` with
    otherScoreSum accumulated in double; the searcher mirrors that.
    """
    q = DisjunctionMaxQuery(
        tuple(BoostQuery(TermQuery(t), w) for t, w in term_boosts.items()), tie_breaker
    )
    return IndexSearcher(index, k1=k1, b=b).search(q, k, "exhaustive")


def phrase_wildcard_freqs(
    index: InvertedIndex, slots: List, max_expansions: int = 1024
) -> DataFrame:
    """PhraseWildcardQuery (`sandbox/.../search/PhraseWildcardQuery.java:66`):
    a phrase whose slots may be multi-term sub-queries (prefix /
    wildcard / regexp). Each multi-term slot expands against the term
    dictionary in term order, spending a SHARED ``max_expansions``
    budget across slots (the reference's ``maxMultiTermExpansions`` is
    likewise a whole-query budget; past it, remaining terms are simply
    not collected). The expanded slots then run through the
    MultiPhraseQuery kernel — union of positions per slot, exact-phrase
    alignment, freq = #matching start positions.

    Scale shape: each expansion probe is a pushed-down dictionary scan
    with a ``TakeOrderedAndProject`` cap (never an unbounded collect),
    and the positional work is the same Arrow-batched kernel as
    MultiPhrase — only blocks of the expanded terms are decoded.
    """
    from lucene_spark.search.query import MultiTermQuery

    budget = max_expansions
    expanded: List[List[str]] = []
    for slot in slots:
        if isinstance(slot, str):
            expanded.append([slot])
            continue
        if not isinstance(slot, MultiTermQuery):
            raise TypeError(f"slot must be a term or MultiTermQuery: {slot!r}")
        matched = [
            r["term"]
            for r in index.terms.filter(slot.term_filter())
            .select("term")
            .orderBy("term")
            .limit(max(budget, 0))
            .collect()
        ]
        budget -= len(matched)
        expanded.append(matched)
    if any(not s for s in expanded):
        # a slot with zero dictionary matches can never align
        return index.blocks.sparkSession.createDataFrame(
            [], "doc_id long, freq double, norm int"
        )
    return multi_phrase_freqs(index, expanded)
