"""Positional index: phrase / synonym / dismax vs naive references."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import numpy as np
import pytest
from pyspark.sql import functions as F

from lucene_spark.functions.bm25 import BM25, bm25_idf
from lucene_spark.functions.forutil import for_decode_stream, for_encode_stream
from lucene_spark.functions.smallfloat import int_to_byte4
from lucene_spark.index import InvertedIndex
from lucene_spark.index.merge import force_merge
from lucene_spark.search import (
    decode_positions,
    dismax_topk,
    phrase_freqs,
    phrase_topk,
    synonym_topk,
)

DOCS = [
    (0, "hash join beats sort merge join on small builds"),
    (1, "sort merge join wins when both sides are sorted"),
    (2, "a hash join needs a hash table for the build side"),
    (3, "broadcast hash join avoids the shuffle entirely"),
    (4, "join hash is not the same phrase as hash join"),
    (5, "hash hash join join hash join"),
    (6, "nothing relevant here at all"),
    (7, "the quick brown fox jumps over the lazy dog hash"),
]


@pytest.fixture(scope="module")
def pidx(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    return InvertedIndex.build(df, analyzer="simple", docs_per_segment=3, positions=True)


def naive_tokens():
    return {d: t.split(" ") for d, t in DOCS}


def naive_phrase_freq(phrase):
    out = {}
    for d, toks in naive_tokens().items():
        n = sum(
            1
            for i in range(len(toks) - len(phrase) + 1)
            if toks[i : i + len(phrase)] == phrase
        )
        if n:
            out[d] = n
    return out


def test_for_stream_roundtrip():
    rng = np.random.default_rng(7)
    for n in (0, 1, 127, 128, 129, 1000):
        vals = rng.integers(0, 1 << 20, size=n)
        assert np.array_equal(for_decode_stream(for_encode_stream(vals)), vals)


def test_decode_positions_roundtrip(pidx):
    rows = decode_positions(pidx, ["hash", "join"]).collect()
    got = {(r["doc_id"], r["term"]): list(r["positions"]) for r in rows}
    toks = naive_tokens()
    for (d, t), pos in got.items():
        expect = [i for i, w in enumerate(toks[d]) if w == t]
        assert pos == expect, (d, t)
    # freq matches positions length
    for r in rows:
        assert r["freq"] == len(r["positions"])


@pytest.mark.parametrize("phrase", [["hash", "join"], ["sort", "merge", "join"], ["hash", "join", "beats"]])
def test_exact_phrase_freqs(pidx, phrase):
    got = {r["doc_id"]: r["freq"] for r in phrase_freqs(pidx, phrase).collect()}
    assert got == {d: float(f) for d, f in naive_phrase_freq(phrase).items()}


def test_exact_phrase_freqs_after_merge(pidx):
    merged = force_merge(pidx)
    got = {r["doc_id"]: r["freq"] for r in phrase_freqs(merged, ["hash", "join"]).collect()}
    assert got == {d: float(f) for d, f in naive_phrase_freq(["hash", "join"]).items()}


def test_phrase_topk_scores(pidx):
    phrase = ["hash", "join"]
    res = phrase_topk(pidx, phrase, k=10).collect()
    # naive float32 scoring: weight = (float)(sum of float idfs)
    toks = naive_tokens()
    dls = {d: len(t) for d, t in toks.items()}
    norms = {d: int(int_to_byte4(dl)) for d, dl in dls.items()}
    df = {t: sum(1 for toks_ in toks.values() if t in toks_) for t in phrase}
    n = len(DOCS)
    sttf = sum(dls.values())
    idf_sum = np.float32(sum(float(bm25_idf(df[t], n)) for t in phrase))
    scorer = BM25(doc_freq=1, doc_count=n, sum_total_term_freq=sttf)
    w = np.float32(1.0) * idf_sum
    expect = {}
    for d, f in naive_phrase_freq(phrase).items():
        ni = scorer.cache[norms[d]]
        expect[d] = float(w - w / (np.float32(1.0) + np.float32(f) * ni))
    got = {r["doc_id"]: r["score"] for r in res}
    assert set(got) == set(expect)
    for d in got:
        assert got[d] == pytest.approx(expect[d], abs=0), d
    # ordering: score desc, doc asc
    scores = [(r["score"], r["doc_id"]) for r in res]
    assert scores == sorted(scores, key=lambda x: (-x[0], x[1]))


def test_sloppy_phrase_matches_superset(pidx):
    exact = {r["doc_id"] for r in phrase_freqs(pidx, ["hash", "table"], slop=0).collect()}
    sloppy = {r["doc_id"] for r in phrase_freqs(pidx, ["hash", "table"], slop=2).collect()}
    assert exact <= sloppy
    # "needs a hash table": exact adjacency exists in doc 2
    assert 2 in exact
    # "hash ... builds" in doc 0: positions 0 and 8, offset-adjusted slack 7
    wide = {r["doc_id"] for r in phrase_freqs(pidx, ["hash", "builds"], slop=7).collect()}
    assert 0 in wide
    tight = {r["doc_id"] for r in phrase_freqs(pidx, ["hash", "builds"], slop=2).collect()}
    assert 0 not in tight


def test_synonym_topk(pidx):
    terms = ["hash", "sort"]
    toks = naive_tokens()
    dls = {d: len(t) for d, t in toks.items()}
    norms = {d: int(int_to_byte4(dl)) for d, dl in dls.items()}
    n, sttf = len(DOCS), sum(dls.values())
    tf = {d: Counter(t) for d, t in toks.items()}
    df = {t: sum(1 for c in tf.values() if c[t]) for t in terms}
    pseudo_df = max(df.values())
    scorer = BM25(doc_freq=pseudo_df, doc_count=n, sum_total_term_freq=sttf)
    expect = {}
    for d, c in tf.items():
        f = sum(c[t] for t in terms)
        if f:
            expect[d] = float(scorer.score([f], [norms[d]])[0])
    got = {r["doc_id"]: r["score"] for r in synonym_topk(pidx, terms, k=20).collect()}
    assert set(got) == set(expect)
    for d in got:
        assert got[d] == pytest.approx(expect[d], abs=0), d


def test_dismax_topk(pidx):
    tb = {"hash": 1.0, "join": 2.0}
    toks = naive_tokens()
    dls = {d: len(t) for d, t in toks.items()}
    norms = {d: int(int_to_byte4(dl)) for d, dl in dls.items()}
    n, sttf = len(DOCS), sum(dls.values())
    tf = {d: Counter(t) for d, t in toks.items()}
    per_term = {}
    for t, boost in tb.items():
        dfv = sum(1 for c in tf.values() if c[t])
        s = BM25(doc_freq=dfv, doc_count=n, sum_total_term_freq=sttf, boost=boost)
        for d, c in tf.items():
            if c[t]:
                per_term.setdefault(d, []).append(float(s.score([c[t]], [norms[d]])[0]))
    tie = 0.3
    expect = {
        d: float(np.float32(max(ss) + (sum(ss) - max(ss)) * tie))
        for d, ss in per_term.items()
    }
    got = {
        r["doc_id"]: r["score"]
        for r in dismax_topk(pidx, tb, tie_breaker=tie, k=20).collect()
    }
    assert set(got) == set(expect)
    for d in got:
        assert got[d] == pytest.approx(expect[d], abs=0), d


def test_multi_phrase_freqs(pidx):
    from lucene_spark.search.positional import multi_phrase_freqs

    # slot0: {hash, sort}; slot1: {join, merge} — matches "hash join",
    # "hash merge", "sort join", "sort merge" bigrams
    got = {
        r["doc_id"]: r["freq"]
        for r in multi_phrase_freqs(pidx, [["hash", "sort"], ["join", "merge"]]).collect()
    }
    expect = {}
    for d, toks in naive_tokens().items():
        n = sum(
            1
            for i in range(len(toks) - 1)
            if toks[i] in ("hash", "sort") and toks[i + 1] in ("join", "merge")
        )
        if n:
            expect[d] = float(n)
    assert got == expect


def test_dismax_query_node(spark, pidx):
    """DisjunctionMaxQuery as a composable tree node through
    IndexSearcher agrees with the dismax_topk function."""
    from lucene_spark.search import IndexSearcher
    from lucene_spark.search.query import (
        BooleanClause,
        BooleanQuery,
        BoostQuery,
        DisjunctionMaxQuery,
        Occur,
        TermQuery,
    )

    s = IndexSearcher(pidx)
    dm = DisjunctionMaxQuery(
        (TermQuery("hash"), BoostQuery(TermQuery("join"), 2.0)), tie_breaker=0.3
    )
    via_node = {
        (r["doc_id"], round(r["score"], 5))
        for r in s.search(dm, 20, "exhaustive").collect()
    }
    via_fn = {
        (r["doc_id"], round(r["score"], 5))
        for r in dismax_topk(pidx, {"hash": 1.0, "join": 2.0}, tie_breaker=0.3, k=20).collect()
    }
    assert via_node == via_fn

    # composable inside a boolean with an exclusion
    bq = BooleanQuery.of(
        BooleanClause(dm, Occur.SHOULD),
        BooleanClause(TermQuery("sort"), Occur.MUST_NOT),
    )
    res = s.search(bq, 20, "exhaustive").collect()
    toks = naive_tokens()
    excluded = {d for d, t in toks.items() if "sort" in t}
    assert all(r["doc_id"] not in excluded for r in res)
    assert len(res) > 0

    # single-disjunct rewrite unwraps
    from lucene_spark.search import rewrite

    assert rewrite(DisjunctionMaxQuery((TermQuery("hash"),), 0.5)) == TermQuery("hash")


# --- round-2: exact repeat-group sloppy matching ---------------------------


def _brute_exists(toks, phrase, slop):
    """∃ injective (per repeated term) slot→position assignment with
    total slack ≤ slop — the objective match predicate."""
    from itertools import product

    pos = {t: [i for i, x in enumerate(toks) if x == t] for t in set(phrase)}
    if any(not pos[t] for t in phrase):
        return False
    for combo in product(*[pos[t] for t in phrase]):
        # distinct positions for slots of the same term
        seen = {}
        ok = True
        for slot, p in enumerate(combo):
            t = phrase[slot]
            if p in seen.get(t, ()):
                ok = False
                break
            seen.setdefault(t, set()).add(p)
        if not ok:
            continue
        anchor = combo[0] - 0
        slack = sum(abs((combo[i] - i) - anchor) for i in range(1, len(phrase)))
        if slack <= slop:
            return True
    return False


def test_repeated_sloppy_differential(spark):
    import numpy as np

    from lucene_spark.index import InvertedIndex
    from lucene_spark.search.positional import phrase_freqs

    rng = np.random.RandomState(3)
    vocab = ["a", "b", "c", "d"]
    texts = [" ".join(rng.choice(vocab, size=rng.randint(2, 12))) for _ in range(60)]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    idx = InvertedIndex.build(docs, analyzer="simple", docs_per_segment=16, positions=True)
    for phrase, slop in [
        (["a", "a"], 1),
        (["a", "a"], 3),
        (["a", "b", "a"], 2),
        (["b", "a", "a"], 4),
        (["a", "a", "a"], 5),
    ]:
        got = {
            r["doc_id"] for r in phrase_freqs(idx, phrase, slop=slop).collect()
        }
        want = {
            i for i, t in enumerate(texts) if _brute_exists(t.split(" "), phrase, slop)
        }
        assert got == want, (phrase, slop, got ^ want)


def test_repeated_sloppy_greedy_deadend_case(spark):
    """slots [a, a] over positions [5, 6]: a greedy nearest pick from
    anchor 5 would try to reuse 5; the exact matcher must find (5, 6)."""
    from lucene_spark.index import InvertedIndex
    from lucene_spark.search.positional import phrase_freqs

    docs = spark.createDataFrame(
        [(0, "x x x x x a a"), (1, "x a x x x x a")],
        "doc_id long, text string",
    )
    idx = InvertedIndex.build(docs, analyzer="simple", docs_per_segment=4, positions=True)
    rows = {r["doc_id"]: r["freq"] for r in phrase_freqs(idx, ["a", "a"], slop=0).collect()}
    assert 0 in rows  # adjacent repeat, slack 0
    assert 1 not in rows  # positions 1 and 6: slack 4 > 0
    rows4 = {r["doc_id"]: r["freq"] for r in phrase_freqs(idx, ["a", "a"], slop=4).collect()}
    assert 1 in rows4
