"""Search routes: a small term-shaped query decodes its surviving blocks
on the driver (the local route), everything else decodes in Spark (the
distributed route). The route never changes which blocks survive, so
both routes must return the same top-k bit for bit, and both must equal
exhaustive scoring. One shared index per module keeps this cheap.
"""

import uuid

import pandas as pd
import pytest

from lucene_spark.index import InvertedIndex, delete_by_ids
from lucene_spark.search import (
    BooleanClause,
    BooleanQuery,
    BoostQuery,
    DisjunctionMaxQuery,
    IndexSearcher,
    Occur,
    PhraseQuery,
    PrefixQuery,
    TermQuery,
)

N = 1536  # 12 blocks of 128 postings for the clustered terms


def _text(i: int) -> str:
    """A hot third (focus x8 lens x4) first, then a mid third, then a
    cold third: on this order WAND prunes the cold blocks. Rarer terms
    ride along for conjunction pruning and prefix expansion."""
    words = [f"w{i % 7}", f"w{(i + 1) % 7}", f"w{(i + 2) % 7}"]
    topic = (i * 3) // N
    if topic == 0:
        words += ["focus"] * 8 + ["lens"] * 4
    elif topic == 1:
        words += ["focus", "lens"]
    if i % 97 == 0:
        words.append("rare")
    if i % 5 == 0:
        words.append("alpha")
    if i % 11 == 0:
        words += ["alpine", "alpine"]
    if i % 13 == 0:
        words.append("altitude")
    return " ".join(words)


@pytest.fixture(scope="module")
def index(spark):
    pdf = pd.DataFrame({"doc_id": range(N), "text": [_text(i) for i in range(N)]})
    return InvertedIndex.build(
        spark.createDataFrame(pdf), analyzer="simple", docs_per_segment=N, positions=True
    )


@pytest.fixture(scope="module")
def searcher(index):
    return IndexSearcher(index)


def _t(term, boost=None):
    q = TermQuery(term)
    return q if boost is None else BoostQuery(q, boost)


def _bool(*clauses, msm=0):
    return BooleanQuery.of(*[BooleanClause(q, o) for q, o in clauses], min_should_match=msm)


S, M, N_, F_ = Occur.SHOULD, Occur.MUST, Occur.MUST_NOT, Occur.FILTER

CASES = {
    "term": (_t("focus"), 10, "auto"),
    "boosted_term": (_t("lens", 3.0), 10, "auto"),
    "boosted_should": (_bool((_t("focus", 2.0), S), (_t("alpha", 0.5), S)), 20, "auto"),
    "flat_should": (_bool((_t("alpha"), S), (_t("alpine"), S), (_t("altitude"), S)), 25, "exhaustive"),
    "must_must_not": (_bool((_t("focus"), M), (_t("w3"), N_), (_t("lens"), S)), 15, "auto"),
    "filter_group": (
        _bool((_bool((_t("alpha"), S), (_t("alpine"), S)), F_), (_t("w2"), S)), 15, "auto"
    ),
    "msm2": (
        _bool((_t("alpha"), S), (_t("alpine"), S), (_t("altitude"), S), (_t("w1"), S), msm=2),
        30,
        "auto",
    ),
    "prefix_scoring_boolean": (PrefixQuery("al", rewrite_method="scoring_boolean"), 10, "auto"),
    "wand_pruned": (_bool((_t("focus"), S), (_t("lens"), S)), 10, "wand"),
    "conjunction_pruned": (_bool((_t("rare"), M), (_t("w0"), M)), 10, "auto"),
    "k_above_matches": (_t("rare"), 1000, "auto"),
    "missing_term": (_t("nosuchterm"), 10, "auto"),
    "missing_should": (_bool((_t("lens"), S), (_t("nosuchterm"), S)), 10, "wand"),
    "missing_must": (_bool((_t("nosuchterm"), M), (_t("focus"), S)), 10, "auto"),
}


def _hits(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


@pytest.fixture
def routes(searcher, monkeypatch):
    """Counts the searches that took the local route."""
    taken = []
    local = searcher._local_topk

    def spy(plan, k):
        taken.append(k)
        return local(plan, k)

    monkeypatch.setattr(searcher, "_local_topk", spy)
    return taken


def _distributed(searcher, monkeypatch, q, k, mode):
    with monkeypatch.context() as m:
        m.setattr(searcher, "_LOCAL_MAX_POSTINGS", 0)
        return _hits(searcher.search(q, k, mode))


@pytest.mark.parametrize("case", list(CASES))
def test_local_equals_distributed_equals_exhaustive(searcher, routes, monkeypatch, case):
    q, k, mode = CASES[case]
    local = _hits(searcher.search(q, k, mode))
    assert routes == [k], "the query did not take the local route"
    dist = _distributed(searcher, monkeypatch, q, k, mode)
    # below 100k postings "auto" already means exhaustive
    exhaustive = dist if mode != "wand" else _distributed(searcher, monkeypatch, q, k, "exhaustive")
    assert routes == [k], "capping the route at 0 did not force the distributed route"
    assert local == dist == exhaustive
    assert len(local) == EXPECTED_LEN.get(case, k)


EXPECTED_LEN = {
    "k_above_matches": 16,  # docs 0, 97, ..., 1455
    "missing_term": 0,
    "missing_must": 0,
    "conjunction_pruned": 8,  # rare docs whose pad holds w0
}


def test_cases_exercise_their_prunes(searcher):
    """The WAND case really prunes blocks, and the conjunction case really
    semi-joins its blocks against the lead term (else the equality above
    proves less than it claims)."""
    s = IndexSearcher(searcher.index)
    s.wand_collect_stats = True
    q, k, mode = CASES["wand_pruned"]
    s.search(q, k, mode)
    assert s.last_wand_stats["pruned"] > 0, s.last_wand_stats
    q = CASES["conjunction_pruned"][0]
    ctx = s._bind(q)
    assert s._conjunction_pruned_blocks(ctx, s._flat_term_clauses(q), ["rare", "w0"]) is not None


def test_cap_boundary(searcher, routes, monkeypatch):
    """Σ doc_freq at the cap goes distributed; one below it stays local."""
    q = _bool((_t("alpha"), S), (_t("rare"), S))
    total = sum(df for df, _ in searcher._bind(q).term_stats.values())
    expected = _hits(searcher.search(q, 10))
    assert routes == [10]
    monkeypatch.setattr(searcher, "_LOCAL_MAX_POSTINGS", total)
    assert _hits(searcher.search(q, 10)) == expected
    assert routes == [10]
    monkeypatch.setattr(searcher, "_LOCAL_MAX_POSTINGS", total + 1)
    assert _hits(searcher.search(q, 10)) == expected
    assert routes == [10, 10]


def test_deletes_stay_distributed(index):
    """With tombstones the anti-join needs Spark: no local route."""
    deleted = delete_by_ids(index, [0, 3])
    s = IndexSearcher(deleted)
    calls = []
    s._local_topk = lambda plan, k: calls.append(k)
    got = _hits(s.search(_t("focus"), N))
    assert calls == []
    assert len(got) == 2 * N // 3 - 2 and not {0, 3} & {d for d, _ in got}


@pytest.mark.parametrize(
    "q",
    [
        PhraseQuery(("focus", "lens")),
        DisjunctionMaxQuery((_t("alpha"), _t("alpine")), tie_breaker=0.1),
    ],
    ids=["phrase", "dismax"],
)
def test_other_shapes_stay_distributed(searcher, routes, q):
    assert _hits(searcher.search(q, 5))
    assert routes == []


def _jobs(spark, fn):
    sc = spark.sparkContext
    gid = uuid.uuid4().hex
    sc.setJobGroup(gid, gid)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(gid))


@pytest.mark.parametrize("case", ["term", "wand_pruned"])
def test_local_route_runs_one_job(spark, index, case):
    """Warm stats and impact heads: the block fetch is the only job;
    the hits come back as a local relation."""
    s = IndexSearcher(index)
    q, k, mode = CASES[case]
    s.search(q, k, mode).collect()
    assert _jobs(spark, lambda: s.search(q, k, mode).collect()) == 1
