"""Late-interaction MaxSim rescoring (LateInteractionRescorer.java:28 /
LateInteractionFloatValuesSource maxSim loop)."""

import pytest
from pyspark.sql import functions as F

from lucene_spark.search.lateinteraction import (
    late_interaction_maxsim_col,
    late_interaction_rescore,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        # doc 0: one token aligned with q1, one with q2
        (0, [[1.0, 0.0], [0.0, 1.0]]),
        # doc 1: both tokens aligned only with q1
        (1, [[1.0, 0.0], [2.0, 0.0]]),
        # doc 2: anti-aligned
        (2, [[-1.0, 0.0]]),
        # doc 3: no multi-vector
        (3, None),
    ]
    return spark.createDataFrame(
        rows, "doc_id long, multi_vec array<array<double>>"
    )


Q = [[1.0, 0.0], [0.0, 1.0]]


def test_maxsim_cosine(spark, docs):
    got = {
        r["doc_id"]: r["s"]
        for r in docs.filter(F.col("multi_vec").isNotNull())
        .select(
            "doc_id",
            F.round(
                late_interaction_maxsim_col(F.col("multi_vec"), Q), 6
            ).alias("s"),
        )
        .collect()
    }
    # doc 0: q1 best=cos1 -> 1.0, q2 best=1.0 -> total 2.0
    assert got[0] == pytest.approx(2.0)
    # doc 1: q1 -> 1.0; q2 max cos = 0 -> (1+0)/2 = 0.5 -> 1.5
    assert got[1] == pytest.approx(1.5)
    # doc 2: q1 -> (1-1)/2 = 0; q2 -> (1+0)/2 = 0.5 -> 0.5
    assert got[2] == pytest.approx(0.5)


def test_rescore_missing_scores_zero(spark, docs):
    fp = spark.createDataFrame(
        [(0, 9.0), (2, 8.0), (3, 7.0)], "doc_id long, score double"
    )
    rows = late_interaction_rescore(fp, docs, Q, k=5).collect()
    got = {r["doc_id"]: r["score"] for r in rows}
    assert got[0] == pytest.approx(2.0)
    assert got[3] == 0.0  # combine(): absent value -> 0f
    assert [r["doc_id"] for r in rows] == [0, 2, 3]


def test_rescore_fallback(spark, docs):
    fp = spark.createDataFrame(
        [(0, 9.0), (3, 7.0)], "doc_id long, score double"
    )
    rows = late_interaction_rescore(
        fp, docs, Q, fallback_to_first_pass=True, k=5
    ).collect()
    got = {r["doc_id"]: r["score"] for r in rows}
    assert got[3] == 7.0  # withFallbackToFirstPassScore


def test_euclidean_and_dot(spark, docs):
    one = docs.filter(F.col("doc_id") == 0)
    e = one.select(
        late_interaction_maxsim_col(
            F.col("multi_vec"), [[1.0, 0.0]], "euclidean"
        ).alias("s")
    ).collect()[0]["s"]
    assert e == pytest.approx(1.0)  # exact-match token: 1/(1+0)
    d = one.select(
        late_interaction_maxsim_col(
            F.col("multi_vec"), [[2.0, 0.0]], "dot_product"
        ).alias("s")
    ).collect()[0]["s"]
    assert d == pytest.approx((1 + 2.0) / 2)


def test_pure_jvm_plan(spark, docs):
    plan = (
        docs.select(late_interaction_maxsim_col(F.col("multi_vec"), Q))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Python" not in plan and "Arrow" not in plan
    # the rescore joins build on the k-bounded side even with
    # size-based broadcasting off: the hint alone decides
    fp = spark.createDataFrame([(0, 9.0), (3, 7.0)], "doc_id long, score double")
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        rescored = late_interaction_rescore(fp, docs, Q, k=5)
        plan = rescored._jdf.queryExecution().executedPlan().toString()
        assert plan.count("BroadcastHashJoin") == 2 and "SortMergeJoin" not in plan
        assert {r["doc_id"] for r in rescored.collect()} == {0, 3}
    finally:
        spark.conf.set(key, old)


def test_bad_similarity(spark, docs):
    with pytest.raises(ValueError):
        docs.select(
            late_interaction_maxsim_col(F.col("multi_vec"), Q, "manhattan")
        )
    with pytest.raises(ValueError):
        late_interaction_maxsim_col(F.col("multi_vec"), [])


def test_zero_norm_doc_vector_never_nan(spark):
    # review finding: a zero doc token must score (1+0)/2, not NaN-first
    docs = spark.createDataFrame(
        [(0, [[0.0, 0.0]]), (1, [[1.0, 0.0]])],
        "doc_id long, multi_vec array<array<double>>",
    )
    rows = (
        docs.select(
            "doc_id",
            late_interaction_maxsim_col(F.col("multi_vec"), [[1.0, 0.0]]).alias("s"),
        )
        .orderBy(F.col("s").desc(), "doc_id")
        .collect()
    )
    assert [r["doc_id"] for r in rows] == [1, 0]
    assert rows[1]["s"] == pytest.approx(0.5)
    with pytest.raises(ValueError):
        late_interaction_maxsim_col(F.col("multi_vec"), [[0.0, 0.0]])
