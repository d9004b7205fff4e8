"""Payload storage + PayloadScoreQuery-style scoring
(`index/PostingsEnum.java` payload surface,
`queries/payloads/PayloadScoreQuery.java`,
`analysis/payloads/DelimitedPayloadTokenFilter.java`)."""

import numpy as np
import pandas as pd
import pytest

from lucene_spark.analysis.filters import delimited_payload_analyzer
from lucene_spark.index import InvertedIndex, delete_by_ids, apply_deletes
from lucene_spark.index.merge import force_merge
from lucene_spark.search.payloads import decode_payloads, payload_score_topk


def _corpus(spark):
    # payload = per-occurrence weight riding each token
    pdf = pd.DataFrame(
        {
            "doc_id": range(6),
            "text": [
                "hash|1.5 join|0.25 hash|2.5",
                "join|4.0 scan|0.125",
                "hash|0.5",
                "scan|1.0 scan|3.0 hash|7.25",
                "join|2.0",
                "hash|3.0 hash|1.0 hash|2.0",
            ],
        }
    )
    return spark.createDataFrame(pdf)


def _build(spark, **kw):
    kw.setdefault("docs_per_segment", 4)
    return InvertedIndex.build(
        _corpus(spark),
        analyzer=delimited_payload_analyzer(),
        positions=True,
        payloads=True,
        **kw,
    )


def test_decode_round_trip(spark):
    idx = _build(spark)
    rows = {
        r["doc_id"]: (list(r["positions"]), list(r["payloads"]))
        for r in decode_payloads(idx, ["hash"]).collect()
    }
    assert rows[0] == ([0, 2], [1.5, 2.5])
    assert rows[2] == ([0], [0.5])
    assert rows[5] == ([0, 1, 2], [3.0, 1.0, 2.0])
    assert 1 not in rows and 4 not in rows


@pytest.mark.parametrize(
    "func,expect",
    [
        ("avg", {0: 2.0, 2: 0.5, 3: 7.25, 5: 2.0}),
        ("sum", {0: 4.0, 2: 0.5, 3: 7.25, 5: 6.0}),
        ("min", {0: 1.5, 2: 0.5, 3: 7.25, 5: 1.0}),
        ("max", {0: 2.5, 2: 0.5, 3: 7.25, 5: 3.0}),
    ],
)
def test_payload_functions(spark, func, expect):
    idx = _build(spark)
    got = {
        r["doc_id"]: r["score"]
        for r in payload_score_topk(idx, "hash", func=func, k=10).collect()
    }
    assert got == expect


def test_ordering_and_k(spark):
    idx = _build(spark)
    rows = payload_score_topk(idx, "hash", func="max", k=2).collect()
    assert [(r["doc_id"], r["score"]) for r in rows] == [(3, 7.25), (5, 3.0)]


def test_payloads_survive_merge_and_reclaim(spark):
    idx = _build(spark, docs_per_segment=2)
    merged = force_merge(idx)
    assert merged.has_payloads
    got = {
        r["doc_id"]: r["score"]
        for r in payload_score_topk(merged, "hash", func="sum", k=10).collect()
    }
    assert got == {0: 4.0, 2: 0.5, 3: 7.25, 5: 6.0}
    # hard-delete doc 3, reclaim: payloads of survivors re-encode intact
    reclaimed = apply_deletes(delete_by_ids(merged, [3]))
    assert reclaimed.has_payloads
    got2 = {
        r["doc_id"]: r["score"]
        for r in payload_score_topk(reclaimed, "hash", func="sum", k=10).collect()
    }
    assert got2 == {0: 4.0, 2: 0.5, 5: 6.0}
    # the reclaim re-encode of the merged payload blocks is CheckIndex-
    # clean (its merged segment spans its sources' ranges: segment_bounds
    # is skipped)
    from lucene_spark.index.check import check_index

    report = check_index(reclaimed)
    report.pop("segment_bounds")
    assert all(v == 0 for v in report.values() if isinstance(v, int)), report


def test_deletes_hidden_from_scores(spark):
    idx = delete_by_ids(_build(spark), [0])
    docs = {r["doc_id"] for r in payload_score_topk(idx, "hash", k=10).collect()}
    assert docs == {2, 3, 5}


def test_save_load_round_trip(spark, tmp_path):
    idx = _build(spark)
    idx.save(str(tmp_path / "pay_idx"))
    loaded = InvertedIndex.load(spark, str(tmp_path / "pay_idx"))
    assert loaded.has_payloads
    got = {
        r["doc_id"]: r["score"]
        for r in payload_score_topk(loaded, "hash", func="avg", k=10).collect()
    }
    assert got == {0: 2.0, 2: 0.5, 3: 7.25, 5: 2.0}


def test_requires_positions_and_callable(spark):
    df = _corpus(spark)
    with pytest.raises(ValueError, match="positions"):
        InvertedIndex.build(
            df, analyzer=delimited_payload_analyzer(), payloads=True
        )
    with pytest.raises(ValueError, match="callable"):
        InvertedIndex.build(df, analyzer="simple", positions=True, payloads=True)


def test_missing_payload_defaults_zero(spark):
    pdf = pd.DataFrame({"doc_id": [0], "text": ["hash hash|2.0 join|x"]})
    idx = InvertedIndex.build(
        spark.createDataFrame(pdf),
        analyzer=delimited_payload_analyzer(),
        positions=True,
        payloads=True,
        docs_per_segment=4,
    )
    rows = {
        r["doc_id"]: list(r["payloads"])
        for r in decode_payloads(idx, ["hash"]).collect()
    }
    assert rows[0] == [0.0, 2.0]
    join_rows = decode_payloads(idx, ["join"]).collect()
    assert list(join_rows[0]["payloads"]) == [0.0]


def test_checkindex_payload_alignment(spark):
    from lucene_spark.index.check import check_index

    idx = _build(spark)
    counts = check_index(idx)
    assert counts["payloads_lengths"] == 0
    assert all(v == 0 for k, v in counts.items() if k != "_df")


# ------------------------------------------------ PayloadSpanUtil analog


def _psu_corpus(spark):
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "doc_id": range(4),
            "text": [
                "a|0.0 b|1.0 c|2.0",        # phrase "a b" at 0-1
                "b|0.5 a|1.5 b|2.5",        # "a b" at 1-2 (ordered)
                "a|9.0 c|8.0 b|7.0",        # no adjacent "a b"
                "a|1.0 b|2.0 a|3.0 b|4.0",  # two matches
            ],
        }
    )
    return InvertedIndex.build(
        spark.createDataFrame(pdf),
        analyzer=delimited_payload_analyzer(),
        positions=True,
        payloads=True,
        docs_per_segment=4,
    )


def test_payloads_for_term(spark):
    from lucene_spark.search.payloads import payloads_for_query

    idx = _psu_corpus(spark)
    rows = payloads_for_query(idx, {"term": "a"}).collect()
    got = sorted((r["doc_id"], r["pos"], r["payload"]) for r in rows)
    assert got == [(0, 0, 0.0), (1, 1, 1.5), (2, 0, 9.0), (3, 0, 1.0), (3, 2, 3.0)]


def test_payloads_for_phrase_exact(spark):
    from lucene_spark.search.payloads import payloads_for_query

    idx = _psu_corpus(spark)
    rows = payloads_for_query(idx, {"phrase": ["a", "b"], "slop": 0}).collect()
    got = sorted((r["doc_id"], r["term"], r["pos"]) for r in rows)
    assert got == [
        (0, "a", 0), (0, "b", 1),
        (1, "a", 1), (1, "b", 2),
        (3, "a", 0), (3, "a", 2), (3, "b", 1), (3, "b", 3),
    ]


def test_payloads_for_phrase_slop_unordered_quirk(spark):
    from lucene_spark.search.payloads import payloads_for_query

    idx = _psu_corpus(spark)
    # PayloadSpanUtil.java:61 — slop > 0 means inorder = false, so the
    # "b a" in doc 1 and the non-adjacent a..b in doc 2 now match
    rows = payloads_for_query(idx, {"phrase": ["a", "b"], "slop": 2}).collect()
    docs = {r["doc_id"] for r in rows}
    assert 2 in docs  # a at 0, b at 2: width 1 <= 2, unordered


def test_payloads_bool_skips_prohibited(spark):
    from lucene_spark.search.payloads import payloads_for_query

    idx = _psu_corpus(spark)
    rows = payloads_for_query(
        idx, {"bool": [({"term": "c"}, False), ({"term": "a"}, True)]}
    ).collect()
    assert {r["term"] for r in rows} == {"c"}
    assert sorted(r["payload"] for r in rows) == [2.0, 8.0]


def test_payloads_or_union(spark):
    from lucene_spark.search.payloads import payloads_for_query

    idx = _psu_corpus(spark)
    rows = payloads_for_query(
        idx, {"or": [{"term": "c"}, {"term": "b"}]}
    ).collect()
    assert {r["term"] for r in rows} == {"b", "c"}
