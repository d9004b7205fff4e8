"""Tests: term ordinals (blocktreeords/OrdinalMap analogs), the
QueryAutoStopWordAnalyzer analog, and DelimitedBoostTokenFilter query
parsing."""

import pytest
from pyspark.sql import functions as F

from lucene_spark.analysis.filters import (
    delimited_boost_query,
    delimited_boost_terms,
)
from lucene_spark.index import InvertedIndex
from lucene_spark.index.ords import (
    ordinal_map,
    seek_by_ord,
    seek_ceil,
    term_ords,
)
from lucene_spark.search.autostop import (
    auto_stop_filter_boosts,
    auto_stop_word_set,
    auto_stop_words,
)


@pytest.fixture(scope="module")
def idx(spark):
    rows = [
        # 'common' in 5/6 docs, 'half' in 3/6, 'rare' in 1/6
        (0, "common half rare alpha"),
        (1, "common half beta"),
        (2, "common half gamma"),
        (3, "common delta"),
        (4, "common epsilon"),
        (5, "zeta eta"),
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    return InvertedIndex.build(corpus, analyzer="simple", docs_per_segment=2)


# --- term ordinals ---------------------------------------------------------


def test_term_ords_dense_lexicographic(idx):
    rows = term_ords(idx).orderBy("ord").collect()
    terms = [r["term"] for r in rows]
    assert terms == sorted(terms)
    assert [r["ord"] for r in rows] == list(range(len(rows)))
    # 10 distinct terms above
    assert len(rows) == 10


def test_term_ords_releases_its_cache(spark, idx):
    """term_ords leaves the session's cached relations as it found them."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    before = cache.numCachedEntries()
    ords = term_ords(idx)
    assert cache.numCachedEntries() == before
    assert ords.count() == 10


def test_seek_by_ord(idx):
    rows = seek_by_ord(idx, [0, 3, 9]).collect()
    got = {r["ord"]: (r["term"], r["doc_freq"]) for r in rows}
    all_terms = sorted(
        r["term"] for r in idx.terms.select("term").collect()
    )
    assert got[0][0] == all_terms[0]
    assert got[3][0] == all_terms[3]
    assert got[9][0] == all_terms[9]
    assert got[0] == ("alpha", 1)
    # out-of-range ord yields no row
    assert seek_by_ord(idx, [99]).count() == 0


def test_seek_ceil(idx):
    rows = {r["probe"]: r["term"] for r in seek_ceil(idx, ["b", "common", "zz"]).collect()}
    assert rows["b"] == "beta"  # smallest term >= 'b'
    assert rows["common"] == "common"  # exact hit
    assert "zz" not in rows  # past the last term -> SeekStatus.END


def test_ordinal_map_consistent(idx):
    om = ordinal_map(idx)
    # per-segment ords are dense from 0 within each segment
    for seg_rows in (
        om.groupBy("segment_id")
        .agg(F.collect_list("seg_ord").alias("ords"))
        .collect()
    ):
        assert sorted(seg_rows["ords"]) == list(range(len(seg_rows["ords"])))
    # global ord order agrees with term order everywhere
    rows = om.orderBy("segment_id", "seg_ord").collect()
    for a, b in zip(rows, rows[1:]):
        if a["segment_id"] == b["segment_id"]:
            assert a["term"] < b["term"]
            assert a["global_ord"] < b["global_ord"]
    # multiple segments actually exercised (6 docs / 2 per segment)
    assert om.select("segment_id").distinct().count() >= 2


# --- QueryAutoStopWordAnalyzer --------------------------------------------


def test_auto_stop_percent_threshold(idx):
    # numDocs=6, pct=0.5 -> threshold int(3.0)=3: df>3 stops.
    # 'common' df=5 stops; 'half' df=3 is NOT strictly greater -> kept
    stops = auto_stop_word_set(idx, max_percent_docs=0.5)
    assert stops == {"common"}


def test_auto_stop_strictly_greater(idx):
    # explicit maxDocFreq=5: df>5 never true here -> empty stop set
    assert auto_stop_word_set(idx, max_doc_freq=5) == set()
    # maxDocFreq=4 stops only 'common'
    assert auto_stop_word_set(idx, max_doc_freq=4) == {"common"}


def test_auto_stop_int_truncation(idx):
    # pct=0.6 -> int(6*0.6)=3 (truncation, not rounding): df>3 stops
    # only 'common' (df=5); 'half' (df=3) survives
    assert auto_stop_word_set(idx, max_percent_docs=0.6) == {"common"}


def test_auto_stop_words_frame_order(idx):
    rows = auto_stop_words(idx, max_doc_freq=2).collect()
    # df desc, term asc
    freqs = [r["doc_freq"] for r in rows]
    assert freqs == sorted(freqs, reverse=True)
    assert rows[0]["term"] == "common"


def test_auto_stop_filter_boosts(idx):
    boosts = auto_stop_filter_boosts(
        idx, {"common": 1.0, "half": 2.0, "rare": 0.5}, max_percent_docs=0.5
    )
    assert boosts == {"half": 2.0, "rare": 0.5}


def test_auto_stop_both_args_rejected(idx):
    with pytest.raises(ValueError):
        auto_stop_filter_boosts(idx, {"a": 1.0}, max_doc_freq=1, max_percent_docs=0.5)


# --- DelimitedBoostTokenFilter --------------------------------------------


def test_delimited_boost_terms():
    assert delimited_boost_terms("apple|2.5 banana cherry|0.5") == [
        ("apple", 2.5),
        ("banana", 1.0),
        ("cherry", 0.5),
    ]


def test_delimited_boost_first_delimiter_wins():
    # split at the FIRST delimiter like the reference's buffer scan:
    # the remainder "2|3" must parse as a float, so it raises — exactly
    # Float.parseFloat's NumberFormatException behavior
    with pytest.raises(ValueError):
        delimited_boost_terms("a|2|3")
    term, boost = delimited_boost_terms("x|2.0")[0]
    assert (term, boost) == ("x", 2.0)


def test_delimited_boost_unparsable_raises():
    with pytest.raises(ValueError):
        delimited_boost_terms("apple|notafloat")


def test_delimited_boost_query_folds_duplicates():
    assert delimited_boost_query("a|2.0 b a") == {"a": 3.0, "b": 1.0}


def test_delimited_boost_custom_delimiter():
    assert delimited_boost_terms("a^4", delimiter="^") == [("a", 4.0)]


# --- MultiCollector fused scalar collectors --------------------------------


def test_multi_collector_single_pass(idx, spark):
    from lucene_spark.search.misc import multi_collector_stats

    row = multi_collector_stats(idx, {"common": 1.0, "rare": 2.0}).collect()[0]
    # 'common' in 5 docs, 'rare' in 1 (doc 0, which also has common)
    assert row["total_hits"] == 5
    assert row["max_score"] >= row["avg_score"] >= row["min_score"]
    assert row["sum_score"] == pytest.approx(row["avg_score"] * 5, abs=1e-3)
    # every collector fused into ONE aggregate job: the plan has a
    # single final HashAggregate pair over the scored frame, no join
    # of separate passes
    plan = (
        multi_collector_stats(idx, {"common": 1.0})
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert plan.count("Aggregate [") <= 3  # score groupBy + the fused stats


# --------------------------------------------------- Luke document view


def test_document_terms_view(spark):
    from lucene_spark.search.misc import document_terms

    corpus = spark.createDataFrame(
        [(0, "a b a c"), (1, "b d"), (2, "c c c")],
        "doc_id long, text string",
    )
    pidx = InvertedIndex.build(
        corpus, analyzer="simple", docs_per_segment=2, positions=True
    )
    rows = document_terms(pidx, 0, with_positions=True).collect()
    got = {r["term"]: (r["freq"], list(r["positions"])) for r in rows}
    assert got == {"a": (2, [0, 2]), "b": (1, [1]), "c": (1, [3])}
    # freq-only view of another doc
    rows2 = document_terms(pidx, 2).collect()
    assert [(r["term"], r["freq"]) for r in rows2] == [("c", 3)]
    # absent doc -> empty
    assert document_terms(pidx, 99).count() == 0
