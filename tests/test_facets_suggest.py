"""Taxonomy facets + suggesters: counts vs local groupby, prefix/infix
ordering, drill-down prefix semantics.
"""

import pytest
from pyspark.sql import functions as F

from lucene_spark.index import InvertedIndex
from lucene_spark.search.facets import drill_down, taxonomy_children
from lucene_spark.search.suggest import infix_suggest, prefix_suggest

_ROWS = [
    (0, "eu/fr/paris"),
    (1, "eu/fr/lyon"),
    (2, "eu/de/berlin"),
    (3, "eu/fr/paris"),
    (4, "us/ca/sf"),
    (5, "us/ny/nyc"),
    (6, "eu/de/munich"),
    (7, "us/ca/la"),
    (8, "eu"),  # non-leaf doc: counts at root, invisible under eu/*'s children? no — child of root 'eu'; has no level-2 component
]


@pytest.fixture(scope="module")
def cats(spark):
    return spark.createDataFrame(_ROWS, ["doc_id", "cat"]).cache()


def test_root_children(cats):
    got = [(r["child"], r["cnt"]) for r in taxonomy_children(cats, "cat").collect()]
    assert got == [("eu", 6), ("us", 3)]


def test_children_under_path(cats):
    got = [
        (r["child"], r["cnt"])
        for r in taxonomy_children(cats, "cat", ("eu",)).collect()
    ]
    # doc 8 ("eu") has no child component under eu and must not count
    assert got == [("fr", 3), ("de", 2)]
    got = [
        (r["child"], r["cnt"])
        for r in taxonomy_children(cats, "cat", ("eu", "fr")).collect()
    ]
    assert got == [("paris", 2), ("lyon", 1)]


def test_top_n_and_tiebreak(cats):
    got = [(r["child"], r["cnt"]) for r in taxonomy_children(cats, "cat", ("us",), top_n=1).collect()]
    # ca=2, ny=1
    assert got == [("ca", 2)]


def test_drill_down(cats):
    assert {r["doc_id"] for r in drill_down(cats, "cat", ("eu", "fr")).collect()} == {0, 1, 3}
    # prefix is component-wise: "eu" must not match "europa"
    extra = cats.sparkSession.createDataFrame([(9, "europa/x")], ["doc_id", "cat"])
    both = cats.unionByName(extra)
    assert {r["doc_id"] for r in drill_down(both, "cat", ("eu",)).collect()} == {
        0, 1, 2, 3, 6, 8,
    }


@pytest.fixture(scope="module")
def index(spark):
    docs = spark.createDataFrame(
        [
            (0, "spark sharp share spoon"),
            (1, "spark spark share market"),
            (2, "market garden spark"),
            (3, "spoon garden sharp"),
        ],
        ["doc_id", "text"],
    )
    return InvertedIndex.build(docs, analyzer="simple", docs_per_segment=4)


def test_prefix_suggest(index):
    got = [(r["term"], r["weight"]) for r in prefix_suggest(index, "sp", n=10).collect()]
    # spark df=3, spoon df=2; weight desc then term asc
    assert got == [("spark", 3), ("spoon", 2)]


def test_infix_suggest(index):
    got = [(r["term"], r["weight"]) for r in infix_suggest(index, "ar", n=10).collect()]
    # market df=2, sharp df=2, spark df=3, garden df=2, share df=2
    assert got[0] == ("spark", 3)
    assert set(got[1:]) == {("garden", 2), ("market", 2), ("share", 2), ("sharp", 2)}
    terms = [t for t, _ in got[1:]]
    assert terms == sorted(terms)


# --- FreeTextSuggester (stupid-backoff ngram LM) ---------------------------


def test_freetext_backoff_scores(spark):
    import pandas as pd

    from lucene_spark.search.suggest import build_freetext_model, freetext_suggest

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "text": [
                    "hash join fast hash join slow",
                    "hash jump table",
                    "merge join hash",
                    "jolly jam",
                ]
            }
        )
    )
    m = build_freetext_model(docs, n=3).persist()
    # bigram level: hash->join 2/4, hash->jump 1/4; unigram backoff
    # 0.4*cnt/14 for unseen last tokens
    got = [
        (r["suggestion"], r["score"])
        for r in freetext_suggest(m, "hash j", k=5).collect()
    ]
    assert got[0] == ("hash join", 0.5)
    assert got[1] == ("hash jump", 0.25)
    assert ("hash jam", round(0.4 * 1 / 14, 6)) in got[2:]
    # trigram context: fast hash -> join is deterministic 1/1
    tri = freetext_suggest(m, "fast hash j", k=3).collect()
    assert (tri[0]["suggestion"], tri[0]["score"]) == ("fast hash join", 1.0)
    # unseen context backs off straight to unigrams with alpha applied
    z = freetext_suggest(m, "zzz j", k=3).collect()
    assert z[0]["suggestion"] == "zzz join"
    assert z[0]["score"] == round(0.4 * 3 / 14, 6)
    m.unpersist()


def test_freetext_dedup_across_levels(spark):
    import pandas as pd

    from lucene_spark.search.suggest import build_freetext_model, freetext_suggest

    docs = spark.createDataFrame(
        pd.DataFrame({"text": ["a b", "a b", "c b", "a d"]})
    )
    m = build_freetext_model(docs, n=2)
    rows = freetext_suggest(m, "a ", k=10).collect()
    # 'b' suggested once (bigram level), not re-added by unigrams
    assert [r["suggestion"] for r in rows].count("a b") == 1


# ----------------------------------------------- dictionary input adapters


def test_file_dictionary(spark, tmp_path):
    from lucene_spark.search.suggest import file_dictionary

    lines = ["apple\t50\tfruit", "banana\t3.9", "cherry"]
    rows = {
        r["term"]: (r["weight"], r["payload"])
        for r in file_dictionary(spark, lines).collect()
    }
    assert rows["apple"] == (50, "fruit")
    # double weight truncates toward zero like Java's (long) cast
    assert rows["banana"] == (3, None)
    assert rows["cherry"] == (1, None)


def test_file_dictionary_too_many_fields(spark):
    import pytest

    from lucene_spark.search.suggest import file_dictionary

    # the error is LAZY (single pass, like the reference raising during
    # iteration) — it surfaces when the frame evaluates
    with pytest.raises(Exception):
        file_dictionary(spark, ["a\t1\tp\textra"]).collect()


def test_file_dictionary_unparsable_weight(spark):
    import pytest

    from lucene_spark.search.suggest import file_dictionary

    # a weight that is neither long nor double raises (the reference's
    # NumberFormatException), lazily like the >3-fields check
    frame = file_dictionary(spark, ["ok\t2.5", "term\tabc"])
    with pytest.raises(Exception, match="Unparsable weight: abc"):
        frame.collect()
    rows = file_dictionary(spark, ["ok\t2.5", "x\t7", "solo"]).collect()
    assert sorted((r["term"], r["weight"]) for r in rows) == [("ok", 2), ("solo", 1), ("x", 7)]


def test_plain_text_dictionary(spark, tmp_path):
    from lucene_spark.search.suggest import plain_text_dictionary

    p = tmp_path / "words.txt"
    p.write_text("alpha\nbeta\n")
    rows = plain_text_dictionary(spark, str(p)).orderBy("term").collect()
    assert [(r["term"], r["weight"]) for r in rows] == [("alpha", 1), ("beta", 1)]


def test_file_dictionary_literal_regex_delimiter(spark):
    # review finding: the delimiter is a LITERAL, not a Java regex
    from lucene_spark.search.suggest import file_dictionary

    rows = {
        r["term"]: r["weight"]
        for r in file_dictionary(spark, ["apple|7", "pear"], field_delimiter="|").collect()
    }
    assert rows == {"apple": 7, "pear": 1}


def test_file_dictionary_lazy_validation(spark):
    from lucene_spark.search.suggest import file_dictionary

    # the >3-field error now surfaces lazily at evaluation, single pass
    df = file_dictionary(spark, ["a\t1\tp\textra"])
    import pytest

    with pytest.raises(Exception):
        df.collect()
