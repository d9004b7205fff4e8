"""Matches API analogs: NamedMatches + per-term match positions.

Lucene's Matches API (`core/src/java/org/apache/lucene/search/
Matches.java`, `MatchesIterator.java:33`) exposes, for a hit, WHERE
the query matched: per field, an iterator of (position, offset) match
ranges; `NamedMatches.java:44` wraps sub-queries with labels so a hit
can report WHICH named sub-queries matched (`findNamedMatches`); the
match-highlighter consumes the same surface
(`highlighter/.../matchhighlight/MatchRegionRetriever.java:43`).

Spark re-expression:

- named matches: each named sub-query is a doc set already computed by
  the searcher/postings machinery; labelling is a per-set constant
  column and the per-doc name list is one partial-agg'd
  ``collect_set`` — narrow (doc_id, name) pairs shuffle, never text.
- match positions: the positions index (`decode_positions` — the same
  .pos stream every span/phrase operator reads) already IS the
  MatchesIterator payload; reporting is a projection of (doc_id, term,
  positions), no extra shuffle at all.

At 100 TB both shapes stay bounded: names are O(#sub-queries) per doc
and positions decode only the queried terms' blocks (term-selective
scan via the term dictionary's parquet min/max pruning).
"""

from __future__ import annotations

from typing import Dict, List, Sequence

from pyspark.sql import DataFrame, functions as F

from lucene_spark.index.builder import InvertedIndex
from lucene_spark.search.positional import decode_positions

__all__ = ["named_matches", "term_match_positions"]


def named_matches(
    index: InvertedIndex, named_terms: Dict[str, Sequence[str]]
) -> DataFrame:
    """NamedMatches (`search/NamedMatches.java:44`): wrap each
    sub-query (here: a term disjunction) with a name; per matching
    doc, report the sorted list of named sub-queries that matched it
    (`findNamedMatches`). Returns (doc_id, names, n_matched), doc_id
    asc; docs matching no sub-query are absent, like the parent
    BooleanQuery SHOULD over the wrapped clauses."""
    from lucene_spark.index.postings import read_postings

    parts = []
    for name in sorted(named_terms):
        terms = [t for t in named_terms[name]]
        docs = (
            read_postings(index, terms)
            .select("doc_id")
            .distinct()
            .select("doc_id", F.lit(name).alias("name"))
        )
        parts.append(docs)
    pairs = parts[0]
    for p in parts[1:]:
        pairs = pairs.unionByName(p)
    return (
        pairs.groupBy("doc_id")
        .agg(F.sort_array(F.collect_set("name")).alias("_names"))
        .select(
            "doc_id",
            F.concat_ws("|", "_names").alias("names"),
            F.size("_names").cast("long").alias("n_matched"),
        )
        .orderBy("doc_id")
    )


def term_match_positions(
    index: InvertedIndex, terms: List[str], max_doc: int | None = None
) -> DataFrame:
    """MatchesIterator over term queries
    (`search/MatchesIterator.java:33`, consumed by
    `matchhighlight/MatchRegionRetriever.java:43`): per (doc, term),
    the sorted match positions and their count. This is a pure
    projection of the positions index — the exact payload the
    reference's iterator walks. Returns
    (doc_id, term, positions, freq), (doc_id, term) asc."""
    out = None
    for t in sorted(set(terms)):
        d = decode_positions(index, [t]).select(
            "doc_id", F.lit(t).alias("term"), "positions", "freq"
        )
        out = d if out is None else out.unionByName(d)
    if max_doc is not None:
        out = out.filter(F.col("doc_id") < max_doc)
    return out.select(
        "doc_id",
        "term",
        F.concat_ws(",", F.transform("positions", lambda p: p.cast("string"))).alias(
            "positions"
        ),
        F.col("freq").cast("long").alias("freq"),
    ).orderBy("doc_id", "term")
