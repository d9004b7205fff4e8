"""DirectPostingsFormat analog — uncompressed in-memory hot-term postings.

Reference: `lucene/codecs/src/java/org/apache/lucene/codecs/memory/
DirectPostingsFormat.java:66` — "loads all postings into memory as
simple int[] arrays, giving fast search at the cost of RAM; postings
are decoded up-front at reader open, not per query".

Spark shape
-----------
The hot terms' blocks are decoded ONCE into a persisted
``(doc_id, term, freq, norm)`` DataFrame (Spark's in-memory columnar
cache plays the int[] role, spilling to disk instead of OOMing — the
guard the reference lacks).  Queries over cached terms read
``InMemoryTableScan`` — no block decode; terms outside the cache fall
back to the normal block-decode path and the two frames union.  The
union still crosses to Python once, for the searcher kernel's score
step, and combines with the same plan combine as the block path, so
scores cannot drift between the two.  Hot-set selection defaults to the highest-docFreq terms — the
terms whose decode cost dominates (Zipf), mirroring the reference's
"you pay RAM for your biggest postings" trade-off; the memory bound is
the cached terms' postings count (Σ docFreq of the hot set), chosen by
the caller exactly as the reference's per-field opt-in does.
"""

from __future__ import annotations

from typing import Dict, Iterable, Optional

from pyspark.sql import DataFrame, functions as F

from ..index.builder import InvertedIndex
from ..index.postings import read_postings
from .parity import bm25_topk_f64

__all__ = ["DirectPostingsCache"]


class DirectPostingsCache:
    """Eagerly decoded, persisted postings for a hot-term set."""

    def __init__(
        self,
        index: InvertedIndex,
        terms: Optional[Iterable[str]] = None,
        top_df: Optional[int] = None,
    ):
        if (terms is None) == (top_df is None):
            raise ValueError("pass exactly one of terms / top_df")
        if terms is None:
            terms = [
                r["term"]
                for r in index.terms.orderBy(
                    F.col("doc_freq").desc(), F.col("term").asc()
                )
                .limit(int(top_df))
                .collect()
            ]
        self.index = index
        self.hot_terms = frozenset(terms)
        self.posts = read_postings(index, sorted(self.hot_terms)).persist()
        # materialize now — the reference decodes at reader OPEN, so a
        # query never pays the first-touch cost
        self.num_cached_postings = self.posts.count()

    def postings(self, terms: Iterable[str]) -> DataFrame:
        """(doc_id, term, freq, norm) for ``terms``: cache for the hot
        subset, block decode for the rest, unioned."""
        want = sorted(set(terms))
        hot = [t for t in want if t in self.hot_terms]
        cold = [t for t in want if t not in self.hot_terms]
        parts = []
        if hot:
            parts.append(self.posts.filter(F.col("term").isin(hot)))
        if cold:
            parts.append(read_postings(self.index, cold))
        if not parts:
            return self.posts.filter(F.lit(False))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def bm25_topk(
        self,
        term_boosts: Dict[str, float],
        k: int = 10,
        min_should_match: int = 0,
        must_terms: Optional[list] = None,
        must_not_terms: Optional[list] = None,
        filter_terms: Optional[list] = None,
    ) -> DataFrame:
        """Identical results to :func:`bm25_topk_f64`, served from the
        cache wherever the query's terms are hot: the decoded rows
        replace the plan's blocks (``posts=``)."""
        all_terms = sorted(
            set(term_boosts)
            | set(must_terms or [])
            | set(must_not_terms or [])
            | set(filter_terms or [])
        )
        return bm25_topk_f64(
            self.index,
            term_boosts,
            k=k,
            min_should_match=min_should_match,
            must_terms=must_terms,
            must_not_terms=must_not_terms,
            filter_terms=filter_terms,
            posts=self.postings(all_terms),
        )

    def release(self) -> None:
        self.posts.unpersist()
