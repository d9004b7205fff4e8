"""Seeded inputs: corpora and query streams for every workload.

Everything here is a pure function of its arguments (the seed above
all), so the same seed gives the same inputs on any machine. Query pools
have the same mix of shapes for every seed; only the terms change, which
keeps per-run medians comparable across seeds.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Dict, List, Sequence, Tuple

import numpy as np

# serve_light / ingest_merge use the repo corpus generator with a
# 1000-word vocabulary (``lucene_spark.corpus.build_vocab``) and draw query
# terms from it. Entries [150, 1000) are the "termNNNNN" words whose
# expected document frequency on a max_len=500 corpus is 0.8%..5.5%;
# [150, 250) are the mid-df ones (3.3%..5.5%) that conjunctions intersect.
LIGHT_VOCAB_SIZE = 1000
# vocabulary index bands per query shape: narrow, so a query's cost
# depends little on the seed ("termNNNNN" words start at index 86; the
# expected df falls from 5.5% at index 150 to 0.8% at index 999)
LIGHT_BANDS = {
    "term": (300, 400),
    "or3": (600, 900),
    "and_not": (150, 250),
}
# 4-digit prefixes "term0NNN": ten expansions each, vocabulary index 316..515
LIGHT_PREFIXES = (23, 43)


@dataclass(frozen=True)
class QuerySpec:
    """One top-k query: scored SHOULD/MUST terms, excluded MUST_NOT terms,
    or a prefix expanded to a scoring term disjunction."""

    shape: str
    should: Tuple[str, ...] = ()
    must: Tuple[str, ...] = ()
    must_not: Tuple[str, ...] = ()
    prefix: str = ""
    k: int = 10

    def terms(self, vocab: Sequence[str]) -> List[str]:
        """Scored terms (prefix expansion taken from the generator's vocab)."""
        if self.prefix:
            return [t for t in vocab if t.startswith(self.prefix)]
        return list(self.should) + list(self.must)

    def to_query(self):
        from lucene_spark.search import (
            BooleanClause,
            BooleanQuery,
            Occur,
            PrefixQuery,
            TermQuery,
        )

        if self.prefix:
            return PrefixQuery(self.prefix, rewrite_method="scoring_boolean")
        clauses = (
            [BooleanClause(TermQuery(t), Occur.SHOULD) for t in self.should]
            + [BooleanClause(TermQuery(t), Occur.MUST) for t in self.must]
            + [BooleanClause(TermQuery(t), Occur.MUST_NOT) for t in self.must_not]
        )
        if len(clauses) == 1:
            return clauses[0].query
        return BooleanQuery.of(*clauses)

    def oracle_args(self, vocab: Sequence[str]) -> Dict[str, object]:
        """Keyword arguments for ``search.parity.oracle_bm25_sql``."""
        return {
            "term_boosts": {t: 1.0 for t in self.terms(vocab)},
            "must_terms": list(self.must),
            "must_not_terms": list(self.must_not),
        }

    @property
    def wandable(self) -> bool:
        """A pure scored disjunction: the only shape WAND can serve."""
        return not self.must and not self.must_not and (len(self.should) > 1 or bool(self.prefix))


def _pick(rng: np.random.Generator, vocab: Sequence[str], shape: str, n: int) -> Tuple[str, ...]:
    idx = rng.choice(np.arange(*LIGHT_BANDS[shape]), size=n, replace=False)
    return tuple(str(vocab[i]) for i in idx)


def light_pool(seed: int, vocab: Sequence[str]) -> List[QuerySpec]:
    """Rare/mid-df queries, k=10: a single term, a 3-term disjunction, a
    must/must_not conjunction and a prefix."""
    rng = np.random.default_rng([seed, 1])
    a, b, c = _pick(rng, vocab, "and_not", 3)
    return [
        QuerySpec("term", should=_pick(rng, vocab, "term", 1)),
        QuerySpec("and_not", must=(a, b), must_not=(c,)),
        QuerySpec("prefix", prefix=f"term0{int(rng.integers(*LIGHT_PREFIXES)):03d}"),
        QuerySpec("or3", should=_pick(rng, vocab, "or3", 3)),
    ]


# ---------------------------------------------------------------------------
# serve_heavy corpus: host-ordered documents with topical tf skew.
#
# Every document belongs to one host; docIDs run host by host, as in a
# URL-sorted index. The head terms split into HEAVY_TOPICS topics, and
# host h is about topic h % HEAVY_TOPICS. Outside its topic a head term
# appears at most once, with a per-term probability, so each head term
# has a high document frequency (40%..85%). Inside the topic it appears
# once or twice, except in the first HEAVY_HUB documents (the "hub") of
# the topic's last host, which repeat every topic term HEAVY_HUB_TF times. So a
# topic query's highest-impact blocks are the hub's blocks for every one
# of its terms: block-max WAND's θ bootstrap finds the real top scores
# there and can prune the other blocks, which a corpus with uniform term
# statistics never allows. (Hubs in every host would not do: document
# length normalisation cancels a host-wide tf boost, so each term's top
# blocks would fall in different hubs.)

HEAVY_HEADS = 24
HEAVY_TOPICS = 4
HEAVY_HOSTS = 48
HEAVY_HUB = 256
HEAVY_HUB_TF = 10
HEAVY_FILLER_VOCAB = 500


def heavy_vocab() -> Tuple[List[str], List[str]]:
    heads = [f"head{j:02d}" for j in range(HEAVY_HEADS)]
    filler = [f"w{j:04d}" for j in range(HEAVY_FILLER_VOCAB)]
    return heads, filler


def heavy_topics(seed: int) -> np.ndarray:
    """topic → its head-term indices (a seeded partition), ordered by the
    term's presence probability outside the topic: every topic's k-th term
    has probability HEAVY_PRESENCE[k], so topics cost alike."""
    rng = np.random.default_rng([seed, 3])
    return rng.permutation(HEAVY_HEADS).reshape(HEAVY_TOPICS, -1)


# presence probability of a topic's k-th head term outside the topic:
# df = 1/T + (1 - 1/T) * p spans 0.4..0.85
HEAVY_PRESENCE = np.linspace(0.2, 0.8, HEAVY_HEADS // HEAVY_TOPICS)


def heavy_corpus(n_docs: int, seed: int) -> Tuple[np.ndarray, List[str]]:
    """(doc_ids, texts) of the serve_heavy corpus; docIDs in host order."""
    rng = np.random.default_rng([seed, 4])
    heads, filler = heavy_vocab()
    topics = heavy_topics(seed)
    doc = np.arange(n_docs)
    host = (doc * HEAVY_HOSTS) // n_docs
    host_start = (np.arange(HEAVY_HOSTS) * n_docs + HEAVY_HOSTS - 1) // HEAVY_HOSTS
    in_hub = (doc - host_start[host] < HEAVY_HUB) & (host >= HEAVY_HOSTS - HEAVY_TOPICS)
    p = np.empty(HEAVY_HEADS)
    p[topics] = HEAVY_PRESENCE
    tf = (rng.random((n_docs, HEAVY_HEADS)) < p).astype(np.int64)
    topical = np.zeros((n_docs, HEAVY_HEADS), dtype=bool)
    topical[doc[:, None], topics[host % HEAVY_TOPICS]] = True
    tf[topical] = rng.integers(1, 3, int(topical.sum()))
    hub = topical & in_hub[:, None]
    # hub pages carry every topic term equally often, so the hub's top
    # documents score near the maximum on all of a query's terms at once
    tf[hub] = HEAVY_HUB_TF
    head_tokens = np.repeat(np.tile(np.arange(HEAVY_HEADS), n_docs), tf.ravel())
    head_words = np.asarray(heads, dtype=object)[head_tokens]
    head_bounds = np.concatenate([[0], np.cumsum(tf.sum(axis=1))])
    # filler: 5..10 Zipf-distributed words
    lens = rng.integers(5, 11, n_docs)
    ranks = np.minimum(rng.zipf(1.3, int(lens.sum())) - 1, HEAVY_FILLER_VOCAB - 1)
    fill_words = np.asarray(filler, dtype=object)[ranks]
    fill_bounds = np.concatenate([[0], np.cumsum(lens)])
    texts = [
        " ".join(head_words[head_bounds[i]:head_bounds[i + 1]])
        + " "
        + " ".join(fill_words[fill_bounds[i]:fill_bounds[i + 1]])
        for i in range(n_docs)
    ]
    return doc.astype(np.int64), texts


# (shape, k, positions in the topic's presence order): fixed, so every
# seed's queries carry the same posting volumes
HEAVY_SHAPES = (
    ("or4", 10, (1, 3, 4, 5)),
    ("and3", 100, (1, 3, 5)),
    ("or6", 100, (0, 1, 2, 3, 4, 5)),
)


def heavy_pool(seed: int) -> List[QuerySpec]:
    """Head-term queries within one topic: 4- and 6-term disjunctions and
    a 3-term conjunction, k in {10, 100}."""
    rng = np.random.default_rng([seed, 5])
    heads, _ = heavy_vocab()
    topics = heavy_topics(seed)
    pool: List[QuerySpec] = []
    for shape, k, ranks in HEAVY_SHAPES:
        topic = topics[int(rng.integers(HEAVY_TOPICS))]
        terms = tuple(heads[topic[r]] for r in ranks)
        if shape.startswith("and"):
            pool.append(QuerySpec(shape, must=terms, k=k))
        else:
            pool.append(QuerySpec(shape, should=terms, k=k))
    return pool


def sample_rows(n_total: int, n: int, seed: int) -> np.ndarray:
    """Sorted distinct row indices for probes that sample the corpus."""
    rng = np.random.default_rng([seed, 6])
    return np.sort(rng.choice(n_total, size=min(n, n_total), replace=False))


def light_vocab() -> List[str]:
    from lucene_spark.corpus import build_vocab

    return [str(t) for t in build_vocab(LIGHT_VOCAB_SIZE)]
