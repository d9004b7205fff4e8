"""Correctness checks, run outside every timed span.

Served top-k lists are compared with the DuckDB BM25 oracle
(``search.parity.oracle_bm25_sql``) over the same generated text. The
oracle scores in float64 and rounds to 4 decimals; the engine scores in
float32. A served hit must carry the oracle's score for that document
within ``SCORE_TOL``, and may sit at a rank other than the oracle's only
when the two documents' oracle scores are within ``SWAP_TOL`` (ties
ordered differently by rounding).
"""

from __future__ import annotations

from typing import Dict, List, Sequence, Tuple

Hits = List[Tuple[int, float]]

# float32 BM25 carries ~1e-6 relative error; the oracle rounds to 4 dp
SCORE_TOL_ABS = 1e-4
SCORE_TOL_REL = 1e-5
SWAP_TOL = 1e-4 + 1e-9
# rows fetched beyond k, so a tie at the k-th score can be checked: the
# oracle orders equal scores by float64 noise, the engine by doc_id, and
# serve_heavy's hub pages tie in groups of tens
ORACLE_EXTRA = 500


def topk_matches(served: Hits, oracle: Hits, k: int) -> bool:
    """True when ``served`` is a correct top-k given the oracle's top
    k + ORACLE_EXTRA hits (ordered by score desc, doc_id asc)."""
    if len(served) != min(k, len(oracle)):
        return False
    if len({d for d, _ in served}) != len(served):
        return False
    # the engine orders by its own float32 score desc, then doc_id asc
    for (d0, s0), (d1, s1) in zip(served, served[1:]):
        if (s1, -d1) > (s0, -d0):
            return False
    by_doc: Dict[int, float] = dict(oracle)
    for rank, (doc, score) in enumerate(served):
        want = by_doc.get(doc)
        if want is None:
            return False
        if abs(score - want) > SCORE_TOL_ABS + SCORE_TOL_REL * abs(want):
            return False
        if abs(want - oracle[rank][1]) > SWAP_TOL:
            return False
    return True


def hits(rows) -> Hits:
    return [(int(r["doc_id"]), float(r["score"])) for r in rows]


def oracle_topk(parquet_glob: str, specs: Sequence, vocab: Sequence[str],
                threads: int) -> List[Hits]:
    """The oracle's top k + ORACLE_EXTRA hits of each spec, from DuckDB
    over the staged parquet corpus."""
    import duckdb

    from lucene_spark.search.parity import oracle_bm25_sql

    con = duckdb.connect()
    try:
        con.execute(f"SET threads = {int(threads)}")
        con.execute("CREATE TABLE documents AS SELECT doc_id, text FROM read_parquet(?)",
                    [parquet_glob])
        out = []
        for spec in specs:
            sql = oracle_bm25_sql(k=spec.k + ORACLE_EXTRA, **spec.oracle_args(vocab))
            out.append([(int(d), float(sc)) for d, sc in con.execute(sql).fetchall()])
        return out
    finally:
        con.close()
