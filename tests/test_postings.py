"""The shared posting-block decoder (`lucene_spark.index.postings`):
encode → decode round trips, the searcher's decode+score kernel at
both weight dtypes, the doc-range skip and trim of ``read_postings``,
and a guard that keeps block decoding in one module. The re-encoders' CheckIndex checks ride on their existing tests
(test_index_build, test_bpmerge, test_payloads)."""

import ast
import dataclasses
import math
import pathlib

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from lucene_spark.functions.bm25 import BM25
from lucene_spark.functions.smallfloat import byte4_to_int
from lucene_spark.index import InvertedIndex
from lucene_spark.index.builder import BLOCKS_SCHEMA_PAY, NORMS_TERM, _encode_term_group
from lucene_spark.index.postings import decode_blocks, read_postings
from lucene_spark.search.parity import _f64_weights
from lucene_spark.search.searcher import _Ctx, _decode_score

# --- kernel round trip (pure numpy) -----------------------------------------


def _group(term, docs, freqs, norms, positions=None, payloads=None):
    """Per-posting rows of one (segment, term) → (input rows, block rows)."""
    flat = pd.DataFrame(
        {"segment_id": 0, "term": term, "doc_id": docs, "freq": freqs, "norm": norms}
    )
    if positions is not None:
        flat["positions"] = positions
    if payloads is not None:
        flat["payloads"] = payloads
    return flat, _encode_term_group(flat)


def _assert_roundtrip(flat, blocks, empty_positions=False):
    p = decode_blocks(blocks)
    assert p.lens.tolist() == blocks["num_docs"].tolist()
    assert p.doc_id.tolist() == flat["doc_id"].tolist()
    assert p.freq.tolist() == flat["freq"].tolist()
    assert p.norm.tolist() == flat["norm"].tolist()
    if "positions" in flat:
        want = [[] for _ in range(len(flat))] if empty_positions else flat["positions"]
        assert [x.tolist() for x in p.positions] == [list(x) for x in want]
    if "payloads" in flat:
        want = [[] for _ in range(len(flat))] if empty_positions else flat["payloads"]
        assert [x.tolist() for x in p.payloads] == [
            np.asarray(x, np.float32).tolist() for x in want
        ]


@st.composite
def _postings(draw):
    n = draw(st.integers(1, 300))
    docs = np.cumsum(draw(st.lists(st.integers(1, 1000), min_size=n, max_size=n)))
    norms = draw(st.lists(st.integers(0, 255), min_size=n, max_size=n))
    # large freqs force PFor exception patches (freq-only blocks)
    big = draw(st.lists(st.integers(1, 4) | st.integers(5, 70_000), min_size=n, max_size=n))
    positions, payloads = [], []
    for _ in range(n):
        m = draw(st.integers(1, 6))
        positions.append(np.cumsum(draw(st.lists(st.integers(0, 50), min_size=m, max_size=m))))
        payloads.append(draw(st.lists(st.floats(-1e3, 1e3, width=32), min_size=m, max_size=m)))
    return docs, big, norms, positions, payloads


@settings(max_examples=25, deadline=None)
@given(_postings())
def test_decode_blocks_roundtrip(data):
    docs, big, norms, positions, payloads = data
    freqs = [len(p) for p in positions]  # a posting's freq = its position count
    flat, blocks = _group("t", docs, freqs, norms, positions, payloads)
    _assert_roundtrip(flat, blocks)
    flat, blocks = _group("t", docs, big, norms)
    _assert_roundtrip(flat, blocks)


def test_decode_blocks_edge_blocks():
    # a single-posting block
    flat, blocks = _group("t", [7], [3], [9], [np.array([0, 4, 9])], [[1.0, 2.0, 3.0]])
    assert len(blocks) == 1
    _assert_roundtrip(flat, blocks)
    # exactly one full block of 128 postings, with PFor exception patches
    freqs = [1] * 128
    freqs[5], freqs[77] = 40_000, 1_000
    flat, blocks = _group("t", np.arange(0, 256, 2), freqs, [1] * 128)
    assert blocks["num_docs"].tolist() == [128]
    assert bytes(blocks["freqs_packed"].iloc[0])[:1] == b"P"
    _assert_roundtrip(flat, blocks)


def test_decode_blocks_norms_rows_get_empty_lists():
    # NORMS_TERM rows: freq = doc length, empty position/payload streams
    docs, dls = np.arange(200), np.arange(1, 201)
    norms_flat, norms_blocks = _group(
        NORMS_TERM, docs, dls, [3] * 200, [[]] * 200, [[]] * 200
    )
    _assert_roundtrip(norms_flat, norms_blocks, empty_positions=True)
    # mixed with a real term in one batch: the cumsum split stays aligned
    term_flat, term_blocks = _group(
        "t", [1, 5], [2, 1], [4, 4], [np.array([0, 3]), np.array([2])], [[0.5, 1.5], [2.5]]
    )
    p = decode_blocks(pd.concat([norms_blocks, term_blocks], ignore_index=True))
    assert [x.tolist() for x in p.positions] == [[]] * 200 + [[0, 3], [2]]
    assert [x.tolist() for x in p.payloads] == [[]] * 200 + [[0.5, 1.5], [2.5]]


def test_decode_blocks_only_decodes_present_columns():
    _, blocks = _group("t", [1, 2, 3], [1, 2, 3], [5, 5, 5])
    p = decode_blocks(blocks[["docs_packed"]])
    assert p.doc_id.tolist() == [1, 2, 3]
    assert p.freq is None and p.norm is None and p.positions is None


# --- Spark operator over one small block frame --------------------------------


def _three_term_blocks() -> pd.DataFrame:
    """Three terms over 300 docs (3 blocks each), positions + payloads,
    encoded by the build's own kernel."""
    rng = np.random.RandomState(7)
    groups = []
    for t in ("alpha", "beta", "gamma"):
        docs = np.sort(rng.choice(300, 290, replace=False))
        pos = [np.cumsum(rng.randint(1, 5, size=rng.randint(1, 4))) for _ in docs]
        pay = [list(rng.randint(1, 9, size=len(p)) / 4) for p in pos]
        groups.append(_group(t, docs, [len(p) for p in pos], rng.randint(0, 256, 290), pos, pay)[1])
    return pd.concat(groups, ignore_index=True)


def test_decode_score_kernel_dtypes():
    """The searcher's kernel on float32 weights is Lucene's BM25 bit for
    bit; on float64 weights it is the parity formula at 4 dp."""
    blocks = _three_term_blocks()
    p = decode_blocks(blocks)
    term = np.repeat(blocks["term"].values, p.lens)
    n, sttf = 300, 2000
    stats = {"alpha": 290, "beta": 41, "gamma": 3}
    boosts = {"alpha": 1.0, "beta": 0.5, "gamma": 2.5}
    bm = {t: BM25(stats[t], n, sttf, boost=b) for t, b in boosts.items()}
    names = list(bm)

    docs, term_of, f32 = _decode_score(blocks, {t: (s.weight, s.cache) for t, s in bm.items()})
    assert f32.dtype == np.float32 and docs.tolist() == p.doc_id.tolist()
    assert (np.array(names)[term_of] == term).all()
    for t in names:
        want = bm[t].score(p.freq[term == t], p.norm[term == t])
        assert f32[term == t].tobytes() == want.tobytes()

    ctx = _Ctx(n, sttf, {t: (d, 0) for t, d in stats.items()}, k1=1.2, b=0.75)
    _, _, f64 = _decode_score(blocks, _f64_weights(ctx, boosts))
    assert f64.dtype == np.float64
    idf = np.array([math.log(1 + (n - stats[t] + 0.5) / (stats[t] + 0.5)) for t in names])
    w = np.array([boosts[t] for t in names])[term_of] * idf[term_of]
    dl_q = byte4_to_int(p.norm.astype(np.int64))
    freq = p.freq.astype(np.float64)
    want = w * freq / (freq + 1.2 * (1 - 0.75 + 0.75 * dl_q / (sttf / n)))
    assert np.round(f64, 4).tolist() == np.round(want, 4).tolist()


@pytest.fixture(scope="module")
def pay_index(spark):
    """:func:`_three_term_blocks` as an index, no build job needed."""
    blocks = spark.createDataFrame(_three_term_blocks(), BLOCKS_SCHEMA_PAY)
    return InvertedIndex(
        spark=spark, blocks=blocks, terms=None, norms=None, doc_count=300,
        sum_total_term_freq=0, docs_per_segment=300, num_segments=1, metrics={},
        has_positions=True, has_payloads=True,
    )


def _rows(df):
    return sorted(
        (r["term"], r["doc_id"], r["freq"], r["norm"], tuple(r["positions"]), tuple(r["payloads"]))
        for r in df.collect()
    )


def test_read_postings_doc_range_skips_and_trims(pay_index):
    lo, hi = 140, 180
    full = _rows(read_postings(pay_index, payloads=True))
    want = [r for r in full if lo <= r[1] <= hi]
    assert 0 < len(want) < len(full)
    # blocks outside [lo, hi] hold undecodable bytes: reading them fails,
    # so a clean ranged read proves they were skipped before decode
    outside = (F.col("max_doc") < lo) | (F.col("first_doc") > hi)
    assert pay_index.blocks.filter(outside).count() > 0
    broken = dataclasses.replace(
        pay_index,
        blocks=pay_index.blocks.withColumn(
            "docs_packed",
            F.when(outside, F.lit(bytearray(b"garbage"))).otherwise(F.col("docs_packed")),
        ),
    )
    with pytest.raises(Exception):
        read_postings(broken).count()
    got = _rows(read_postings(broken, payloads=True, doc_range=(lo, hi), max_tasks=1))
    assert got == want


def test_read_postings_flags(pay_index):
    assert read_postings(pay_index, ["alpha"]).columns == ["doc_id", "term", "freq", "norm"]
    assert read_postings(pay_index, ["alpha"], positions=True).columns[-1] == "positions"
    assert read_postings(pay_index, ["alpha"], payloads=True).columns[-2:] == [
        "positions",
        "payloads",
    ]
    with pytest.raises(ValueError, match="positions=True"):
        read_postings(dataclasses.replace(pay_index, has_positions=False), positions=True)


# --- tooling guard -----------------------------------------------------------

_DECODERS = {"fordelta_decode", "pfor_decode", "for_decode_stream"}
_ALLOWED = {
    "functions/forutil.py",
    "index/postings.py",
    "index/check.py",  # validates each block on its own
    "index/backward.py",  # reads the retired v1 format
}


def test_block_decoders_live_in_one_module():
    """Posting blocks are decoded through ``index.postings`` only; a new
    hand-rolled decode loop elsewhere fails here."""
    root = pathlib.Path(__file__).resolve().parent.parent / "lucene_spark"
    offenders = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel in _ALLOWED:
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            names = set()
            if isinstance(node, ast.ImportFrom):
                names = {a.name for a in node.names}
            elif isinstance(node, ast.Attribute):
                names = {node.attr}
            elif isinstance(node, ast.Name):
                names = {node.id}
            if names & _DECODERS:
                offenders.append(f"{rel}:{node.lineno}")
    assert not offenders, offenders
