#!/usr/bin/env python
"""Physical-plan audit: assert the plans we want, record them.

For each headline operation, captures `.explain("formatted")` and
checks the properties that matter at 100 TB:

- term-filtered block scans of an on-disk index PUSH the term predicate
  into the parquet scan (PushedFilters) and PRUNE to the needed columns
  (ReadSchema) — the FST-seek analog;
- top-k is TakeOrderedAndProject (bounded heap per partition + merge),
  never a global sort;
- the BM25 parity scorer runs the searcher's plan: one decode+score
  pass and no lookup-table join;
- scan→filter→project pipelines run inside WholeStageCodegen;
- the WAND prune filter is JVM-side (no BatchEvalPython/ArrowEvalPython
  in the block-metadata pass).

Writes PLANS.md with the verdict table + plan excerpts. Exits 1 if an
assertion fails.
"""

from __future__ import annotations

import io
import os
import re
import sys
import tempfile
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import SparkSession, functions as F  # noqa: E402

SF = os.environ.get("PLAN_SF_DIR", "/root/testdata/sf0.01")


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from lucene_spark.index import InvertedIndex
    from lucene_spark.search import IndexSearcher, TermQuery

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    idx = InvertedIndex.build(docs, analyzer="simple", docs_per_segment=512)
    tmp = tempfile.mkdtemp(prefix="planaudit_")
    idx.save(tmp)
    disk_idx = InvertedIndex.load(spark, tmp)

    checks = []  # (name, ok, detail, excerpt)

    # 1. term-filtered scan of the on-disk blocks table
    scan = disk_idx.blocks.filter(F.col("term") == "spark").select(
        "term", "docs_packed", "freqs_packed", "norms_raw"
    )
    p = plan_of(scan)
    pushed = bool(re.search(r"PushedFilters: \[.*(EqualTo|IsNotNull)\(term", p))
    pruned = "impact_freqs" not in p.split("ReadSchema")[-1]
    checks.append(
        (
            "term filter pushed to parquet scan",
            pushed,
            "PushedFilters contains term predicate",
            p,
        )
    )
    checks.append(
        (
            "column pruning (no impacts read for decode scan)",
            pruned,
            "ReadSchema excludes impact columns",
            "",
        )
    )

    # 2. top-k plan = TakeOrderedAndProject on the distributed route (a
    # small term query otherwise takes the local route, whose hits come
    # back as a LocalTableScan with no Spark top-k to audit)
    searcher = IndexSearcher(idx)
    searcher._LOCAL_MAX_POSTINGS = 0
    topk = searcher.search(TermQuery("spark"), 10, "exhaustive")
    p2 = plan_of(topk)
    checks.append(
        (
            "top-k is TakeOrderedAndProject (no global sort)",
            "TakeOrderedAndProject" in p2,
            "bounded per-partition heap + driver merge",
            p2,
        )
    )

    # 3. the parity scorer is the searcher's plan: one Arrow decode+score
    # pass over the term's blocks, JVM combine, no lookup-table joins
    from lucene_spark.search.parity import bm25_topk_f64

    p3 = plan_of(bm25_topk_f64(idx, {"spark": 1.0}, k=10))
    n_py3 = len(re.findall(r"\(\d+\) (?:ArrowEvalPython|BatchEvalPython|MapInPandas)", p3))
    n_join3 = len(re.findall(r"\(\d+\) \w*Join", p3))
    checks.append(
        (
            "BM25 parity: one decode+score pass, no join",
            n_py3 == 1 and n_join3 == 0,
            f"{n_py3} Python node(s), want exactly 1; {n_join3} join(s)",
            p3,
        )
    )

    # 3b. a one-term parity query is a plain per-doc sum: its docs have
    # one posting each, so the plan carries no aggregation and no
    # shuffle (cut at the cache boundary: the cached blocks embed the
    # build's plan)
    n_ex3 = p3.split("InMemoryRelation", 1)[0].count("Exchange")
    checks.append(
        (
            "BM25 parity one-term plan: no aggregation, no Exchange",
            n_ex3 == 0 and "HashAggregate" not in p3.split("InMemoryRelation", 1)[0],
            f"{n_ex3} Exchange(s) above the cached blocks",
            "",
        )
    )

    # 3c. f64 phrase parity: the phrase-freq rows score in ONE
    # MapInPandas (the searcher's kernel, (doc_id, term, freq, norm) →
    # (doc_id, term, score)) with no join on a norm→dl_q table
    from lucene_spark.search.parity import phrase_bm25_f64

    pos_idx = InvertedIndex.build(docs, analyzer="simple", docs_per_segment=512, positions=True)
    p3c = plan_of(phrase_bm25_f64(pos_idx, ["hash", "join"], k=10))
    n_kernel = 0
    for m in re.finditer(r"\(\d+\) MapInPandas\nInput \[\d+\]: \[([^\]]*)\]\nArguments: ([^\n]*)", p3c):
        cols_in = [c.split("#")[0] for c in m.group(1).split(", ")]
        cols_out = [c.split("#")[0] for c in m.group(2).rsplit("[", 1)[1].split("]")[0].split(", ")]
        n_kernel += cols_in == ["doc_id", "term", "freq", "norm"] and cols_out == ["doc_id", "term", "score"]
    checks.append(
        (
            "f64 phrase parity: one kernel MapInPandas over phrase freqs, no dl_q join",
            n_kernel == 1 and "dl_q" not in p3c,
            f"{n_kernel} scoring MapInPandas node(s), want exactly 1; dl_q "
            + ("absent" if "dl_q" not in p3c else "present"),
            p3c,
        )
    )
    pos_idx.unpersist()

    # 4. facet agg: map-side partial aggregation + batched columnar scan
    # (AQE's pre-execution formatted plan hides codegen annotations, so
    # codegen is probed via explain(codegen) separately)
    facet = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt"))
    p4 = plan_of(facet)
    buf = io.StringIO()
    with redirect_stdout(buf):
        facet.explain("codegen")
    p4c = buf.getvalue()
    checks.append(
        (
            "facet agg: map-side combine + columnar scan",
            "partial_count" in p4 and "Batched: true" in p4,
            "partial_count before the exchange",
            p4,
        )
    )
    checks.append(
        (
            "facet agg compiles to WholeStageCodegen",
            "WholeStageCodegen" in p4c,
            "explain(codegen) emits generated stages",
            "",
        )
    )

    # 5. WAND block-metadata pass has no Python eval
    from lucene_spark.functions.bm25 import BM25

    s = BM25(doc_freq=10, doc_count=idx.doc_count, sum_total_term_freq=idx.sum_total_term_freq)
    cache_arr = F.array(*[F.lit(float(x)) for x in s.cache])
    ub = (
        F.lit(float(s.weight))
        - F.lit(float(s.weight))
        / (
            F.lit(1.0)
            + F.array_max(
                F.zip_with(
                    "impact_freqs",
                    "impact_norms",
                    lambda fr, nm: fr.cast("double") * F.element_at(cache_arr, nm + 1),
                )
            )
        )
    )
    meta = disk_idx.blocks.select("term", "segment_id", "block_ord", "impact_freqs", "impact_norms").withColumn("ub", ub)
    p5 = plan_of(meta.filter(F.col("ub") > 0.5))
    no_python = "EvalPython" not in p5
    checks.append(
        (
            "WAND block-prune pass fully JVM-side",
            no_python,
            "no BatchEvalPython/ArrowEvalPython in metadata pass",
            p5,
        )
    )

    # 8. aligned build: zero shuffle — the whole kernel pipeline must
    # contain NO Exchange (the hash layout's corpus repartition is the
    # single largest data movement of the build at web scale)
    from lucene_spark.index.builder import BLOCKS_SCHEMA, _aligned_build_kernel

    src = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    ).withColumn("segment_id", (F.col("doc_id") / 512).cast("long"))
    aligned_df = src.sortWithinPartitions("doc_id").mapInPandas(
        _aligned_build_kernel("simple", False), BLOCKS_SCHEMA
    )
    p = plan_of(aligned_df)
    checks.append(
        (
            "aligned build plan has no shuffle Exchange",
            "Exchange" not in p,
            "sortWithinPartitions + mapInPandas, zero exchanges",
            p,
        )
    )

    # 9. payload scoring: the term predicate restricts the block scan
    # BEFORE the Arrow decode (the .pay read never touches other
    # terms' blocks), and the payload aggregate is a JVM higher-order
    # function (no Python after the decode node)
    from lucene_spark.analysis.filters import delimited_payload_analyzer
    from lucene_spark.search.payloads import payload_score_topk

    pay_docs = docs.limit(200).withColumn(
        "text",
        F.concat_ws(
            " ",
            F.expr(
                "transform(split(text, ' '), (t, i) -> concat(t, '|', cast(i AS string)))"
            ),
        ),
    )
    pay_idx = InvertedIndex.build(
        pay_docs,
        analyzer=delimited_payload_analyzer(),
        positions=True,
        payloads=True,
        docs_per_segment=512,
    )
    p9 = plan_of(payload_score_topk(pay_idx, "hash", func="avg", k=10))
    # exactly one Python (Arrow) node on the QUERY path: the block
    # decode; the aggregate + top-k around it must be JVM-side. The
    # cached InMemoryRelation embeds the BUILD kernel's plan — cut at
    # the cache boundary so only the per-query path is counted.
    query_path = p9.split("InMemoryRelation", 1)[0]
    n_py = len(
        re.findall(r"EvalPython|MapInPandas|FlatMapGroupsInPandas", query_path)
    )
    checks.append(
        (
            "payload scoring: one Arrow decode, JVM aggregate + top-k",
            n_py <= 1 and "TakeOrderedAndProject" in p9,
            f"{n_py} Python node(s); TakeOrderedAndProject present",
            p9,
        )
    )

    # 10. multi-term constant-score above the clause cap: the matched
    # term set must stay distributed (semi join), never a driver isin
    # literal over the dictionary
    from lucene_spark.search.query import MultiTermFilterDocsQuery, PrefixQuery
    from lucene_spark.search.searcher import IndexSearcher as _IS

    s10 = _IS(idx)
    q10 = MultiTermFilterDocsQuery(PrefixQuery("s"))
    ctx10 = s10._bind(q10)
    p10 = plan_of(s10._matching_docs(q10, ctx10))
    has_join = "Join" in p10
    no_isin = not re.search(r"IN \([^)]{2000,}", p10)
    checks.append(
        (
            "multi-term semi-join path keeps term set distributed",
            has_join and no_isin,
            "join present, no multi-KB IN literal",
            p10,
        )
    )

    # 11. conjunction pruning is pure JVM: block metadata semi-joined
    # against broadcast lead-block (interval ∧ zone-bitmap) — no Python
    # eval node, no driver materialization of lead postings (round-4
    # rework; previously the lead doc list round-tripped via toPandas)
    from lucene_spark.search import BooleanClause, BooleanQuery, Occur

    s11 = _IS(idx)
    q11 = BooleanQuery.of(
        BooleanClause(TermQuery("dup"), Occur.MUST),
        BooleanClause(TermQuery("hash"), Occur.SHOULD),
        BooleanClause(TermQuery("join"), Occur.SHOULD),
    )
    ctx11 = s11._bind(q11)
    flat11 = [
        (Occur.MUST, ["dup"]),
        (Occur.SHOULD, ["hash"]),
        (Occur.SHOULD, ["join"]),
    ]
    pruned11 = s11._conjunction_pruned_blocks(
        ctx11, flat11, ["dup", "hash", "join"]
    )
    if pruned11 is None:
        checks.append(
            (
                "conjunction prune: pure-JVM zone-bitmap semi-join",
                False,
                "guards declined to prune on the audit corpus",
                "",
            )
        )
    else:
        p11 = plan_of(pruned11)
        # the cached InMemoryRelation embeds the BUILD kernel's plan —
        # cut at the cache boundary so only the per-query path counts
        query_path11 = p11.split("InMemoryRelation", 1)[0]
        n_py11 = len(
            re.findall(r"EvalPython|MapInPandas|FlatMapGroupsInPandas", query_path11)
        )
        checks.append(
            (
                "conjunction prune: pure-JVM zone-bitmap semi-join",
                n_py11 == 0 and "Join" in p11 and "Broadcast" in p11,
                f"{n_py11} Python node(s); broadcast semi-join present",
                p11,
            )
        )

    # 12. geo3d Vincenty: ~90 unrolled trig steps stay whole-stage
    # codegen — an ellipsoid-exact distance costs the same plan shape
    # as haversine (no Python nodes at all)
    from lucene_spark.search.geo3d import geo3d_nearest

    pts12 = docs.select(
        "doc_id",
        (((F.col("doc_id") * 7919) % 18000) / 100.0 - 90.0).alias("lat"),
        (((F.col("doc_id") * 104729) % 36000) / 100.0 - 180.0).alias("lon"),
    )
    p12 = plan_of(geo3d_nearest(pts12, -33.8688, 151.2093, k=20))
    n_py12 = len(re.findall(r"EvalPython|MapInPandas|FlatMapGroupsInPandas", p12))
    checks.append(
        (
            "geo3d Vincenty: unrolled iteration fully codegen",
            n_py12 == 0
            and "codegen id" in p12
            and "TakeOrderedAndProject" in p12,
            f"{n_py12} Python node(s); codegen'd projects + TakeOrderedAndProject",
            p12,
        )
    )

    # 13. WAND unconditional block prune: the keep filter is metadata-
    # only codegen — exactly ONE Python node remains (the decode
    # kernel), i.e. the r5 filter added plan nodes but no Python
    s13 = _IS(idx)
    q13 = BooleanQuery.of(
        BooleanClause(TermQuery("hash"), Occur.SHOULD),
        BooleanClause(TermQuery("join"), Occur.SHOULD),
    )
    p13 = plan_of(s13.search(q13, 10, "wand"))
    query_path13 = p13.split("InMemoryRelation", 1)[0]
    n_py13 = len(
        re.findall(r"EvalPython|MapInPandas|FlatMapGroupsInPandas", query_path13)
    )
    checks.append(
        (
            "WAND prune filter: metadata-only codegen, decode is the one Python node",
            n_py13 <= 1,
            f"{n_py13} Python node(s) on the query path",
            p13,
        )
    )

    # 14. LM perplexity: pure joins/aggregations, zero Python, partial
    # aggregation before the exchange (the bigram groupBy combines
    # map-side — boilerplate bigrams collapse before the shuffle)
    from lucene_spark.pipeline.lm import perplexity, train_bigram_lm

    model14 = train_bigram_lm(docs.filter(F.col("doc_id") % 5 != 0))
    p14 = plan_of(perplexity(docs.limit(500), model14))
    n_py14 = len(re.findall(r"EvalPython|MapInPandas|FlatMapGroupsInPandas", p14))
    checks.append(
        (
            "LM perplexity: zero Python, map-side partial aggregation",
            n_py14 == 0 and "partial" in p14.lower(),
            f"{n_py14} Python node(s); HashAggregate partial present",
            p14,
        )
    )

    # 15. early-terminated sorted top-k: the docID bound becomes a
    # PARTITION filter (segment dirs past the bound never open) plus a
    # pushed parquet filter (row-group pruning inside the boundary
    # segment) — the distributed form of TopFieldCollector's
    # early termination on index sort
    from lucene_spark.index.sorting import (
        early_terminated_topk,
        save_sorted,
        sort_docs,
    )

    sorted_dir = os.path.join(tempfile.mkdtemp(prefix="planaudit_"), "sorted")
    save_sorted(
        sort_docs(docs, [F.col("n_chars").desc(), F.col("orig_doc_id")]),
        sorted_dir,
        docs_per_segment=128,
    )
    p15 = plan_of(early_terminated_topk(spark, sorted_dir, k=10))
    checks.append(
        (
            "sorted early termination: partition + pushed docID bound",
            bool(re.search(r"PartitionFilters: \[.*seg", p15))
            and bool(re.search(r"PushedFilters: \[.*LessThan\(doc_id", p15)),
            "PartitionFilters on seg; PushedFilters LessThan(doc_id)",
            p15,
        )
    )

    # 16. shape grid query: cell probe + candidate semi-join + exact
    # refine is all JVM (zero Python nodes), with the probe as a
    # broadcastable semi-join/filter — geometry never leaves codegen
    from lucene_spark.search.shapegrid import (
        shape_grid_box_query,
        shape_grid_cells,
    )

    shapes16 = (
        docs.select("doc_id")
        .filter(F.col("doc_id") < 400)
        .withColumn(
            "lats",
            F.expr(
                "transform(sequence(0, 3), j -> "
                "((doc_id * 37 + j * 59) % 40) / 8.0 - 2.5)"
            ),
        )
        .withColumn(
            "lons",
            F.expr(
                "transform(sequence(0, 3), j -> "
                "((doc_id * 23 + j * 83) % 40) / 8.0 - 2.5)"
            ),
        )
    )
    cells16 = shape_grid_cells(shapes16, max_level=8, max_cells=16)
    p16 = plan_of(
        shape_grid_box_query(
            shapes16, cells16, (-2.0, 1.0, -1.0, 2.0), "intersects", polygon=True
        )
    )
    n_py16 = len(re.findall(r"EvalPython|MapInPandas|FlatMapGroupsInPandas", p16))
    checks.append(
        (
            "shape grid: JVM-only probe semi-join + geometry refine",
            n_py16 == 0 and "LeftSemi" in p16,
            f"{n_py16} Python node(s); LeftSemi candidate join present",
            p16,
        )
    )

    # 17. sentence-window chunking: exactly ONE Arrow pass (the
    # segmentation UDF); membership explode, window groupBy, and text
    # assembly are all JVM — a second Python node would mean the window
    # logic leaked out of codegen
    from lucene_spark.pipeline.chunking import sentence_windows

    docs17 = spark.read.parquet(f"{SF}/documents.parquet").limit(200)
    p17 = plan_of(sentence_windows(docs17, window=3, stride=2))
    n_py17 = len(
        re.findall(
            r"\(\d+\) (?:ArrowEvalPython|BatchEvalPython|MapInPandas|FlatMapGroupsInPandas)",
            p17,
        )
    )
    checks.append(
        (
            "sentence chunking: one Arrow segmentation pass, JVM windowing",
            n_py17 == 1,
            f"{n_py17} Python node(s), want exactly 1",
            p17,
        )
    )

    # 18. late-interaction MaxSim: the whole Σ_q max_d sim(q,d) over
    # multi-vectors is codegen'd HOFs — zero Python nodes (at 100 TB
    # the rescore is a broadcast join plus this projection)
    from lucene_spark.search.lateinteraction import late_interaction_maxsim_col

    emb18 = spark.read.parquet(f"{SF}/embeddings.parquet")
    mv18 = emb18.select(
        "vec_id",
        F.array(F.slice("embedding", 1, 32), F.slice("embedding", 33, 32)).alias(
            "mv"
        ),
    )
    p18 = plan_of(
        mv18.select(
            late_interaction_maxsim_col(F.col("mv"), [[0.1] * 32, [0.2] * 32])
        )
    )
    n_py18 = len(re.findall(r"EvalPython|MapInPandas|InPandas", p18))
    checks.append(
        (
            "late-interaction MaxSim: pure codegen HOFs, 0 Python nodes",
            n_py18 == 0,
            f"{n_py18} Python node(s)",
            p18,
        )
    )

    # 19. wiki markup -> plain text: a pure regexp_replace chain — the
    # page→text extraction stays inside WholeStageCodegen
    from lucene_spark.analysis.wiki import wiki_plain_text_col

    p19 = plan_of(
        docs.select(wiki_plain_text_col(F.concat(F.lit("[[a|b]] "), F.col("text"))))
    )
    n_py19 = len(re.findall(r"EvalPython|MapInPandas|InPandas", p19))
    checks.append(
        (
            "wiki plain-text extraction: codegen regexp chain, 0 Python nodes",
            n_py19 == 0 and "codegen id" in p19,
            f"{n_py19} Python node(s); the projection carries a codegen id",
            p19,
        )
    )

    # 20. DirectPostings hot-term cache: queries over cached terms read
    # InMemoryTableScan with no decode node ABOVE the scan (the cached
    # relation's recorded child plan legitimately shows the original
    # decode)
    from lucene_spark.search.directcache import DirectPostingsCache

    cache20 = DirectPostingsCache(idx, terms=["spark"])
    p20 = plan_of(cache20.postings(["spark"]))
    above = p20.split("InMemoryRelation")[0]
    ok20 = "InMemoryTableScan" in p20 and "MapInPandas" not in above
    cache20.release()
    checks.append(
        (
            "DirectPostings cache: hot path reads InMemoryTableScan, no re-decode",
            ok20,
            "InMemoryTableScan above; decode only inside the cached relation",
            p20,
        )
    )

    # report
    ok_all = all(ok for _, ok, _, _ in checks)
    rows = "\n".join(
        f"| {name} | {'✅' if ok else '❌'} | {detail} |" for name, ok, detail, _ in checks
    )
    excerpts = "\n".join(
        f"### {name}\n\n```\n{_trim(pl)}\n```\n" for name, ok, _, pl in checks if pl
    )
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write(
            f"""# PLANS — physical-plan audit (scripts/plan_audit.py)

Checked at sf0.01 ({SF}); these properties are what keep the design
viable at 100 TB (see docstring for why each matters).

| property | verdict | evidence |
|---|---|---|
{rows}

{excerpts}"""
        )
    for name, ok, _, _ in checks:
        print(("PASS " if ok else "FAIL ") + name)
    spark.stop()
    sys.exit(0 if ok_all else 1)


def _trim(p: str, n: int = 40) -> str:
    lines = [l.rstrip() for l in p.splitlines() if l.strip()]
    return "\n".join(lines[:n])


if __name__ == "__main__":
    main()
