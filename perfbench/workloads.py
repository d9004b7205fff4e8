"""The benchmark's workloads: serve_light, serve_heavy and ingest_merge.

BENCHMARK.json runs serve_light and serve_heavy. ingest_merge (a
standard-analyzer build into 40 segments, log-merged to a fixed point,
then queried) runs by hand with ``--workload ingest_merge``: one run takes
~130 s, a fifth of it in the merge, which does not fit the benchmark's run budget.

A serve run has four phases, each tagged for the memory sampler;
``peak_rss_mb`` is the peak of ``measure``, while the index serves:

- ``setup``: generate the corpus, stage it to parquet, build the index and
  run the first search. Repeated ``SETUP_REPS`` times (the first one with
  a cold JVM, beside the DuckDB oracle); ``setup_s`` is the median of the
  repetitions and ``build_docs_per_s`` uses the median build.
- ``warm``: one untimed pass over the query pool, and the cross-mode
  queries.
- ``measure``: the timed window, ``--seconds`` or ``MIN_PASSES`` whole
  passes over the pool per loop, whichever is longer. With tracing off it
  holds a one-client closed loop (``query_p50_s``, ``query_tail_s``),
  then ``nproc`` clients in closed loops (``qps``). With tracing on, one
  client alternates untraced and traced passes, whose medians give the
  tracing overhead.
- ``check``: every served top-k against the oracle, and one wandable
  query in ``wand`` and ``exhaustive`` mode against the served ``auto``
  result. Traced runs then probe the layers, log-merge the index to a
  fixed point (phase ``merge``) and check the merged index.

All calls into ``lucene_spark`` go through its public API; the spans wrap
those calls from here.
"""

from __future__ import annotations

import itertools
import os
import sys
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from typing import Callable, Dict, Iterator, List, Optional, Sequence, Tuple

import numpy as np

from perfbench import data
from perfbench.checks import hits, oracle_topk, topk_matches
from perfbench.stats import TAIL_BEYOND, median, tail
from perfbench.tracing import JobCounter, RssSampler, Tracer

SETUP_REPS = 3
LIGHT_DOCS, LIGHT_MAX_LEN, LIGHT_SEGMENTS = 10_000, 500, 10
HEAVY_DOCS, HEAVY_SEGMENTS = 40_000, 10
# The aligned build cuts a segment into partial flushes at Arrow batch
# boundaries, and their block ordinals collide; the WAND impact-head cache
# keys blocks by (term, segment, ordinal), so on an aligned index its θ
# bootstrap reads the wrong blocks and prunes nothing. The hash layout
# builds each segment in one flush.
HEAVY_LAYOUT = "hash"
INGEST_DOCS, INGEST_MAX_LEN, INGEST_SEGMENTS = 8_000, 500, 40
MERGE_FACTOR = 10
MIN_PASSES = 2
PROBE_REPS = 3
PROBE_BLOCKS = 500
PROBE_DOCS = 200

# one sample is (pool index, hits, seconds)
Sample = Tuple[int, list, float]


class Run:
    """State of one benchmark run: session, counters, spans, results."""

    def __init__(self, spark, work: str, seed: int, seconds: float, traced: bool,
                 rss: RssSampler) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.rss = rss
        self.nproc = spark.sparkContext.defaultParallelism
        self.tracer = Tracer(traced)
        self.jobs = JobCounter(spark.sparkContext) if traced else None
        self.attempted = 0
        self.failures: List[str] = []
        self.e2e: Dict[str, float] = {}
        self.layer: Dict[str, float] = {}
        self.meta: Dict[str, object] = {}
        self._lock = threading.Lock()
        self._qid = 0
        self._phase_t0 = time.perf_counter()
        # per-query records of the traced loop
        self.query_records: List[dict] = []

    # -- bookkeeping -------------------------------------------------------
    def fail(self, what: str) -> None:
        with self._lock:
            self.failures.append(what)

    def op(self) -> None:
        with self._lock:
            self.attempted += 1

    def next_qid(self) -> int:
        with self._lock:
            self._qid += 1
            return self._qid

    @contextmanager
    def counted(self) -> Iterator[Dict[str, int]]:
        """Spark jobs/tasks launched inside the block (traced runs only)."""
        if self.jobs is None:
            yield {}
            return
        with self.jobs.group() as counts:
            yield counts

    def phase(self, name: str) -> None:
        """Switch phase: memory is sampled, and wall time summed, per phase."""
        now = time.perf_counter()
        spent = self.meta.setdefault("phase_s", {})
        spent[self.rss.phase] = spent.get(self.rss.phase, 0.0) + now - self._phase_t0
        self._phase_t0 = now
        self.rss.phase = name

    # -- queries -----------------------------------------------------------
    def query(self, searcher, spec: data.QuerySpec, mode: str = "auto",
              traced: bool = False) -> Optional[Tuple[list, float, Dict[str, int]]]:
        """One top-k search; returns (hits, seconds, Spark job/task counts
        when traced) or None on failure."""
        from lucene_spark.search import rewrite

        self.op()
        q = spec.to_query()
        tr = self.tracer if traced else Tracer(False)
        qid = self.next_qid()
        try:
            if traced:
                searcher.last_wand_stats = None
            with self.counted() as counts, tr.span("query", qid):
                t0 = time.perf_counter()
                if traced:
                    with tr.span("search.query.rewrite"):
                        rewrite(q, searcher.index.terms)
                with tr.span("search.searcher.plan"):
                    df = searcher.search(q, spec.k, mode)
                with tr.span("search.searcher.exec"):
                    rows = df.collect()
                dt = time.perf_counter() - t0
        except Exception:  # a failed query is counted, and the loop goes on
            traceback.print_exc(file=sys.stderr)
            self.fail(f"query {spec} raised")
            return None
        if traced:
            self.query_records.append(
                {"qid": qid, "spec": spec, "wand": searcher.last_wand_stats, **counts}
            )
        return hits(rows), dt, counts

    def closed_loop(self, searcher, pool, seconds: float) -> List[Sample]:
        """One client: the next query goes out when the last one returns.

        Runs whole passes over the pool, at least ``MIN_PASSES``, until
        ``seconds`` have passed, so every run's median rests on the same
        mix of query shapes.
        """
        out: List[Sample] = []
        deadline = time.perf_counter() + seconds
        for n in itertools.count():
            if n >= MIN_PASSES and time.perf_counter() >= deadline:
                return out
            out.extend(self.one_pass(searcher, pool))

    def one_pass(self, searcher, pool, traced: bool = False) -> List[Sample]:
        out = []
        for j, spec in enumerate(pool):
            r = self.query(searcher, spec, traced=traced)
            if r is not None:
                out.append((j, r[0], r[1]))
        return out

    def concurrent_loop(self, searcher, pool, seconds: float) -> Tuple[List[Sample], float]:
        """``nproc`` clients in closed loops, drawing queries from a shared
        stream of whole passes over the pool: at least ``MIN_PASSES``, and
        none starts after ``seconds``. Returns the samples and the
        throughput: queries completed over the time to the last one.
        """
        out: List[Sample] = []
        t0 = time.perf_counter()
        stream: Iterator[int] = iter(())
        passes = 0

        def next_index() -> Optional[int]:
            nonlocal stream, passes
            with self._lock:
                j = next(stream, None)
                if j is None and (passes < MIN_PASSES or time.perf_counter() < t0 + seconds):
                    stream, passes = iter(range(len(pool))), passes + 1
                    j = next(stream)
                return j

        def client() -> None:
            while (j := next_index()) is not None:
                r = self.query(searcher, pool[j])
                if r is not None:
                    with self._lock:
                        out.append((j, r[0], r[1]))

        with ThreadPoolExecutor(self.nproc) as ex:
            for f in [ex.submit(client) for _ in range(self.nproc)]:
                f.result()
        return out, len(out) / (time.perf_counter() - t0)

    def serve_window(self, searcher, pool, seconds: float) -> List[Sample]:
        """The timed query window: latency + throughput loops, or (traced)
        one client alternating untraced and traced passes."""
        self.phase("measure")
        if self.traced:
            return self.traced_window(searcher, pool, seconds)
        # the single client gets 60% of the window, the nproc clients the rest
        single = self.closed_loop(searcher, pool, 0.6 * seconds)
        multi, self.e2e["qps"] = self.concurrent_loop(searcher, pool, 0.4 * seconds)
        lat = [s[2] for s in single]
        self.e2e["query_p50_s"] = median(lat)
        self.meta["query_p50"] = {"n": len(lat)}
        self.meta["shape_p50_s"] = {spec.shape: median([s[2] for s in single if s[0] == j])
                                    for j, spec in enumerate(pool)}
        if len(lat) > TAIL_BEYOND:
            t = tail(lat)
            self.e2e["query_tail_s"] = t["value"]
            self.meta["query_tail"] = {"pct": round(t["pct"], 1), "n": t["n"]}
        return single + multi

    def traced_window(self, searcher, pool, seconds: float) -> List[Sample]:
        """Untraced and traced passes alternate, so drift over the window
        falls on both; the ratio of their medians is the tracing overhead."""
        plain: List[Sample] = []
        traced: List[Sample] = []
        deadline = time.perf_counter() + seconds
        while not traced or time.perf_counter() < deadline:
            plain.extend(self.one_pass(searcher, pool))
            searcher.wand_collect_stats = True
            traced.extend(self.one_pass(searcher, pool, traced=True))
            searcher.wand_collect_stats = False
        p_plain = median([s[2] for s in plain])
        p_traced = median([s[2] for s in traced])
        self.layer["trace.overhead_frac"] = p_traced / p_plain - 1.0
        return plain + traced

    def warm(self, searcher, pool, vocab) -> Tuple[List[Sample], dict]:
        """Untimed, all at once: one pass over the pool, which fills
        the searcher's term-statistics and impact-head caches and warms
        every query shape's code path, beside the cross-mode queries (the
        wandable query with the fewest terms, in ``exhaustive`` and
        ``wand`` mode).

        Returns the pass's samples and the cross-mode results, keyed by
        mode (``"j"``: the query's pool index).
        """
        self.phase("warm")
        j = min((j for j, spec in enumerate(pool) if spec.wandable),
                key=lambda j: len(pool[j].terms(vocab)))
        with ThreadPoolExecutor(len(pool) + 2) as ex:
            passes = [ex.submit(self.query, searcher, spec) for spec in pool]
            modes = {m: ex.submit(self.query, searcher, pool[j], m) for m in ("exhaustive", "wand")}
            samples = [(i, r[0], r[1]) for i, f in enumerate(passes)
                       if (r := f.result()) is not None]
            return samples, {"j": j, **{m: f.result() for m, f in modes.items()}}

    # -- build and merge ---------------------------------------------------
    def build(self, path: str, analyzer: str, docs_per_segment: int, layout: str):
        from lucene_spark.index import InvertedIndex

        self.op()
        corpus = self.spark.read.parquet(path)
        with self.counted() as counts, self.tracer.span("index.builder.build"):
            t0 = time.perf_counter()
            idx = InvertedIndex.build(corpus, analyzer=analyzer,
                                      docs_per_segment=docs_per_segment, layout=layout)
            dt = time.perf_counter() - t0
        if self.traced:
            self.layer["builder.jobs"] = counts["jobs"]
            self.layer["builder.tasks"] = counts["tasks"]
        return idx, dt

    def merge_until_done(self, idx, floor_docs: int, corpus_path: str):
        """Log-merge rounds until the policy plans no merge.

        Returns the merged index, the seconds spent planning and merging,
        and the docID range each merged segment now covers. Traced runs
        also count the blocks each round rewrites.
        """
        from pyspark.sql import functions as F

        from lucene_spark.index.merge import log_merge_plan, merge_segments, segment_infos

        total, plans, rounds, rewritten, out_bytes = 0.0, [], [], 0, 0
        dps = idx.docs_per_segment
        bounds: Dict[int, Tuple[int, int]] = {}
        in_parts = idx.blocks.rdd.getNumPartitions()
        while True:
            with self.tracer.span("index.merge.plan"):
                t0 = time.perf_counter()
                plan = log_merge_plan(segment_infos(idx), MERGE_FACTOR, floor_docs)
                plans.append(time.perf_counter() - t0)
            total += plans[-1]
            if not plan:
                break
            sources = [s for group in plan for s in group]
            if self.traced:
                rewritten += idx.blocks.filter(F.col("segment_id").isin(sources)).count()
            self.op()
            with self.tracer.span("index.merge.round"):
                t0 = time.perf_counter()
                idx = merge_segments(idx, plan)
                rounds.append(time.perf_counter() - t0)
            total += rounds[-1]
            for group in plan:
                spans = [bounds.pop(g, (g * dps, (g + 1) * dps)) for g in group]
                bounds[min(group)] = (min(a for a, _ in spans), max(b for _, b in spans))
            if self.traced:
                targets = [min(group) for group in plan]
                out_bytes += _payload_bytes(idx.blocks.filter(F.col("segment_id").isin(targets)))
        if self.traced:
            self.layer.update({
                "merge.plan_s": median(plans),
                "merge.round_s": median(rounds) if rounds else 0.0,
                "merge.rounds": len(rounds),
                "merge.blocks_rewritten": rewritten,
                "merge.write_amp": out_bytes / text_bytes(corpus_path),
                "merge.in_partitions": in_parts,
                "merge.out_partitions": idx.blocks.rdd.getNumPartitions(),
            })
        return idx, total, bounds

    # -- traced probes -----------------------------------------------------
    def probe_layers(self, idx, probe_term: str, texts: Sequence[str]) -> None:
        """Per-layer probes on this run's index and corpus (traced only)."""
        from pyspark.sql import functions as F

        from lucene_spark.analysis import analyze
        from lucene_spark.functions.bm25 import BM25
        from lucene_spark.functions.forutil import (
            fordelta_decode,
            fordelta_encode,
            pfor_decode,
            pfor_encode,
        )

        # spark: a trivial cached job, the JVM term filter over the
        # query's blocks, and an identity Python crossing over them
        tiny = self.spark.range(1).cache()
        tiny.count()
        sel = idx.blocks.filter(F.col("term") == probe_term).select(
            "term", "docs_packed", "freqs_packed", "norms_raw")

        def identity(batches):
            yield from batches

        with self.tracer.span("spark.probe"):
            self.layer["spark.job_s"] = _timed_median(tiny.count)
            self.layer["spark.jvm_filter_s"] = _timed_median(sel.count)
            self.layer["spark.python_crossing_s"] = _timed_median(
                lambda: sel.mapInPandas(identity, sel.schema).count())
        tiny.unpersist()

        # analysis: the standard chain on sampled corpus text
        n_tok = sum(len(analyze(t)) for t in texts)
        with self.tracer.span("analysis.analyze"):
            self.layer["analysis.tokens_per_s"] = n_tok / _timed_median(
                lambda: [analyze(t) for t in texts])

        # functions.forutil / functions.bm25 on blocks sampled from the index
        frac = min(1.0, PROBE_BLOCKS / max(1, _num_blocks(idx)))
        rows = idx.blocks.sample(False, frac, self.seed).select(
            "docs_packed", "freqs_packed", "norms_raw").collect()
        blobs = [(bytes(r[0]), bytes(r[1]), np.frombuffer(bytes(r[2]), dtype=np.uint8))
                 for r in rows]
        decoded = [(fordelta_decode(d), pfor_decode(f), n) for d, f, n in blobs]
        n_post = sum(len(d) for d, _, _ in decoded)
        with self.tracer.span("functions.forutil.decode"):
            self.layer["forutil.decode_ns_per_posting"] = _timed_median(
                lambda: [(fordelta_decode(d), pfor_decode(f)) for d, f, _ in blobs]) / n_post * 1e9
        with self.tracer.span("functions.forutil.encode"):
            self.layer["forutil.encode_ns_per_posting"] = _timed_median(
                lambda: [(fordelta_encode(d), pfor_encode(f)) for d, f, _ in decoded]) / n_post * 1e9
        for (d, f, _), (db, fb, _) in zip(decoded, blobs):
            self.op()
            if fordelta_encode(d) != db or pfor_encode(f) != fb:
                self.fail("forutil re-encode differs from the stored block")
        scorer = BM25(doc_freq=max(1, idx.doc_count // 100), doc_count=idx.doc_count,
                      sum_total_term_freq=idx.sum_total_term_freq)
        with self.tracer.span("functions.bm25.score"):
            self.layer["bm25.score_ns_per_posting"] = _timed_median(
                lambda: [scorer.score(f, n) for _, f, n in decoded]) / n_post * 1e9

    def searcher_layers(self, idx, pool: Sequence[data.QuerySpec], vocab: Sequence[str]) -> None:
        """searcher.*, query.* and wand.* from the traced loop's records."""
        from pyspark.sql import functions as F

        recs = self.query_records
        terms = sorted({t for r in recs for t in _all_terms(r["spec"], vocab)})
        blocks = dict(idx.blocks.filter(F.col("term").isin(terms)).groupBy("term").count().collect())
        dfs = {r["term"]: int(r["doc_freq"])
               for r in idx.terms.filter(F.col("term").isin(terms)).collect()}
        q_blocks = [sum(blocks.get(t, 0) for t in _all_terms(r["spec"], vocab)) for r in recs]
        considered = pruned = 0
        for r, nb in zip(recs, q_blocks):
            w = r["wand"]
            if w is None:
                continue  # auto did not pick WAND for this query
            considered += w["blocks"] if w.get("blocks") is not None else nb
            pruned += w.get("pruned") or 0
        spans = self.tracer
        self.layer.update({
            "query.rewrite_s": median([s.seconds for s in spans.named("search.query.rewrite")]),
            "searcher.plan_s": median([s.seconds for s in spans.named("search.searcher.plan")]),
            "searcher.exec_s": median([s.seconds for s in spans.named("search.searcher.exec")]),
            "searcher.jobs_per_query": float(np.mean([r["jobs"] for r in recs])),
            "searcher.tasks_per_query": float(np.mean([r["tasks"] for r in recs])),
            "searcher.blocks_per_task": sum(q_blocks) / max(1, sum(r["tasks"] for r in recs)),
            "searcher.postings_per_query": float(np.mean([
                sum(dfs.get(t, 0) for t in _all_terms(r["spec"], vocab)) for r in recs])),
            "wand.blocks_considered": considered,
            "wand.blocks_pruned": pruned,
            "wand.pruned_frac": pruned / considered if considered else 0.0,
        })

    # -- checks ------------------------------------------------------------
    def check_oracle(self, expected: Sequence[list], pool, samples: Sequence[Sample]) -> None:
        """Every served top-k against the oracle's hits for its query."""
        for j, got, _ in samples:
            if not topk_matches(got, expected[j], pool[j].k):
                self.fail(f"top-k differs from the oracle: {pool[j]}")

    def check_cross_mode(self, modes: dict, pool, samples: Sequence[Sample]) -> Dict[int, list]:
        """``wand`` and the served ``auto`` must equal ``exhaustive`` bit
        for bit on the query :meth:`warm` ran in every mode. Returns its
        exhaustive hits, keyed by pool index."""
        j, ex, wand = modes["j"], modes["exhaustive"], modes["wand"]
        if ex is None or wand is None:
            return {}
        for i, got, _ in samples:
            if i == j and got != ex[0]:
                self.fail(f"auto differs from exhaustive: {pool[j]}")
        if wand[0] != ex[0]:
            self.fail(f"wand differs from exhaustive: {pool[j]}")
        if self.traced:
            self.layer["merge.query_tasks_before"] = ex[2]["tasks"]
        return {j: ex[0]}

    def check_merged(self, stats_before, merged, bounds) -> None:
        """Merging must keep term and collection statistics (``stats_before``
        from :func:`index_stats` on the unmerged index) and leave an index
        that ``check_index`` passes."""
        from lucene_spark.index import check_index

        if index_stats(merged) != stats_before:
            self.fail("term or collection statistics changed across the merge")
        t0 = time.perf_counter()
        report = check_index(merged)
        self.meta["check_index_s"] = time.perf_counter() - t0
        # check_index's segment_bounds assumes segment s holds docIDs
        # [s*dps, (s+1)*dps); a merged segment holds its sources' ranges
        report["segment_bounds"] = _bounds_violations(merged, bounds)
        bad = {k: v for k, v in report.items() if v}
        if bad:
            self.fail(f"check_index after merge: {bad}")

    def finish_builds(self, idx, build_times: Sequence[float], n_docs: int) -> None:
        self.e2e["build_docs_per_s"] = n_docs / median(build_times)
        if self.traced:
            self.layer.update({
                "builder.build_s": median(build_times),
                "builder.postings": idx.sum_total_term_freq,
                "builder.blocks": _num_blocks(idx),
                "builder.bytes_per_posting": idx.metrics["payload_bytes"] / idx.sum_total_term_freq,
            })


def _all_terms(spec: data.QuerySpec, vocab) -> List[str]:
    return spec.terms(vocab) + list(spec.must_not)


def _num_blocks(idx) -> int:
    return int(idx.metrics.get("num_blocks") or idx.blocks.count())


def _bounds_violations(idx, bounds: Dict[int, Tuple[int, int]]) -> int:
    """Blocks outside their segment's docID range, merged ranges included."""
    from pyspark.sql import functions as F

    seg, dps = F.col("segment_id"), idx.docs_per_segment
    lo, hi = seg * dps, (seg + 1) * dps
    for s, (a, b) in bounds.items():
        lo = F.when(seg == s, F.lit(a)).otherwise(lo)
        hi = F.when(seg == s, F.lit(b)).otherwise(hi)
    return idx.blocks.filter((F.col("first_doc") < lo) | (F.col("max_doc") >= hi)).count()


def index_stats(idx) -> tuple:
    """Collection statistics and per-term (df, ttf) summed from the blocks."""
    from pyspark.sql import functions as F

    rows = idx.blocks.groupBy("term").agg(F.sum("num_docs").alias("df"),
                                          F.sum("sum_freq").alias("ttf")).collect()
    terms = {r["term"]: (int(r["df"]), int(r["ttf"])) for r in rows}
    return idx.doc_count, idx.sum_total_term_freq, terms


def _payload_bytes(blocks) -> int:
    from pyspark.sql import functions as F

    row = blocks.agg(F.sum(F.length("docs_packed") + F.length("freqs_packed")
                           + F.length("norms_raw")).alias("b")).collect()[0]
    return int(row["b"] or 0)


def _timed_median(fn: Callable[[], object], reps: int = PROBE_REPS) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return median(times)


# ---------------------------------------------------------------------------
# corpus staging


def stage_synthetic(run: Run, path: str, n_docs: int, max_len: int) -> None:
    """The repo's Zipf corpus generator, written to parquet with one file
    per contiguous docID range (the input ``layout="aligned"`` needs)."""
    from lucene_spark.corpus import synthetic_corpus

    (synthetic_corpus(run.spark, n_docs, seed=run.seed, max_len=max_len,
                      vocab_size=data.LIGHT_VOCAB_SIZE,
                      num_partitions=run.nproc, with_doc_id=True)
     .select("doc_id", "text").write.mode("overwrite").parquet(path))


def stage_heavy(run: Run, path: str, n_docs: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    doc_ids, texts = data.heavy_corpus(n_docs, run.seed)
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, n_docs, run.nproc + 1).astype(int)
    for p, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
        pq.write_table(pa.table({"doc_id": doc_ids[lo:hi], "text": texts[lo:hi]}),
                       os.path.join(path, f"part-{p:05d}.parquet"))


def sample_texts(run: Run, path: str) -> List[str]:
    import pyarrow.parquet as pq

    table = pq.read_table(path, columns=["text"])
    rows = data.sample_rows(table.num_rows, PROBE_DOCS, run.seed)
    return [str(t) for t in table.column("text").take(rows).to_pylist()]


def text_bytes(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(len(t.encode("utf-8")) for t in pq.read_table(path, columns=["text"])
               .column("text").to_pylist() if t)


# ---------------------------------------------------------------------------
# workloads


def _serve(run: Run, pool: List[data.QuerySpec], vocab: Sequence[str],
           stage: Callable[[str, int], None], n_docs: int, segments: int, layout: str) -> None:
    """Shared flow of serve_light and serve_heavy: simple analyzer, the
    DuckDB oracle on every served top-k."""
    from lucene_spark.search import IndexSearcher

    run.phase("setup")
    dps = n_docs // segments
    setup_times, build_times, idx, path = [], [], None, ""
    # The corpus is a function of the seed, so the oracle scores the first
    # repetition's copy while the cold repetition goes on: it slows only
    # the slowest repetition, which the median of three never reports.
    with ThreadPoolExecutor(1) as ex:
        for rep in range(SETUP_REPS):
            if idx is not None:
                idx.unpersist()
            path = os.path.join(run.work, f"corpus-{rep}")
            t0 = time.perf_counter()
            with run.tracer.span("setup"):
                stage(path, n_docs)
                if rep == 0:
                    oracle = ex.submit(oracle_topk, os.path.join(path, "*.parquet"), pool,
                                       vocab, run.nproc)
                idx, b = run.build(path, "simple", dps, layout)
                searcher = IndexSearcher(idx)
                first = run.query(searcher, pool[0])
            setup_times.append(time.perf_counter() - t0)
            build_times.append(b)
            if first is None:
                raise RuntimeError("the first search failed")
        expected = oracle.result()
    run.e2e["setup_s"] = median(setup_times)
    run.meta["setup_reps_s"] = setup_times
    run.finish_builds(idx, build_times, n_docs)
    run.e2e["bytes_per_posting"] = idx.metrics["payload_bytes"] / idx.sum_total_term_freq
    samples, modes = run.warm(searcher, pool, vocab)
    samples += run.serve_window(searcher, pool, run.seconds)
    run.e2e["peak_rss_mb"] = run.rss.peak_mb["measure"]
    run.phase("check")
    reference = run.check_cross_mode(modes, pool, samples)
    run.check_oracle(expected, pool, samples)
    if run.traced:
        run.searcher_layers(idx, pool, vocab)
        run.probe_layers(idx, pool[0].terms(vocab)[0], sample_texts(run, path))
        merge_and_check(run, idx, pool, reference, path)
    idx.unpersist()


def merge_and_check(run: Run, idx, pool, reference: Dict[int, list], path: str) -> None:
    """Traced runs only: log-merge the serving index to a fixed point (the
    merge.* layer metrics) and check that the merged index answers the
    ``reference`` queries bit for bit as before."""
    from lucene_spark.search import IndexSearcher

    stats_before = index_stats(idx)
    run.phase("merge")
    merged, _, bounds = run.merge_until_done(idx, idx.docs_per_segment, path)
    run.phase("check")
    searcher = IndexSearcher(merged)
    for j, want in reference.items():
        got = run.query(searcher, pool[j], mode="exhaustive")
        if got is not None and got[0] != want:
            run.fail(f"merged index answers differently: {pool[j]}")
        if got is not None:
            run.layer["merge.query_tasks_after"] = got[2]["tasks"]
    run.check_merged(stats_before, merged, bounds)
    merged.unpersist()


def serve_light(run: Run) -> None:
    vocab = data.light_vocab()
    _serve(run, data.light_pool(run.seed, vocab), vocab,
           lambda path, n: stage_synthetic(run, path, n, LIGHT_MAX_LEN),
           LIGHT_DOCS, LIGHT_SEGMENTS, "aligned")


def serve_heavy(run: Run) -> None:
    _serve(run, data.heavy_pool(run.seed), [],
           lambda path, n: stage_heavy(run, path, n),
           HEAVY_DOCS, HEAVY_SEGMENTS, HEAVY_LAYOUT)
    if run.traced:
        # the corpus exists to give block-max WAND something to prune
        run.op()
        if not run.layer["wand.blocks_pruned"]:
            run.fail("WAND pruned no blocks on serve_heavy")


def ingest_merge(run: Run) -> None:
    """Standard-analyzer build into ~40 segments, log-merge to a fixed
    point, then serve_light-shaped queries on the merged index.

    Its timed part is phase ``merge`` (``build_docs_per_s``, ``merge_s``)
    followed by half a serve window on the merged index; the query batch
    run before merging is the reference the merged index must match.
    """
    from lucene_spark.search import IndexSearcher

    vocab = data.light_vocab()
    pool = data.light_pool(run.seed, vocab)
    dps = INGEST_DOCS // INGEST_SEGMENTS
    path = os.path.join(run.work, "corpus")
    setup_times, idx = [], None
    run.phase("setup")
    for rep in range(SETUP_REPS):
        if idx is not None:
            idx.unpersist()
        t0 = time.perf_counter()
        with run.tracer.span("setup"):
            stage_synthetic(run, path, INGEST_DOCS, INGEST_MAX_LEN)
            idx, _ = run.build(path, "standard", dps, "hash")
        setup_times.append(time.perf_counter() - t0)
    run.e2e["setup_s"] = median(setup_times)

    # the reference: the query batch and the term statistics before merging
    run.phase("check")
    searcher = IndexSearcher(idx)
    if run.traced:
        searcher.wand_collect_stats = True
    before = {}
    for j, spec in enumerate(pool):
        r = run.query(searcher, spec, traced=run.traced)
        if r is not None:
            before[j] = r[0]
    if run.traced:
        run.layer["merge.query_tasks_before"] = float(
            np.mean([r["tasks"] for r in run.query_records]))
        run.query_records.clear()
    stats_before = index_stats(idx)
    idx.unpersist()

    # timed: fresh build + merge to a fixed point, repeated over half the window
    run.phase("merge")
    build_times, merge_times, merged = [], [], None
    deadline = time.perf_counter() + run.seconds / 2.0
    while not build_times or time.perf_counter() < deadline:
        if merged is not None:
            merged.unpersist()
        built, b = run.build(path, "standard", dps, "hash")
        merged, m, bounds = run.merge_until_done(built, dps, path)
        build_times.append(b)
        merge_times.append(m)
    run.finish_builds(built, build_times, INGEST_DOCS)
    run.e2e["merge_s"] = median(merge_times)
    run.meta["ingest_iterations"] = len(build_times)

    searcher = IndexSearcher(merged)
    run.phase("warm")
    samples = run.one_pass(searcher, pool)  # untimed, as in Run.warm
    samples += run.serve_window(searcher, pool, run.seconds / 2.0)
    run.e2e["peak_rss_mb"] = run.rss.peak_mb["measure"]

    run.phase("check")
    run.e2e["bytes_per_posting"] = _payload_bytes(merged.blocks) / merged.sum_total_term_freq
    for j, got, _ in samples:
        if got != before.get(j):
            run.fail(f"merged index answers differently: {pool[j]}")
    run.check_merged(stats_before, merged, bounds)
    if run.traced:
        run.searcher_layers(merged, pool, vocab)
        run.layer["merge.query_tasks_after"] = run.layer["searcher.tasks_per_query"]
        run.probe_layers(merged, pool[0].terms(vocab)[0],
                         sample_texts(run, path))
    merged.unpersist()


WORKLOADS = {"serve_light": serve_light, "serve_heavy": serve_heavy,
             "ingest_merge": ingest_merge}
