"""The two workloads: ``query_headline`` and ``churn``.

One client thread drives the engine in a closed loop: it issues the next
operation only after the previous one returned.  ``Bench`` keeps the raw
samples; ``metrics.py`` reduces them.  Oracle time is never inside a
timed region: the oracle and every expected answer are computed while
Spark starts, and the answers are compared after the measured loop.
"""

from __future__ import annotations

import os
import sys
import threading
import time
import traceback

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from lucene_solr_8_7_0_spark.config import EngineConfig
from lucene_solr_8_7_0_spark.operators import build, deletes
from lucene_solr_8_7_0_spark.operators.search import IndexSearcher
from lucene_solr_8_7_0_spark.sources.corpus import corpus_df

import inputs
from oracle_check import Oracle, same_topk
from tracing import (Instrumentation, Tracer, exchange_count, spark_counts,
                     ungrouped_jobs)

K = 10
# Warm-up: untimed (still checked) queries in windows of WARMUP_WINDOW
# until a window's median wall is within WARMUP_TOLERANCE of the previous
# window's, at most WARMUP_MAX_WINDOWS windows.  In 45 s runs, latency
# fell ~40 % over the first 3-6 queries and then moved by ~10 % either way.
WARMUP_WINDOW = 2
WARMUP_TOLERANCE = 0.15
WARMUP_MAX_WINDOWS = 5

# Sizes per workload.  Segments of ~2000 documents give a hot term ~16
# postings blocks a segment, and top-k pruning starts after
# DEFAULT_TOTAL_HITS_THRESHOLD (1000) hits, so block-max WAND has blocks
# to skip.  Spark's fixed cost per job still dominates every operation.
SIZES = {
    "query_headline": dict(docs=8000, segment_size=2048),
    "churn": dict(docs=600, segment_size=150, replace=30, add=30,
                  extra_classes=False, filter_classes=("and", "or")),
}


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


def read_table(path: str, columns: list[str]) -> pd.DataFrame:
    return pq.read_table(path, columns=columns).to_pandas()


class Prep(threading.Thread):
    """Builds the seeded inputs and the oracle while Spark starts."""

    def __init__(self, workload: str, seed: int):
        super().__init__(name="perfbench-prep", daemon=True)
        self.workload, self.seed = workload, seed
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            self._prep()
        except BaseException as e:  # re-raised by the main thread in result()
            self.error = e

    def _prep(self) -> None:
        size = SIZES[self.workload]
        n = size["docs"]
        self.cfg = EngineConfig(segment_size=size["segment_size"])
        vocab = inputs.build_vocab(self.seed)
        self.base = inputs.with_doc_ids(
            inputs.corpus_rows(self.seed, np.arange(n), n, vocab))
        if self.workload == "churn":
            self.batch = inputs.churn_batch(
                self.seed, self.base, size["replace"], size["add"], n, vocab)
            snap = pd.concat([self.base, self.batch.added], ignore_index=True)
            self.oracles = {1: Oracle(snap, self.cfg, self.batch.deleted_ids)}
            self.source_bytes = int(snap["content"].str.len().sum())
            self.added_bytes = int(self.batch.new_docs["content"].str.len().sum())
            docs_for_phrases = snap
        else:
            self.batch = None
            self.oracles = {0: Oracle(self.base, self.cfg)}
            self.source_bytes = int(self.base["content"].str.len().sum())
            self.added_bytes = 0
            docs_for_phrases = self.base
        self.queries = inputs.query_mix(
            self.seed, self.oracles[max(self.oracles)].term_df,
            docs_for_phrases, self.cfg,
            extra_classes=size.get("extra_classes", True),
            filter_classes=size.get("filter_classes", ()))
        # every answer the engine may give is checked against these
        self.expected = {
            (snap, qi): oracle.expected(bq, K)
            for snap, oracle in self.oracles.items()
            for qi, bq in enumerate(self.queries)
        }

    def result(self) -> "Prep":
        self.join()
        if self.error is not None:
            raise self.error
        return self


class Bench:
    def __init__(self, spark, prep: Prep, work: str, seconds: float, trace: bool):
        self.spark, self.sc = spark, spark.sparkContext
        self.p, self.work, self.seconds, self.trace = prep, work, seconds, trace
        self.tracer = Tracer(enabled=trace)
        self.inst = Instrumentation(self.tracer)
        self.attempted = self.failed = 0
        self.answers: list[tuple[int, object, np.ndarray, np.ndarray]] = []
        self.samples: list[tuple[str, float]] = []   # (class, wall) measured
        self.pairs: list[tuple[float, float]] = []   # (traced, untraced)
        self.per_query: list[dict] = []              # traced query records
        self.m: dict = {}                            # scalar measurements
        self.searchers: dict = {}                    # snapshot -> searcher

    # ---- bookkeeping ---------------------------------------------------

    def _fail(self, what: str) -> None:
        self.failed += 1
        print(f"perfbench: FAILED {what}", file=sys.stderr)
        traceback.print_exc(file=sys.stderr)

    def _query(self, searcher, qi: int, snap: int):
        """One timed search; the answer is kept for the oracle check."""
        bq = self.p.queries[qi]
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            td = searcher.search(bq.query, k=K)
        except Exception:
            self._fail(f"query {qi} {bq.query}")
            return None
        wall = time.perf_counter() - t0
        self.answers.append((snap, qi, td.doc_ids, td.scores))
        return wall

    def _traced_query(self, searcher, qi: int, snap: int):
        group = f"perfbench-q{len(self.per_query)}"
        self.inst.last_plan_df = None
        self.tracer.enabled = True
        n_spans = len(self.tracer.spans)
        t0 = time.perf_counter()
        self.sc.setJobGroup(group, group)
        try:
            wall = self._query(searcher, qi, snap)
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.tracer.enabled = False
        total = time.perf_counter() - t0
        if wall is None:
            return None
        rec = {"spans": (n_spans, len(self.tracer.spans))}
        rec.update(spark_counts(
            self.sc, self.sc.statusTracker().getJobIdsForGroup(group)))
        df = self.inst.last_plan_df
        rec["exchanges"] = exchange_count(df) if df is not None else None
        self.per_query.append(rec)
        return total

    def _measured_queries(self, searcher, snap: int) -> None:
        """Closed loop for ``seconds``.  A traced run instead issues every
        distinct query exactly once, traced and untraced in alternating
        order, so its counts repeat exactly and the pairs give the
        tracing overhead."""
        nq = len(self.p.queries)
        order = (range(nq) if self.trace
                 else inputs.run_order(self.p.seed, self.p.queries, 100_000))
        start = time.perf_counter()
        i = 0
        while True:
            if i >= nq if self.trace else (
                    time.perf_counter() - start >= self.seconds):
                break
            qi = order[i]
            cls = self.p.queries[qi].qclass
            if self.trace:
                if i % 2 == 0:
                    traced = self._traced_query(searcher, qi, snap)
                    plain = self._query(searcher, qi, snap)
                else:
                    plain = self._query(searcher, qi, snap)
                    traced = self._traced_query(searcher, qi, snap)
                if traced is not None and plain is not None:
                    self.pairs.append((traced, plain))
                wall = plain
            else:
                wall = self._query(searcher, qi, snap)
            if wall is not None:
                self.samples.append((cls, wall))
            i += 1
        self.m["query_phase_s"] = time.perf_counter() - start
        self.m["queries_completed"] = len(self.samples)

    def _open_and_first(self, index_dir: str, snap: int):
        t0 = time.perf_counter()
        searcher = IndexSearcher(self.spark, index_dir)
        self.m["open_s"] = time.perf_counter() - t0
        t1 = time.perf_counter()
        self._query(searcher, 0, snap)
        self.m["first_query_s"] = time.perf_counter() - t1
        return searcher

    # ---- set-up ----------------------------------------------------------

    def setup(self, open_index: bool) -> tuple[IndexSearcher | None, str]:
        """The timed set-up: materialize the corpus and build the base
        index; with ``open_index``, also open it and answer a first query."""
        p = self.p
        src = os.path.join(self.work, "corpus")
        idx = os.path.join(self.work, "index")
        n = len(p.base)
        self.tracer.enabled = self.trace
        t0 = time.perf_counter()
        corpus_df(self.spark, n, seed=p.seed).write.parquet(src)
        docs = self.spark.read.parquet(src)
        # the build submits jobs from its own threads, which do not inherit
        # a job group: its jobs are the ungrouped ones that appear meanwhile
        jobs_before = ungrouped_jobs(self.sc) if self.trace else set()
        t_build = time.perf_counter()
        build.build_index(self.spark, docs, idx, p.cfg, resume=False)
        self.m["build_s"] = time.perf_counter() - t_build
        if self.trace:
            self.build_jobs = ungrouped_jobs(self.sc) - jobs_before
        self.base_index = idx
        searcher = self._open_and_first(idx, snap=0) if open_index else None
        t_end = time.perf_counter()
        self.tracer.enabled = False
        self.m["setup_s"] = t_end - t0
        self.m["initial_visible_s"] = t_end - t_build
        if self.trace:
            self.m["build_counts"] = spark_counts(self.sc, self.build_jobs)
        got = read_table(os.path.join(idx, "docs"), ["repo", "path", "doc_id"])
        self._check_ids(got, p.base, "base index")
        return searcher, idx

    def _warm_up(self, searcher, snap: int) -> None:
        """Untimed queries until latency is steady (see WARMUP_WINDOW).
        FILTERed queries go first: the query cache admits a docset on its
        second use, so they leave both the deletes mask and the filter
        docset cached, and the loop measures the steady state."""
        self.searchers[snap] = searcher
        qs = self.p.queries
        first = sorted(range(1, len(qs)), key=lambda i: qs[i].lang_filter is None)
        medians: list[float] = []
        n = 0
        while len(medians) < WARMUP_MAX_WINDOWS:
            walls = []
            for _ in range(WARMUP_WINDOW):
                wall = self._query(searcher, first[n % len(first)], snap)
                n += 1
                if wall is not None:
                    walls.append(wall)
            medians.append(float(np.median(walls)) if walls else float("inf"))
            if (len(medians) >= 2 and abs(medians[-1] / medians[-2] - 1)
                    <= WARMUP_TOLERANCE):
                break
        self.m["warmup_queries"] = n

    def _check_ids(self, got: pd.DataFrame, want: pd.DataFrame, what: str) -> None:
        """The oracle was built on predicted doc ids; prove them."""
        key = ["repo", "path", "doc_id"]
        a = got[key].sort_values("doc_id", ignore_index=True)
        b = want[key].sort_values("doc_id", ignore_index=True)
        self.attempted += 1
        if not a.equals(b):
            self.failed += 1
            print(f"perfbench: FAILED doc ids of {what} differ from the "
                  "predicted (repo, path) rank", file=sys.stderr)

    # ---- workloads -----------------------------------------------------

    def query_headline(self) -> None:
        searcher, idx = self.setup(open_index=True)
        self.final_index = idx
        self.m["update_visible_s"] = self.m["initial_visible_s"]
        self._warm_up(searcher, 0)
        self._run_queries(searcher, 0)

    def churn(self) -> None:
        # the base index is only the commit's input: no query runs on it
        _, idx = self.setup(open_index=False)
        p = self.p
        snap_dir = os.path.join(self.work, "snapshot-1")
        new_docs = self.spark.createDataFrame(p.batch.new_docs)
        self.tracer.enabled = self.trace
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            deletes.update_documents(self.spark, idx, new_docs, snap_dir)
        except Exception:
            self.tracer.enabled = False
            self._fail("commit")
            raise
        searcher = self._open_and_first(snap_dir, snap=1)
        self.m["update_visible_s"] = time.perf_counter() - t0
        self.tracer.enabled = False
        self.final_index = snap_dir
        meta = read_table(os.path.join(snap_dir, "docmeta"),
                          ["repo", "path", "doc_id"])
        want = pd.concat([p.base, p.batch.added], ignore_index=True)
        self._check_ids(meta, want, "snapshot")
        dels = read_table(os.path.join(snap_dir, "deletes"), ["doc_id"])
        self.attempted += 1
        if not np.array_equal(np.unique(dels["doc_id"].to_numpy(np.int64)),
                              p.batch.deleted_ids):
            self.failed += 1
            print("perfbench: FAILED deleted ids differ from the replaced keys",
                  file=sys.stderr)
        written, _ = dir_bytes(snap_dir)
        delta_dirs = [os.path.join(self.work, "tmp", d)
                      for d in os.listdir(os.path.join(self.work, "tmp"))
                      if d.startswith("delta_idx_")]
        written += sum(dir_bytes(d)[0] for d in delta_dirs)
        written += dir_bytes(os.path.join(idx, "deletes"))[0]
        self.m["commit_bytes_written"] = written
        self._warm_up(searcher, 1)
        self._run_queries(searcher, 1)

    def _run_queries(self, searcher, snap: int) -> None:
        cache = searcher.query_cache
        h0, m0 = cache.hits, cache.misses
        self._measured_queries(searcher, snap)
        self.m["cache_hits"] = cache.hits - h0
        self.m["cache_misses"] = cache.misses - m0

    # ---- oracle check ----------------------------------------------------

    def check(self) -> None:
        """Every answer against its snapshot's oracle answer, which the
        prep thread computed while Spark started."""
        for snap, qi, ids, scores in self.answers:
            want_ids, want_scores = self.p.expected[snap, qi]
            if not same_topk(ids, scores, want_ids, want_scores):
                self.failed += 1
                print(f"perfbench: FAILED oracle mismatch on snapshot {snap} "
                      f"for {self.p.queries[qi].query}: got {list(ids)} "
                      f"{list(scores)}, want {list(want_ids)} "
                      f"{list(want_scores)}", file=sys.stderr)

    # ---- driver-side kernel replay (traced runs) ---------------------------

    def replay(self) -> None:
        """Re-run the kernel of each distinct plain term query in-process:
        fetch its postings rows per segment as the engine's scan does,
        then time ``rows_to_posting_map`` and ``score_segment``.  The
        deletes mask and FILTER/prefix/point clauses are not replayed."""
        from lucene_solr_8_7_0_spark.config import DEFAULT_TOTAL_HITS_THRESHOLD
        from lucene_solr_8_7_0_spark.functions import wand
        from lucene_solr_8_7_0_spark.operators import search as search_mod
        from lucene_solr_8_7_0_spark.operators.segments import SENTINEL_TERM
        from lucene_solr_8_7_0_spark.plans import planner
        from pyspark.sql import functions as F

        snap = max(self.searchers)
        searcher = self.searchers[snap]
        cols = ["segment_id", "term", "df", "ttf", "singleton_doc",
                "singleton_freq", "doc_blocks", "doc_block_offsets",
                "freq_blocks", "freq_block_offsets", "block_last_docs",
                "impacts_flat", "impacts_offsets"]
        self.replays: list[dict] = []
        n_spans = len(self.tracer.spans)
        self.tracer.enabled = True
        try:
            for bq in self.p.queries:
                if bq.lang_filter is not None:
                    continue
                q = searcher._rewrite(bq.query)
                if (planner.collect_multi_term_preds(q)
                        or planner.collect_point_queries(q)):
                    continue
                terms = planner.collect_terms(q)
                cq = planner.compile_query(
                    q, searcher.stats, searcher._term_stats(terms), "top_scores")
                if cq is None:
                    continue
                need_pos = planner.has_phrase(q)
                sel = cols + (["pos_blocks", "pos_block_offsets"] if need_pos else [])
                rows = (searcher.segments
                        .filter(F.col("term").isin(list(terms) + [SENTINEL_TERM]))
                        .select(*sel).toPandas())
                rec = {"rows": 0, "bytes": 0, "convert": 0.0, "score": 0.0,
                       "present": 0, "decoded": 0}
                for seg_id, seg in rows.groupby("segment_id"):
                    sent = seg[seg["term"] == SENTINEL_TERM]
                    post = seg[seg["term"] != SENTINEL_TERM]
                    if len(sent) == 0:
                        continue
                    norms = np.frombuffer(sent["doc_blocks"].iloc[0],
                                          dtype=np.uint8).astype(np.int64)
                    rec["rows"] += len(post)
                    for c in ("doc_blocks", "freq_blocks", "pos_blocks"):
                        if c in post:
                            rec["bytes"] += int(post[c].map(len).sum())
                    multi = post[post["singleton_doc"] < 0]
                    rec["present"] += 2 * int(
                        multi["doc_block_offsets"].map(len).sum() - len(multi))
                    t0 = time.perf_counter()
                    pmap = search_mod.rows_to_posting_map(post)
                    t1 = time.perf_counter()
                    before = self.tracer.counters.get("kernel.blocks_decoded", 0)
                    wand.score_segment(
                        pmap, norms, cq, K,
                        total_hits_threshold=DEFAULT_TOTAL_HITS_THRESHOLD,
                        prune=True, num_docs=int(sent["df"].iloc[0]))
                    t2 = time.perf_counter()
                    rec["decoded"] += (self.tracer.counters.get(
                        "kernel.blocks_decoded", 0) - before)
                    rec["convert"] += t1 - t0
                    rec["score"] += t2 - t1
                self.replays.append(rec)
        finally:
            self.tracer.enabled = False
            del self.tracer.spans[n_spans:]  # replay spans are not query phases
