"""Reduce a finished ``Bench`` to the end-to-end and per-layer metrics."""

from __future__ import annotations

import os
import statistics

import numpy as np
import pyarrow.parquet as pq

from inputs import CLASSES
from tracing import self_time
from workloads import dir_bytes

TAIL_PERCENTILE = 75

# name -> unit; the order is the report order
END_TO_END = {
    "setup_s": "s",
    "build_docs_per_s": "docs/s",
    "query_p50_ms": "ms",
    "query_tail_ms": "ms",
    "queries_per_s": "1/s",
    "update_visible_s": "s",
    "index_bytes_per_source_byte": "ratio",
}

PER_LAYER = {
    "build.docs_s": "s", "build.segments_s": "s", "build.docmeta_s": "s",
    "build.termdict_s": "s", "build.spark_jobs": "count",
    "build.spark_stages": "count", "build.spark_tasks": "count",
    "build.failed_tasks": "count",
    "storage.segments_bytes": "bytes", "storage.docs_bytes": "bytes",
    "storage.docmeta_bytes": "bytes", "storage.termdict_bytes": "bytes",
    "storage.files": "count", "storage.postings_rows": "count",
    "storage.terms": "count",
    "deletes.delete_s": "s", "merge.delta_build_s": "s", "merge.merge_s": "s",
    "merge.bytes_written_per_added_byte": "ratio",
    "search.open_ms": "ms", "search.first_query_ms": "ms",
    "search.rewrite_ms": "ms", "search.term_stats_ms": "ms",
    "search.plan_ms": "ms", "search.exec_ms": "ms", "search.merge_ms": "ms",
    **{f"query_p50_ms.{c}": "ms" for c in CLASSES},
    "planner.compile_ms": "ms",
    "spark.jobs_per_query": "count", "spark.stages_per_query": "count",
    "spark.tasks_per_query": "count", "spark.exchanges_per_query": "count",
    "search.one_stage_share": "ratio",
    "query_cache.hit_rate": "ratio",
    "kernel.fetch_rows": "count", "kernel.postings_bytes": "bytes",
    "kernel.convert_ms": "ms", "kernel.score_ms": "ms",
    "kernel.blocks_decoded": "count", "kernel.blocks_present": "count",
    "kernel.block_decode_ratio": "ratio",
    "trace.overhead_share": "ratio",
    "mem.driver_hwm_mb": "MiB", "mem.jvm_hwm_mb": "MiB",
    "mem.worker_hwm_mb": "MiB",
}


def tail(walls: list[float]) -> tuple[float, int]:
    """(TAIL_PERCENTILE-th nearest-rank sample, samples beyond it)."""
    w = sorted(walls)
    rank = max(1, -(-TAIL_PERCENTILE * len(w) // 100))
    return w[rank - 1], len(w) - rank


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def end_to_end(b) -> tuple[dict, dict]:
    """(values, notes) for every END_TO_END metric."""
    walls = [w for _, w in b.samples]
    t, beyond = tail(walls)
    index_bytes, _ = dir_bytes(b.final_index)
    values = {
        "setup_s": b.m["setup_s"],
        "build_docs_per_s": len(b.p.base) / b.m["build_s"],
        "query_p50_ms": 1000 * _median(walls),
        "query_tail_ms": 1000 * t,
        "queries_per_s": b.m["queries_completed"] / b.m["query_phase_s"],
        "update_visible_s": b.m["update_visible_s"],
        "index_bytes_per_source_byte": index_bytes / b.p.source_bytes,
    }
    notes = {
        "query_p50_ms": f"n={len(walls)}, after {b.m['warmup_queries']} warm-up queries",
        "query_tail_ms": f"p{TAIL_PERCENTILE}, n={len(walls)}, {beyond} beyond",
        "queries_per_s": "one closed-loop client",
        "build_docs_per_s": f"{len(b.p.base)} docs, one build_index",
    }
    return values, notes


def _phase_ms(b, name: str) -> float:
    """Median over traced queries of the time spent in spans ``name``."""
    per = []
    for rec in b.per_query:
        lo, hi = rec["spans"]
        per.append(sum(s.end - s.start for s in b.tracer.spans[lo:hi]
                       if s.name == name))
    return 1000 * _median(per)


def _exec_ms(b) -> float:
    per = []
    for rec in b.per_query:
        lo, hi = rec["spans"]
        per += [self_time(b.tracer.spans, i) for i in range(lo, hi)
                if b.tracer.spans[i].name == "search.search"]
    return 1000 * _median(per)


def per_layer(b, mem: dict) -> dict:
    tr = b.tracer
    v: dict = {}
    manifest = pq.read_table(os.path.join(b.base_index, "manifest")).to_pandas()
    for stage in ("docs", "segments", "docmeta", "termdict"):
        v[f"build.{stage}_s"] = float(
            manifest.loc[manifest["stage"] == stage, "wall_s"].sum())
    bc = b.m["build_counts"]
    v["build.spark_jobs"] = bc["jobs"]
    v["build.spark_stages"] = bc["stages"]
    v["build.spark_tasks"] = bc["tasks"]
    v["build.failed_tasks"] = bc["failed_tasks"]

    idx = b.final_index
    for table in ("segments", "docs", "docmeta", "termdict"):
        v[f"storage.{table}_bytes"] = dir_bytes(os.path.join(idx, table))[0]
    v["storage.files"] = dir_bytes(idx)[1]
    v["storage.postings_rows"] = pq.ParquetDataset(
        os.path.join(idx, "segments")).read(columns=["segment_id"]).num_rows
    v["storage.terms"] = pq.ParquetDataset(
        os.path.join(idx, "termdict")).read(columns=["term"]).num_rows

    v["deletes.delete_s"] = sum(tr.durations("deletes.delete_documents"))
    v["merge.delta_build_s"] = sum(
        tr.durations("build.build_index", parent_name="merge.add_documents"))
    v["merge.merge_s"] = sum(tr.durations("merge.merge_indexes"))
    v["merge.bytes_written_per_added_byte"] = (
        b.m.get("commit_bytes_written", 0) / b.p.added_bytes
        if b.p.added_bytes else 0.0)

    v["search.open_ms"] = 1000 * b.m["open_s"]
    v["search.first_query_ms"] = 1000 * b.m["first_query_s"]
    v["search.rewrite_ms"] = _phase_ms(b, "search.rewrite")
    v["search.term_stats_ms"] = _phase_ms(b, "search.term_stats")
    v["search.plan_ms"] = _phase_ms(b, "search.plan")
    v["search.exec_ms"] = _exec_ms(b)
    v["search.merge_ms"] = _phase_ms(b, "search.merge")
    for c in CLASSES:
        v[f"query_p50_ms.{c}"] = 1000 * _median(w for k, w in b.samples if k == c)
    v["planner.compile_ms"] = _phase_ms(b, "planner.compile")

    ran = [r for r in b.per_query if r["exchanges"] is not None]
    n = max(len(b.per_query), 1)
    v["spark.jobs_per_query"] = sum(r["jobs"] for r in b.per_query) / n
    v["spark.stages_per_query"] = sum(r["stages"] for r in b.per_query) / n
    v["spark.tasks_per_query"] = sum(r["tasks"] for r in b.per_query) / n
    v["spark.exchanges_per_query"] = (
        sum(r["exchanges"] for r in ran) / len(ran) if ran else 0.0)
    v["search.one_stage_share"] = (
        sum(r["exchanges"] == 0 for r in ran) / len(ran) if ran else 0.0)
    looked = b.m["cache_hits"] + b.m["cache_misses"]
    v["query_cache.hit_rate"] = b.m["cache_hits"] / looked if looked else 0.0

    reps = b.replays
    v["kernel.fetch_rows"] = _median(r["rows"] for r in reps)
    v["kernel.postings_bytes"] = _median(r["bytes"] for r in reps)
    v["kernel.convert_ms"] = 1000 * _median(r["convert"] for r in reps)
    v["kernel.score_ms"] = 1000 * _median(r["score"] for r in reps)
    v["kernel.blocks_decoded"] = _median(r["decoded"] for r in reps)
    v["kernel.blocks_present"] = _median(r["present"] for r in reps)
    present = sum(r["present"] for r in reps)
    v["kernel.block_decode_ratio"] = (
        sum(r["decoded"] for r in reps) / present if present else 0.0)

    traced = [t for t, _ in b.pairs]
    plain = [p for _, p in b.pairs]
    v["trace.overhead_share"] = (
        _median(traced) / _median(plain) - 1 if plain else 0.0)
    v.update(mem)
    return {k: float(np.float64(v[k])) for k in PER_LAYER}
