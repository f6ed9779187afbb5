"""Per-layer metrics of the traced run, and the end-to-end metric each
one should move (on the workload named with it).

Time metrics are means per call of a span: ``_s`` in seconds, ``_ms``
in milliseconds. Self time excludes the time of wrapped calls made from
inside the span. A layer that a workload leaves idle reports 0.
"""

from __future__ import annotations

import numpy as np

from workloads import BATCH_SIZE

# metric -> the end-to-end metric(s) it should move, on the workload named
# (metrics outside BENCHMARK.json's end_to_end list are printed, not gated)
_LIVE = " (live_index)"
_ANN = " (ann_serve)"
MOVES = {
    "session.start_s": "setup_s (both)",
    "docid.assign_s": "setup_s, build_turns_per_s, append_turns_per_s" + _LIVE,
    "segment_build.wave_s": "setup_s, build_turns_per_s, append_turns_per_s, "
                            "maintenance_s" + _LIVE,
    "segment_build.postings_bytes_per_turn":
        "index_bytes_per_text_byte" + _LIVE,
    "merge.segments_self_s": "setup_s, build_turns_per_s" + _LIVE,
    "merge.dictionary_s": "setup_s, build_turns_per_s, append_turns_per_s"
                          + _LIVE,
    "merge.delta_s": "append_turns_per_s, maintenance_s" + _LIVE,
    "merge.fold_s": "maintenance_s" + _LIVE,
    "index_store.warm_s": "setup_s" + _LIVE,
    "index_store.term_dfs_ms": "query_p50_ms, batch_qps, fresh_query_p50_ms"
                               + _LIVE,
    "index_store.read_postings_ms": "query_p50_ms, batch_qps" + _LIVE,
    "index_store.postings_rows_read": "query_p50_ms, batch_qps" + _LIVE,
    "index_store.disk_bytes": "index_bytes_per_text_byte" + _LIVE,
    "index_store.write_amp": "append_turns_per_s, maintenance_s" + _LIVE,
    "index_store.visible_deltas": "fresh_query_p50_ms" + _LIVE,
    "wand.topk_self_ms": "query_p50_ms, batch_qps" + _LIVE,
    "wand.result_ms": "query_p50_ms" + _LIVE,
    "wand.blocks_total": "batch_qps, query_tail_ms" + _LIVE,
    "wand.blocks_decoded": "batch_qps, query_tail_ms" + _LIVE,
    "wand.blocks_skipped": "batch_qps, query_tail_ms" + _LIVE,
    "wand.candidates": "batch_qps, query_tail_ms" + _LIVE,
    "wand.skip_ratio": "batch_qps, query_tail_ms" + _LIVE,
    "wand.spark_jobs_per_query": "query_p50_ms, filtered_query_p50_ms, "
                                 "fresh_query_p50_ms" + _LIVE,
    "wand.distributed_query_share": "query_p50_ms, filtered_query_p50_ms, "
                                    "fresh_query_p50_ms" + _LIVE,
    "incremental.append_s": "append_turns_per_s" + _LIVE,
    "delete.delete_s": "maintenance_s" + _LIVE,
    "delete.compact_s": "maintenance_s" + _LIVE,
    "similarity.build_s": "setup_s" + _ANN,
    "similarity.probe_ms": "query_p50_ms" + _ANN,
    "similarity.searcher_self_ms": "query_p50_ms, fresh_query_p50_ms" + _ANN,
    "similarity.wrapper_self_ms": "query_p50_ms" + _ANN,
    "similarity.batch_s": "batch_qps" + _ANN,
    "similarity.compression_ratio": "batch_qps" + _ANN,
    "similarity.filtered_ms": "filtered_query_p50_ms" + _ANN,
    "spark.jobs_per_op": "every latency metric (both); a pure-numpy kernel "
                         "change leaves it unchanged",
    "spark.stages_per_op": "every latency metric (both)",
    "spark.tasks_per_op": "every latency metric (both)",
    "trace.spans": "tracing overhead",
    "trace.span_cost_us": "tracing overhead",
}

# single-query BM25 operations: one query per op
_BM25_QUERY_OPS = ("bm25.single", "bm25.filtered", "live.query")
# the warm single queries, which the query-path layers report on
_SINGLE = ("op.bm25.single",)


def _mean(xs) -> float:
    return float(np.mean(xs)) if len(xs) else 0.0


def derive(run, tracer, jobs) -> dict[str, float]:
    """Every per-layer value of one traced run."""
    st = tracer.self_times()
    dur = tracer.durations()

    def self_s(name, *ops):
        if not ops:
            return _mean(st.get(name, []))
        return _mean([t for op in ops for t in st.get((name, op), [])])

    out = {
        "session.start_s": self_s("session.start"),
        "docid.assign_s": self_s("docid.assign"),
        "segment_build.wave_s": self_s("segment_build.wave"),
        "segment_build.postings_bytes_per_turn":
            run.layer.get("segment_build.postings_bytes_per_turn", 0.0),
        "merge.segments_self_s": self_s("merge.segments"),
        "merge.dictionary_s": self_s("merge.dictionary"),
        "merge.delta_s": self_s("merge.delta"),
        "merge.fold_s": self_s("merge.fold"),
        "index_store.warm_s": self_s("index_store.warm"),
        "index_store.term_dfs_ms":
            1000 * self_s("index_store.term_dfs", *_SINGLE),
        "index_store.read_postings_ms":
            1000 * self_s("index_store.read_postings", *_SINGLE),
        "index_store.disk_bytes": run.layer.get("index_store.disk_bytes", 0.0),
        "index_store.write_amp": run.layer.get("index_store.write_amp", 0.0),
        "index_store.visible_deltas":
            run.layer.get("index_store.visible_deltas", 0.0),
        "incremental.append_s": self_s("incremental.append"),
        "delete.delete_s": self_s("delete.delete"),
        "delete.compact_s": self_s("delete.compact"),
        "similarity.build_s": self_s("similarity.build"),
        "similarity.probe_ms":
            1000 * self_s("similarity.probe", "op.ann.single"),
        "similarity.searcher_self_ms":
            1000 * self_s("similarity.searcher", "op.ann.single"),
        "similarity.wrapper_self_ms":
            1000 * self_s("similarity.wrapper", "op.ann.single"),
        "similarity.batch_s": _mean(dur.get("op.ann.batch", [])),
        "similarity.compression_ratio":
            run.layer.get("similarity.compression_ratio", 0.0),
        "similarity.filtered_ms": 1000 * _mean(dur.get("op.ann.filtered", [])),
    }

    reads = tracer.counts.get("index_store.postings_reads", 0)
    out["index_store.postings_rows_read"] = (
        tracer.counts.get("index_store.postings_rows_read", 0) / reads
        if reads else 0.0
    )

    # wand: kernel self time, and result materialisation (the result
    # DataFrame built inside bm25_topk_batch plus the caller's toPandas)
    out["wand.topk_self_ms"] = 1000 * self_s("wand.topk", *_SINGLE)
    out["wand.result_ms"] = 1000 * (
        self_s("spark.create_df", *_SINGLE)
        + self_s("wand.to_pandas", *_SINGLE)
    )
    n_queries = len(dur.get("op.bm25.single", [])) + len(
        dur.get("op.bm25.filtered", [])
    ) + len(dur.get("op.live.query", [])) + BATCH_SIZE * len(
        dur.get("op.bm25.batch", [])
    )
    qm = run.query_metrics.snapshot() if run.query_metrics else {}
    for f in ("blocks_total", "blocks_decoded", "blocks_skipped",
              "candidates"):
        out[f"wand.{f}"] = qm.get(f, 0) / n_queries if n_queries else 0.0
    total = qm.get("blocks_total", 0)
    out["wand.skip_ratio"] = (
        qm.get("blocks_skipped", 0) / total if total else 0.0
    )

    q_ops = jobs.of(*_BM25_QUERY_OPS)
    out["wand.spark_jobs_per_query"] = _mean([o["jobs"] for o in q_ops])
    out["wand.distributed_query_share"] = _mean(
        [1.0 if o["jobs"] > 1 else 0.0 for o in q_ops]
    )
    for key in ("jobs", "stages", "tasks"):
        out[f"spark.{key}_per_op"] = _mean([o[key] for o in jobs.ops])
    out["trace.spans"] = float(len(tracer.spans))
    return out


def jobs_by_kind(jobs) -> dict[str, str]:
    """Mean Spark jobs/stages/tasks per operation, by operation kind."""
    out = {}
    for kind in dict.fromkeys(o["kind"] for o in jobs.ops):
        ops = jobs.of(kind)
        out[kind] = ", ".join(
            f"{_mean([o[k] for o in ops]):.3g} {k}"
            for k in ("jobs", "stages", "tasks")
        ) + f" per op over {len(ops)} ops"
    return out
