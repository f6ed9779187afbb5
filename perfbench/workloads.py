"""The benchmark's workloads. Each one drives the engine only through
its public functions, from one driver thread (a closed loop with one
client), on inputs generated from the run's seed.

A workload fills ``run.e2e`` with the gated end-to-end metrics it
measures, ``run.report`` with the figures printed beside them, and
``run.layer`` with per-layer values measured outside spans. Engine
functions are always called through their module (``wand.bm25_topk_batch``
and so on) so that the traced run's wrappers see every call.
"""

from __future__ import annotations

import os
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import numpy as np

TURNS_PER_CONV = 25
K = 10

# live_index: corpus, serving and maintenance sizes
BM25_TURNS = 10_000
QUERY_POOL = 100
BATCH_SIZE = 20
APPEND_CONVS = 20  # 500 turns per append
DELETE_DOCS = 100  # one contiguous range per cycle
# correctness gate: queries of the seeded pool that every run answers
# (one serving round at least), checked against brute force; q-003 is a
# high-df query, which exercises block skipping
ORACLE_SINGLE = ("q-000", "q-003")  # single and batched answers
ORACLE_FILTERED = ("q-000",)  # filtered answers

# ann_serve sizes: twice the engine's 15k-row exact-by-size switch
ANN_VECTORS = 30_000
ANN_DIM = 128
ANN_CLUSTERS = 256
ANN_NOISE = 1.0
ANN_CELLS = 128
ANN_PROBE = 8
ANN_QUERY_POOL = 200
ANN_ALLOW = 500  # below the 1,000-id exact-by-filter switch
ANN_BATCH = 25
ANN_FRESH = 5  # queries right after the build commit
# mean recall@10 of the probed queries below which a run fails: just under
# the lowest seed seen (0.639 over 43 seeds, mean 0.69); a broken planner
# or searcher falls far below it
ANN_RECALL_FLOOR = 0.60


def bench_config():
    """Index layout of the BM25 workload (independent of core count)."""
    from opensearch_jvector_spark.config import EngineConfig

    return EngineConfig(
        block_size=128,
        docs_per_segment=2048,
        segments_per_chunk=4,
        term_buckets=4,
        max_row_postings=1 << 18,
    )


def canonical(rows) -> list:
    """(doc_id, score) ranking robust to sub-ulp summation-order ties:
    (round(score, 9) desc, doc_id asc) — the rule the engine's tests use."""
    return sorted(
        ((int(d), round(float(s), 9)) for d, s in rows),
        key=lambda x: (-x[1], x[0]),
    )


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it (the maximum when there are ten or fewer)."""
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def file_sizes(path: str) -> dict:
    return {
        os.path.join(d, f): os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path)
        for f in fs
    }


class Run:
    """Shared state of one run: session, seed, clock budget, the tracer
    and job counter (inert unless traced), and operation accounting."""

    def __init__(self, spark, seed, seconds, work, tracer, jobs):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.tracer = tracer
        self.jobs = jobs
        self.attempted = 0
        self.failed = 0
        self.e2e: dict[str, float] = {}
        self.report: dict[str, tuple] = {}  # name -> (value, unit)
        self.layer: dict[str, float] = {}
        self.query_metrics = None

    def op(self, kind: str, fn):
        """Run one operation; returns (seconds, result), with result None
        when it raised (counted as failed)."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.jobs.op(kind), self.tracer.span("op." + kind):
                res = fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return time.perf_counter() - t0, None
        return time.perf_counter() - t0, res

    def mix(self, seconds: float, phases, at_least: int = 1) -> dict:
        """Interleaved closed loops over one window, so that every phase
        samples the same stretch of time: a round runs ``per_round``
        operations of each phase in turn, and rounds repeat for
        ``seconds`` and at least ``at_least`` times. ``phases`` holds
        (kind, items, call, check, per_round); items are used cyclically
        and ``check(item, result)`` validates each answer. Returns the
        latencies of the operations that did not raise, by kind."""
        lat = {kind: [] for kind, *_ in phases}
        rounds, t_end = 0, time.perf_counter() + seconds
        while rounds < at_least or time.perf_counter() < t_end:
            for kind, items, call, check, per_round in phases:
                for _ in range(per_round):
                    item = items[len(lat[kind]) % len(items)]
                    sec, res = self.op(kind, lambda: call(item))
                    if res is not None:
                        lat[kind].append(sec)
                        check(item, res)
            rounds += 1
        return lat

    def bad(self, what: str) -> None:
        """Count the last operation's answer as incorrect."""
        self.failed += 1
        print(f"perfbench: incorrect result: {what}", file=sys.stderr)

    def to_pandas(self, df):
        with self.tracer.span("wand.to_pandas"):
            return df.toPandas()

    def serving(self, lat, blat, batch_size, flat) -> None:
        t_val, t_pct, t_n = tail(lat)
        self.e2e["batch_qps"] = batch_size * len(blat) / sum(blat)
        self.report.update(
            query_p50_ms=(1000 * float(np.median(lat)), "ms"),
            query_tail_ms=(1000 * t_val, f"ms at p{t_pct:.4g} of n={t_n}"),
            filtered_query_p50_ms=(1000 * float(np.median(flat)), "ms"),
        )


# ------------------------------------------------------------ live_index


def _queries(seed: int, n: int):
    from opensearch_jvector_spark.plans.query import Query
    from opensearch_jvector_spark.sources.transcripts import query_set

    return [
        Query(s["query_id"], tuple(s["terms"]), s["k"])
        for s in query_set(n, seed=seed, k=K)
    ]


def _topk_rows(run: Run, pdf, qids, n_docs: int, allowed=None) -> dict:
    """Structural checks on a (query_id, doc_id, score, rank) answer;
    returns {query_id: [(doc_id, score), ...]} in rank order."""
    out = {}
    for qid, g in pdf.groupby("query_id"):
        g = g.sort_values("rank")
        docs = g["doc_id"].to_numpy()
        scores = g["score"].to_numpy()
        ok = (
            len(g) <= K
            and list(g["rank"]) == list(range(1, len(g) + 1))
            and len(set(docs.tolist())) == len(docs)
            and bool(np.all(np.diff(scores) <= 0))
            and bool(np.all((docs >= 0) & (docs < n_docs)))
            and (allowed is None or bool(np.all(allowed(docs))))
        )
        if not ok:
            run.bad(f"malformed top-k for {qid}")
        out[qid] = list(zip(docs.tolist(), scores.tolist()))
    if not set(out) <= set(qids):
        run.bad("answer names a query that was not asked")
    return out


def _is_user_turn(doc_ids):
    # base-corpus doc ids are conv_offset + turn_idx with 25 turns per
    # conversation, and the generator's role is "user" iff turn_idx % 3 == 0
    return (doc_ids % TURNS_PER_CONV) % 3 == 0


def _oracle(docs, q, filter_cond=None) -> list:
    """Canonical ``bm25_topk_bruteforce`` answer over ``docs``, scoring
    only ``filter_cond`` rows with full-corpus statistics."""
    from opensearch_jvector_spark.operators.bruteforce import (
        bm25_topk_bruteforce,
    )

    return canonical(
        (r["doc_id"], r["score"])
        for r in bm25_topk_bruteforce(
            docs, list(q.terms), K, filter_cond=filter_cond
        ).collect()
    )


def _oracle_check(run: Run, expected, q, got, what: str) -> None:
    """An engine answer against the oracle's; an empty answer fails when
    brute force finds rows."""
    if canonical(got) != expected:
        run.bad(f"{what} answer to {q.query_id} differs from "
                "bm25_topk_bruteforce")


def live_index(run: Run) -> None:
    """Build and warm a BM25 index, serve it, then run maintenance
    cycles on the same handle with queries after every commit."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from opensearch_jvector_spark.operators import (
        delete, docid, merge, segment_build, wand,
    )
    from opensearch_jvector_spark.sources.transcripts import transcripts
    from opensearch_jvector_spark.streaming import incremental

    spark = run.spark
    cfg = bench_config()
    root = os.path.join(run.work, "index")

    # ---- set-up: seeded corpus -> doc ids -> build -> warm
    t0 = time.perf_counter()
    raw = transcripts(
        spark, BM25_TURNS // TURNS_PER_CONV, TURNS_PER_CONV, seed=run.seed,
        num_partitions=4,
    ).persist()
    raw.count()
    t_build = time.perf_counter()
    docs = docid.assign_doc_ids(raw, dense_turn_idx=True).select(
        "doc_id", "text", "role"
    )
    store = segment_build.build_index(
        spark, docs.select("doc_id", "text"), root, cfg, resume=False,
        layout="ranged", doc_bounds=(0, BM25_TURNS - 1),
    )
    build_sec = time.perf_counter() - t_build
    store.warm(spark)
    # the filter: user turns, a third of the documents, as a table
    allow = docs.filter(F.col("role") == "user").select("doc_id").persist()
    allow.count()
    run.e2e["setup_s"] = time.perf_counter() - t0

    stats, _ = store.read_stats()
    text_bytes = docs.agg(F.sum(F.length("text"))).collect()[0][0]
    disk = sum(file_sizes(root).values())
    run.report["build_turns_per_s"] = (BM25_TURNS / build_sec, "turns/s")
    run.report["index_bytes_per_text_byte"] = (disk / text_bytes, "B/B")
    run.layer["index_store.disk_bytes"] = disk
    run.layer["segment_build.postings_bytes_per_turn"] = (
        stats["postings_bytes"] / stats["n_docs"]
    )

    # ---- serving the warm store (no commit yet)
    qs = _queries(run.seed, QUERY_POOL)
    qm = None

    def ask(queries, filter_docs=None):
        return run.to_pandas(wand.bm25_topk_batch(
            spark, store, queries, filter_docs=filter_docs, metrics=qm
        ))

    # untimed warm-up of each phase: lazy JVM and worker set-up paid once
    for q in qs[:2]:
        ask([q])
    ask(qs[:BATCH_SIZE])
    ask(qs[:1], allow)
    # work counters cover the timed queries only
    qm = wand.QueryMetrics(spark) if run.tracer.enabled else None
    run.query_metrics = qm

    # the first answer to each query in each phase; a query the engine
    # leaves out of an answer gets no rows
    got: dict = {"single": {}, "batch": {}, "filtered": {}, "post-fold": {}}

    def keeper(phase, allowed=None):
        def check(item, pdf):
            batch = item if isinstance(item, list) else [item]
            res = _topk_rows(run, pdf, [q.query_id for q in batch],
                             BM25_TURNS, allowed)
            for q in batch:
                got[phase].setdefault(q.query_id, res.get(q.query_id, []))
        return check

    batches = [qs[i:i + BATCH_SIZE] for i in range(0, len(qs), BATCH_SIZE)]
    lat = run.mix(run.seconds, [
        ("bm25.filtered", qs, lambda q: ask([q], allow),
         keeper("filtered", _is_user_turn), 1),
        ("bm25.single", qs, lambda q: ask([q]), keeper("single"), 10),
        ("bm25.batch", batches, ask, keeper("batch"), 12),
    ])
    lat, blat, flat = (
        lat["bm25.single"], lat["bm25.batch"], lat["bm25.filtered"]
    )
    run.serving(lat, blat, BATCH_SIZE, flat)

    # ---- maintenance cycles: append -> query -> delete -> query ->
    # compact -> fold -> query, no warm() after any commit
    truth = docs  # source of truth for compaction, and for the oracle
    deleted = np.empty(0, np.int64)
    fresh, maint, appended, append_time = [], [], 0, 0.0
    written, text_written, visible = 0, 0, []

    def after_commit(q):
        """One query on the just-committed snapshot; its rows, or None."""
        n_max = store.read_stats()[0]["n_chunks"] * cfg.docs_per_chunk
        visible.append(len(store.read_stats()[0].get("deltas", [])))
        dead = deleted
        sec, pdf = run.op("live.query", lambda: ask([q]))
        if pdf is None:
            return None
        fresh.append(sec)
        return _topk_rows(run, pdf, [q.query_id], n_max,
                          lambda d: ~np.isin(d, dead)).get(q.query_id, [])

    cycle, t_end = 0, time.perf_counter() + run.seconds
    while cycle == 0 or time.perf_counter() < t_end:
        batch = (
            transcripts(spark, APPEND_CONVS, TURNS_PER_CONV,
                        seed=run.seed * 1000 + cycle + 1)
            .withColumn("conv_id", F.concat(F.lit(f"app{cycle}-"), "conv_id"))
            .select("conv_id", "turn_idx", "text", "role")
            .persist()
        )
        n_new = batch.count()
        text_written += batch.agg(F.sum(F.length("text"))).collect()[0][0]
        base = store.read_stats()[0]["n_chunks"] * cfg.docs_per_chunk
        before = file_sizes(root)
        sec, _ = run.op(
            "live.append",
            lambda: incremental.append_index(
                spark, store, batch.select("conv_id", "turn_idx", "text"),
                f"app-{run.seed}-{cycle}",
            ),
        )
        written += sum(
            s for p, s in file_sizes(root).items() if before.get(p) != s
        )
        appended += n_new
        append_time += sec
        # appended turns get chunk_base + rank(conv_id, turn_idx) in the
        # batch; derived here independently of the engine's docid code
        rank = F.row_number().over(Window.orderBy("conv_id", "turn_idx"))
        truth = truth.unionByName(batch.select(
            (rank - 1 + base).cast("long").alias("doc_id"), "text", "role"
        ))
        after_commit(qs[3 * cycle])

        lo = 1 + cycle * 3 * DELETE_DOCS  # disjoint ranges in chunk 0
        ids = spark.range(lo, lo + DELETE_DOCS).select(
            F.col("id").alias("doc_id")
        )
        m0 = time.perf_counter()
        run.op("live.delete", lambda: delete.delete_docs(
            spark, store, ids, f"del-{run.seed}-{cycle}"))
        m_del = time.perf_counter() - m0
        deleted = np.concatenate(
            [deleted, np.arange(lo, lo + DELETE_DOCS, dtype=np.int64)]
        )
        after_commit(qs[3 * cycle + 1])

        truth = truth.persist()
        m0 = time.perf_counter()
        run.op("live.compact", lambda: delete.compact_deletes(
            spark, store, truth.select("doc_id", "text")))
        run.op("live.fold", lambda: merge.fold_deltas(spark, store))
        maint.append(m_del + time.perf_counter() - m0)
        # q-003 (a high-df term) on the first cycle
        last_q = qs[3 * cycle + 3]
        last = after_commit(last_q)
        cycle += 1

    # ---- correctness gate, outside the timed windows: batched answers
    # equal single ones; sampled warm answers, and the last answer after
    # compaction and fold, equal brute force
    for qid, rows in got["batch"].items():
        if qid in got["single"] and canonical(rows) != canonical(
            got["single"][qid]
        ):
            run.bad(f"{qid}: batched answer differs from single")
    if last is not None:
        got["post-fold"][last_q.query_id] = last
    live_docs = truth.filter(~F.col("doc_id").isin([int(x) for x in deleted]))
    checks = [
        (docs, q, None, ("single", "batch"))
        for q in qs if q.query_id in ORACLE_SINGLE
    ] + [
        (docs, q, F.col("role") == "user", ("filtered",))
        for q in qs if q.query_id in ORACLE_FILTERED
    ] + [(live_docs, last_q, None, ("post-fold",))]
    # the brute-force jobs are small: run them side by side
    with ThreadPoolExecutor(len(checks)) as pool:
        expected = list(pool.map(lambda c: _oracle(*c[:3]), checks))
    for (_, q, _, phases), exp in zip(checks, expected):
        for phase in phases:
            if q.query_id in got[phase]:  # absent: the operation raised
                _oracle_check(run, exp, q, got[phase][q.query_id], phase)

    run.report["fresh_query_p50_ms"] = (1000 * float(np.median(fresh)), "ms")
    run.report["maintenance_s"] = (float(np.median(maint)), "s")
    run.report["append_turns_per_s"] = (appended / append_time, "turns/s")
    run.layer["index_store.write_amp"] = written / text_written
    run.layer["index_store.visible_deltas"] = float(np.mean(visible))


# -------------------------------------------------------------- ann_serve


def _ann_inputs(seed: int, table: str, checks: str) -> None:
    """Generate ``ann_serve``'s vectors from the seed and write them as
    a four-file Parquet table; save the queries, the allow-list and the
    exact answers the checks need to ``checks`` (.npz). Run in a child
    process, so that the driver's peak RSS is the engine's alone."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(ANN_CLUSTERS, ANN_DIM))
    c = rng.integers(0, ANN_CLUSTERS, ANN_VECTORS + ANN_QUERY_POOL)
    V = centers[c] + ANN_NOISE * rng.normal(size=(len(c), ANN_DIM))
    X, Q = V[:ANN_VECTORS], V[ANN_VECTORS:]
    ids = np.arange(ANN_VECTORS, dtype=np.int64)
    allow = np.sort(rng.choice(ANN_VECTORS, ANN_ALLOW, replace=False))

    os.makedirs(table)
    step = ANN_VECTORS // 4
    for lo in range(0, ANN_VECTORS, step):
        rows = X[lo:lo + step]
        pq.write_table(pa.table({
            "vec_id": ids[lo:lo + step],
            "embedding": pa.ListArray.from_arrays(
                np.arange(0, rows.size + 1, ANN_DIM, dtype=np.int32),
                rows.ravel(),
            ),
        }), os.path.join(table, f"part-{lo // step}.parquet"))

    # exact cosine top-k of every query, ties to the lower id
    xn = np.linalg.norm(X, axis=1)
    S = (X @ Q.T) / np.outer(xn, np.linalg.norm(Q, axis=1))
    truth = np.stack([np.lexsort((ids, -S[:, j]))[:K] for j in range(len(Q))])
    np.savez(checks, Q=Q, allow=allow, truth=truth,
             allowed_unit=X[allow] / xn[allow, None])


def ann_serve(run: Run) -> None:
    """Build an IVF index with PQ and SQ codes; query it while its cells
    are still cold, then serve probed, filtered and batched queries."""
    import subprocess

    from opensearch_jvector_spark.operators import similarity

    spark = run.spark
    index_dir = os.path.join(run.work, "ivf")
    table = os.path.join(run.work, "vectors")
    checks = os.path.join(run.work, "ann_checks.npz")
    subprocess.run([
        sys.executable, "-c",
        "import sys; sys.path.insert(0, sys.argv[1]); import workloads; "
        "workloads._ann_inputs(int(sys.argv[2]), sys.argv[3], sys.argv[4])",
        os.path.dirname(os.path.abspath(__file__)), str(run.seed), table,
        checks,
    ], check=True)
    inputs = np.load(checks)
    Q, allow, truth_ids = inputs["Q"], inputs["allow"], inputs["truth"]
    qn = np.linalg.norm(Q, axis=1)

    def cos_allowed(j, among):
        """Cosine of query j with allow-listed vectors ``among``."""
        return (inputs["allowed_unit"][np.searchsorted(allow, among)] @ Q[j]
                / qn[j])

    t0 = time.perf_counter()
    vecs = spark.read.parquet(table)
    similarity.ivf_build(
        vecs, index_dir, n_centroids=ANN_CELLS, kmeans_iters=0, pq_m=16,
        sq=True,
    )
    run.e2e["setup_s"] = time.perf_counter() - t0

    def ask(j, filter_ids=None):
        return similarity.ivf_query_local(
            index_dir, Q[j], K, n_probe=ANN_PROBE, filter_ids=filter_ids
        )

    def valid(pdf) -> bool:
        s = pdf["cos"].to_numpy()
        return (
            len(pdf) == K
            and list(pdf["rank"]) == list(range(1, K + 1))
            and pdf["vec_id"].nunique() == K
            and bool(np.all(np.diff(s) <= 0))
        )

    hits: dict[int, int] = {}

    def check_single(j, pdf):
        if not valid(pdf):
            run.bad(f"ann query {j}: malformed top-k")
        elif j not in hits:
            hits[j] = len(set(truth_ids[j].tolist()) & set(pdf["vec_id"]))

    def check_filtered(j, pdf):
        # the exact-by-filter path must equal brute force over the
        # allow-list, up to ties: compared score by score at each rank
        got = pdf["vec_id"].to_numpy()
        if not (valid(pdf) and np.isin(got, allow).all() and np.allclose(
            cos_allowed(j, got), np.sort(cos_allowed(j, allow))[::-1][:K],
            rtol=0, atol=1e-9,
        )):
            run.bad(f"ann filtered query {j} differs from brute force")

    pool = list(range(len(Q)))
    # the first queries after the build commit read their cells from disk
    fresh = run.mix(0, [("ann.fresh", pool, ask, check_single, ANN_FRESH)])
    ask(0, allow)  # untimed: the filtered path's first call

    lat = run.mix(run.seconds, [
        ("ann.filtered", pool, lambda j: ask(j, allow), check_filtered, 1),
        ("ann.single", pool, ask, check_single, 10),
    ])
    m: dict = {}
    bq = [(f"b{j}", Q[j].tolist()) for j in range(ANN_BATCH)]

    def check_batch(_, pdf):
        counts = pdf.groupby("query_id").size()
        if len(counts) != len(bq) or not bool((counts == K).all()):
            run.bad("ann batch: not k rows for every query")

    blat = run.mix(0, [(
        "ann.batch", [bq],
        lambda b: similarity.ivf_query_batch(
            spark, index_dir, b, k=K, n_probe=ANN_PROBE, use_pq=True,
            metrics=m,
        ).toPandas(),
        check_batch, 1,
    )])["ann.batch"]
    lat, flat, fresh = (
        lat["ann.single"], lat["ann.filtered"], fresh["ann.fresh"]
    )
    run.serving(lat, blat, ANN_BATCH, flat)

    run.report["fresh_query_p50_ms"] = (1000 * float(np.median(fresh)), "ms")
    recall = sum(hits.values()) / (K * len(hits))
    run.report["ann_recall_at_10"] = (recall, "ratio")
    if recall < ANN_RECALL_FLOOR:
        run.bad(f"ann recall@10 {recall:.3f} below {ANN_RECALL_FLOOR}")
    run.layer["similarity.compression_ratio"] = float(
        m.get("compression_ratio") or 0.0
    )


WORKLOADS = {
    "live_index": live_index,
    "ann_serve": ann_serve,
}
