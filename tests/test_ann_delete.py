"""IVF delete support: tombstones are the Lucene liveDocs analog —
deletes are metadata consulted by every query path until
ivf_compact_deletes rewrites only the affected cells (merge drops
deletes). Content-addressed tombstone files close the name-reuse crash
window class (round-3 ADVICE on compact_deletes digests)."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from opensearch_jvector_spark.operators import similarity as sim
from opensearch_jvector_spark.operators.similarity import (
    ivf_build,
    ivf_compact_deletes,
    ivf_delete,
    ivf_query,
    ivf_query_batch,
    ivf_query_local,
    ivf_query_radial,
    topk_bruteforce,
)

SF01 = "/root/testdata/sf0.01/embeddings.parquet"
N_CELLS = 16


def _emb(spark):
    return spark.read.parquet(SF01)


def _qvec(spark, vid=0):
    row = _emb(spark).filter(F.col("vec_id") == vid).first()
    return [float(x) for x in row["embedding"]]


def _build(spark, tmp_path, **kw):
    d = str(tmp_path / "idx")
    ivf_build(_emb(spark), d, n_centroids=N_CELLS, kmeans_iters=1, **kw)
    return d


def _ranks(df):
    return [(r["vec_id"], r["rank"]) for r in df.collect()]


def test_delete_masks_every_query_path(spark, tmp_path, batch_executors):
    d = _build(spark, tmp_path, pq_m=8, sq=True)
    q = _qvec(spark)
    # delete the current top-3 so the mask visibly reshapes the result
    before = ivf_query(spark, d, q, k=3, n_probe=N_CELLS)
    dead = [r["vec_id"] for r in before.collect()]
    ivf_delete(d, dead)

    alive = set(range(500)) - set(dead)
    expect = _ranks(
        topk_bruteforce(_emb(spark), q, 10, filter_ids=alive,
                        score_name="cos")
    )
    got_exact = _ranks(ivf_query(spark, d, q, k=10, n_probe=N_CELLS))
    assert got_exact == expect
    got_pq = _ranks(
        ivf_query(spark, d, q, k=10, n_probe=N_CELLS, use_pq=True,
                  overquery=50)
    )
    assert got_pq == expect
    got_sq = _ranks(
        ivf_query(spark, d, q, k=10, n_probe=N_CELLS, use_sq=True,
                  overquery=50)
    )
    assert got_sq == expect
    loc = ivf_query_local(d, q, k=10, n_probe=N_CELLS)
    assert list(zip(loc["vec_id"], loc["rank"])) == expect

    rad = ivf_query_radial(spark, d, q, n_probe=N_CELLS, min_score=0.0)
    rad_ids = {r["vec_id"] for r in rad.collect()}
    assert rad_ids.isdisjoint(dead) and rad_ids

    for _ in batch_executors():
        batch = ivf_query_batch(
            spark, d, [("q0", q)], k=10, n_probe=N_CELLS
        )
        assert [
            (r["vec_id"], r["rank"]) for r in batch.collect()
        ] == expect
        batch_pq = ivf_query_batch(
            spark, d, [("q0", q)], k=10, n_probe=N_CELLS, use_pq=True,
            overquery=50,
        )
        assert [
            (r["vec_id"], r["rank"]) for r in batch_pq.collect()
        ] == expect


def test_compact_rewrites_only_affected_cells(spark, tmp_path):
    d = _build(spark, tmp_path, pq_m=8)
    q = _qvec(spark, vid=11)
    dead = [r["vec_id"] for r in
            ivf_query(spark, d, q, k=3, n_probe=N_CELLS).collect()]
    ivf_delete(d, dead)
    masked = _ranks(ivf_query(spark, d, q, k=10, n_probe=N_CELLS))

    cells_dir = os.path.join(d, "cells")
    pre_sig = {
        c: sim._cell_dir_sig(os.path.join(cells_dir, c))
        for c in os.listdir(cells_dir)
        if c.startswith("cell=")
    }
    # which cells hold the dead ids (ground truth via a pruned scan)
    hit_cells = {
        f"cell={r['cell']}"
        for r in spark.read.schema("vec_id long, cell int")
        .option("basePath", cells_dir).parquet(cells_dir)
        .filter(F.col("vec_id").isin(dead)).select("cell")
        .distinct().collect()
    }

    stats = ivf_compact_deletes(spark, d)
    assert stats == {"compacted_cells": len(hit_cells),
                     "removed": len(dead)}
    assert not os.path.isdir(os.path.join(d, "tombstones"))
    post_sig = {
        c: sim._cell_dir_sig(os.path.join(cells_dir, c))
        for c in os.listdir(cells_dir)
        if c.startswith("cell=")
    }
    for c, s in pre_sig.items():
        if c in hit_cells:
            assert post_sig[c] != s, f"{c} should have been rewritten"
        else:
            assert post_sig[c] == s, f"{c} rewritten needlessly"
    # PQ codes survived the rewrite: quantized query still answers
    assert _ranks(
        ivf_query(spark, d, q, k=10, n_probe=N_CELLS, use_pq=True,
                  overquery=50)
    ) == masked
    # physical removal: same result with no tombstones left
    assert _ranks(ivf_query(spark, d, q, k=10, n_probe=N_CELLS)) == masked
    # idempotent: nothing left to compact
    assert ivf_compact_deletes(spark, d) == {
        "compacted_cells": 0, "removed": 0,
    }


def test_compact_swap_crash_recovery(spark, tmp_path):
    """Simulated compaction-crash windows: a live cell dir missing with
    only its .trash backup rolls BACK; missing with a staged .compact
    replacement rolls FORWARD — either way the next query (via
    _cell_paths' recovery preamble) sees a complete live tree and
    answers exactly as before."""
    import shutil

    d = _build(spark, tmp_path)
    q = _qvec(spark)
    before = _ranks(ivf_query(spark, d, q, k=10, n_probe=N_CELLS))
    cells = os.path.join(d, "cells")
    live = os.path.join(
        cells,
        sorted(c for c in os.listdir(cells) if c.startswith("cell="))[0],
    )

    # window A: crash between backup rename and promotion, no staged
    # replacement (fully-deleted-cell path) -> roll back
    os.rename(live, live + ".trash")
    assert _ranks(ivf_query(spark, d, q, k=10, n_probe=N_CELLS)) == before
    assert os.path.isdir(live) and not os.path.isdir(live + ".trash")

    # window B: replacement staged beside the live dir, live renamed
    # away -> roll forward (and the stale backup is swept); the
    # DRIVER-LOCAL path must heal identically (it never calls
    # _cell_paths, so recovery lives in the shared _probe_cells)
    shutil.copytree(live, live + ".compact")
    os.rename(live, live + ".trash")
    loc = ivf_query_local(d, q, k=10, n_probe=N_CELLS)
    assert list(zip(loc["vec_id"], loc["rank"])) == before
    assert os.path.isdir(live)
    assert not os.path.isdir(live + ".compact")
    assert not os.path.isdir(live + ".trash")


def test_tombstones_content_addressed_and_idempotent(spark, tmp_path):
    d = _build(spark, tmp_path)
    t1 = ivf_delete(d, [5, 3, 9])
    t2 = ivf_delete(d, [9, 5, 3])  # same set, any order -> same file
    assert t1["tombstone"] == t2["tombstone"]
    tombs = os.listdir(os.path.join(d, "tombstones"))
    assert len(tombs) == 1
    t3 = ivf_delete(d, [3, 100])  # overlap allowed, new content
    assert t3["tombstone"] != t1["tombstone"]
    sim._TOMB_CACHE.pop(d, None)
    n, ids = sim._tombstone_info(d)
    assert n == 4 and sorted(ids) == [3, 5, 9, 100]  # deduped union
    with pytest.raises(ValueError):
        ivf_delete(d, [])


def test_large_tombstone_set_anti_joins(spark, tmp_path, monkeypatch):
    """Above the isin budget the distributed paths anti-join the
    tombstone parquet; the driver-local path refuses (bounded memory)
    instead of silently scanning."""
    d = _build(spark, tmp_path)
    q = _qvec(spark)
    ivf_delete(d, [0, 1, 2])
    monkeypatch.setattr(sim, "_TOMB_ISIN_MAX", 1)
    sim._TOMB_CACHE.pop(d, None)
    n, ids = sim._tombstone_info(d)
    assert n == 3 and ids is None  # over budget -> not materialized
    expect = _ranks(
        topk_bruteforce(
            _emb(spark), q, 10, filter_ids=set(range(3, 500)),
            score_name="cos",
        )
    )
    assert _ranks(ivf_query(spark, d, q, k=10, n_probe=N_CELLS)) == expect
    with pytest.raises(ValueError, match="tombstones exceed"):
        ivf_query_local(d, q, k=10, n_probe=N_CELLS)
    sim._TOMB_CACHE.pop(d, None)


def test_nested_query_respects_deletes(spark, tmp_path):
    from opensearch_jvector_spark.operators.nested import (
        ivf_query_nested,
        nested_topk,
    )

    d = _build(spark, tmp_path)
    q = _qvec(spark)
    # vec 0 is parent 0's best child (cos 1.0); delete it
    ivf_delete(d, [0])
    got = ivf_query_nested(
        spark, d, q, k=10, children_per_parent=5, n_probe=N_CELLS
    ).collect()
    assert all(r.vec_id != 0 for r in got)
    brute = nested_topk(
        _emb(spark), q, k=10, children_per_parent=5, score_name="cos",
        filter_ids=set(range(1, 500)),
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in brute]
    # expand also skips the tombstoned sibling
    exp = ivf_query_nested(
        spark, d, q, k=3, children_per_parent=5, n_probe=N_CELLS,
        expand=True,
    ).collect()
    assert all(r.vec_id != 0 for r in exp)
