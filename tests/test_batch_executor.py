"""The two executors of ivf_query_batch: driver-local (numpy over the
cached cells) and Spark. They share the probe, the first-pass kernel,
the rerank kernel and the CSR gather, so their answers — ids, ranks,
rounded scores — and their ``metrics`` must be equal for every form:
float, PQ and SQ; cosine, l2 and inner product; with tombstones, an
iterable allow-list and both exact switches.

Also here: the tie-safe first-pass cut, the Arrow -> numpy loaders that
replaced ``to_pylist()``, and two guards (CSR membership, swap recovery
before the size count)."""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as papq
import pytest
from pyspark.sql import functions as F

from opensearch_jvector_spark.operators import similarity as sim
from opensearch_jvector_spark.operators.similarity import (
    _binary_matrix,
    _candidate_csr,
    _csr_gather,
    _index_smaller_than,
    _list_matrix,
    _load_centroids,
    _local_cells,
    _tombstone_info,
    ivf_build,
    ivf_delete,
    ivf_query_batch,
)

SF01 = "/root/testdata/sf0.01/embeddings.parquet"
N_CELLS = 16
SPACES = ("cosine", "l2", "innerproduct")
DELETED = range(1, 500, 3)


def _emb(spark):
    return spark.read.parquet(SF01)


def _qvec(spark, vid):
    row = _emb(spark).filter(F.col("vec_id") == vid).first()
    return [float(x) for x in row["embedding"]]


@pytest.fixture(scope="module")
def indexes(spark, tmp_path_factory):
    """One PQ + SQ index per quantizable space, a third of it deleted."""
    out = {}
    for space in SPACES:
        d = str(tmp_path_factory.mktemp(f"bx_{space}") / "idx")
        ivf_build(
            _emb(spark), d, n_centroids=N_CELLS, kmeans_iters=1,
            space=space, pq_m=8, sq=True,
        )
        ivf_delete(d, DELETED)
        out[space] = d
    return out


def _run(spark, monkeypatch, executor, *args, **kw):
    m: dict = {}
    with monkeypatch.context() as mp:
        if executor == "spark":
            mp.setattr(sim, "LOCAL_IVF_MAX_BYTES", 0)
        rows = ivf_query_batch(spark, *args, metrics=m, **kw).collect()
    assert m.pop("executor") == executor, m
    m.pop("executor_reason")
    return sorted(tuple(r) for r in rows), m


@pytest.mark.parametrize("space", SPACES)
def test_local_equals_spark(spark, indexes, monkeypatch, space):
    d = indexes[space]
    queries = [(f"q{i}", _qvec(spark, i)) for i in (0, 7, 21, 42)]
    allow = [i for i in range(500) if i % 2 == 0]
    forms = [
        ({}, None),
        ({"use_pq": True}, None),
        ({"use_sq": True}, None),
        # probed, masked by an allow-list over the exact threshold — a
        # generator too, which a call may read only once
        ({"filtered_exact_threshold": 100}, lambda: allow),
        ({"use_pq": True, "filtered_exact_threshold": 100},
         lambda: iter(allow)),
        ({"use_sq": True, "filtered_exact_threshold": 100}, lambda: allow),
        # the two exact switches
        ({"use_pq": True}, lambda: allow[:40]),
        ({"use_sq": True, "approximate_threshold": 15_000}, None),
    ]
    for kw, ids in forms:
        (got_l, m_l), (got_s, m_s) = (
            _run(
                spark, monkeypatch, ex, d, queries, 10, n_probe=8,
                space=space, filter_ids=ids and ids(), **kw,
            )
            for ex in ("local", "spark")
        )
        assert got_l and got_l == got_s, kw
        assert m_l == m_s, kw
        assert {r[0] for r in got_l} == {q for q, _ in queries}
        assert not {r[1] for r in got_l} & set(DELETED), kw
        if ids is not None:
            assert all(r[1] % 2 == 0 for r in got_l), kw


def test_executor_and_reason_reported(spark, indexes, monkeypatch):
    d = indexes["cosine"]
    q = [("q0", _qvec(spark, 0))]
    m: dict = {}
    ivf_query_batch(spark, d, q, 5, use_pq=True, metrics=m).collect()
    assert m["executor"] == "local", m
    assert m["executor_reason"].endswith("MB <= LOCAL_IVF_MAX_BYTES"), m
    assert m["compression_ratio"] > 1

    evens = _emb(spark).filter(F.col("vec_id") % 2 == 0).select("vec_id")
    m = {}
    ivf_query_batch(
        spark, d, q, 5, filter_ids=evens, filtered_exact_threshold=0,
        metrics=m,
    ).collect()
    assert m == {
        "executor": "spark", "executor_reason": "filter_ids is a DataFrame",
    }
    m = {}  # a small DataFrame allow-list is collected, then runs local
    ivf_query_batch(spark, d, q, 5, filter_ids=evens, metrics=m).collect()
    assert m["executor"] == "local", m

    with monkeypatch.context() as mp:
        mp.setattr(sim, "LOCAL_IVF_MAX_BYTES", 1 << 10)
        m = {}
        ivf_query_batch(spark, d, q, 5, metrics=m).collect()
        assert m["executor"] == "spark", m
        assert m["executor_reason"].endswith("MB > LOCAL_IVF_MAX_BYTES"), m
    try:
        with monkeypatch.context() as mp:
            mp.setattr(sim, "_TOMB_ISIN_MAX", 1)
            sim._TOMB_CACHE.pop(d, None)
            m = {}
            ivf_query_batch(spark, d, q, 5, metrics=m).collect()
            assert m == {
                "executor": "spark",
                "executor_reason":
                    f"{len(DELETED)} tombstones > _TOMB_ISIN_MAX",
            }
    finally:
        sim._TOMB_CACHE.pop(d, None)


@pytest.mark.parametrize("quantizer", ["use_pq", "use_sq"])
def test_first_pass_cut_keeps_ties(
    spark, tmp_path, monkeypatch, quantizer
):
    """300 identical vectors share one cell, so all of them tie on the
    first-pass proxy across the budget (100) cut. Both executors must
    return the exact (score desc, vec_id asc) answer: the lowest ids."""
    rng = np.random.default_rng(5)
    x = rng.normal(size=8)
    V = np.vstack([np.repeat(x[None], 300, 0), rng.normal(size=(300, 8))])
    ids = rng.permutation(len(V))
    df = spark.createDataFrame(
        [(int(i), v.tolist()) for i, v in zip(ids, V)],
        "vec_id long, embedding array<double>",
    )
    d = str(tmp_path / "idx")
    ivf_build(df, d, n_centroids=4, pq_m=2, sq=True)
    expect = sorted(ids[:300].tolist())[:10]
    for executor in ("local", "spark"):
        got, _ = _run(
            spark, monkeypatch, executor, d, [("q", x.tolist())], 10,
            n_probe=4, **{quantizer: True},
        )
        assert [r[1] for r in sorted(got, key=lambda r: r[3])] == expect, (
            executor
        )


def test_arrow_numpy_views_equal_pylist(indexes):
    """The buffer-view loaders are bitwise equal to the ``to_pylist()``
    conversion they replaced: on whole, chunked and sliced columns, and
    on every driver-side load of a real index."""
    rng = np.random.default_rng(3)
    V, codes = rng.normal(size=(50, 6)), rng.integers(0, 256, (50, 4))
    t = pa.table({
        "v": pa.array(list(V)),
        "code": pa.array([c.astype(np.uint8).tobytes() for c in codes]),
    })
    for tab in (t, pa.concat_tables([t.slice(0, 20), t.slice(20)]),
                t.slice(7, 30)):
        old_v = np.array(tab["v"].to_pylist(), dtype=np.float64)
        new_v = _list_matrix(tab["v"])
        assert new_v.dtype == old_v.dtype and new_v.shape == old_v.shape
        assert new_v.tobytes() == old_v.tobytes()
        for dt in (np.uint8, np.int8):
            old_c = np.frombuffer(
                b"".join(tab["code"].to_pylist()), dtype=dt
            ).reshape(len(tab), -1)
            assert np.array_equal(_binary_matrix(tab["code"], dt), old_c)

    d = indexes["l2"]
    cells_dir = os.path.join(d, "cells")
    c = int(sim._live_cell_dirs(cells_dir)[0].split("=")[1])
    old = papq.read_table(os.path.join(cells_dir, f"cell={c}"))
    ((_, cols, _),) = _local_cells(
        d, [c], columns=("code", "sq_code", "sq_scale")
    )
    assert cols["vec_id"].tolist() == old["vec_id"].to_pylist()
    for name in ("norm", "sq_scale"):
        assert cols[name].tobytes() == np.asarray(
            old[name].to_pylist(), dtype=np.float64
        ).tobytes()
    assert cols["v"].tobytes() == np.array(
        old["v"].to_pylist(), dtype=np.float64
    ).tobytes()
    for name, dt in (("code", np.uint8), ("sq_code", np.int8)):
        assert np.array_equal(cols[name], np.frombuffer(
            b"".join(old[name].to_pylist()), dtype=dt
        ).reshape(len(old), -1))

    sim._CENTROID_CACHE.pop(d)
    cells, C = _load_centroids(d)
    cent = papq.read_table(os.path.join(d, "centroids"))
    assert cells.tolist() == cent["cell"].to_pylist()
    assert C.tobytes() == np.array(
        cent["c"].to_pylist(), dtype=np.float64
    ).tobytes()

    sim._TOMB_CACHE.pop(d)
    n, tomb = _tombstone_info(d)
    old_t = pa.concat_tables([
        papq.read_table(os.path.join(d, "tombstones", f))
        for f in os.listdir(os.path.join(d, "tombstones"))
    ])
    assert n == len(DELETED)
    assert np.array_equal(tomb, np.unique(old_t["vec_id"].to_pylist()))


def test_csr_gather_rejects_non_members():
    uv, ptr, qix = _candidate_csr(
        np.array([5, 3, 5, 9]), np.array([0, 1, 1, 0])
    )
    assert uv.tolist() == [3, 5, 9]
    rows, qs = _csr_gather(uv, ptr, qix, np.array([9, 5]))
    assert rows.tolist() == [0, 1, 1] and qs.tolist() == [0, 0, 1]
    for bad in ([4], [10], [1], [3, 6]):
        with pytest.raises(ValueError, match="outside the candidates"):
            _csr_gather(uv, ptr, qix, np.array(bad))


def test_size_count_recovers_crashed_swap_first(indexes, tmp_path):
    """A compaction that crashed after parking a cell as ``.trash``
    must not shrink the small-index count: the count rolls the swap
    back first, like every scan path."""
    d = str(tmp_path / "idx")
    shutil.copytree(indexes["cosine"], d)
    full = _index_smaller_than(d, 15_000)
    assert full == 500
    cells_dir = os.path.join(d, "cells")
    cell = os.path.join(cells_dir, sim._live_cell_dirs(cells_dir)[0])
    os.rename(cell, cell + ".trash")  # owner gone, no journal left
    sim._APPROX_COUNT_CACHE.clear()
    assert _index_smaller_than(d, 15_000) == full
    assert os.path.isdir(cell) and not os.path.exists(cell + ".trash")
