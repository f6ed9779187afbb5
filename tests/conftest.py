from __future__ import annotations

import pytest


@pytest.fixture(autouse=True)
def _force_approximate_path():
    """Pin the small-index exact bypass OFF for the suite: every test
    corpus is far below the engine's 15k approximate_threshold
    (KNNSettings.java:70,104), and the probed-IVF machinery is exactly
    what most tests exercise — the same move the reference's own
    small-corpus tests make by lowering the index setting. Tests of
    the bypass itself pass an explicit ``approximate_threshold``."""
    from opensearch_jvector_spark.operators import similarity

    old = similarity.APPROXIMATE_THRESHOLD
    similarity.APPROXIMATE_THRESHOLD = 0
    yield
    similarity.APPROXIMATE_THRESHOLD = old


@pytest.fixture(scope="session")
def spark():
    from opensearch_jvector_spark.session import get_spark

    s = get_spark("tests", cores=8, shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture
def batch_executors(monkeypatch):
    """Iterate ``batch_executors()`` to run a test body under both
    ``ivf_query_batch`` executors: "local" as configured (at least one
    batch of the turn must run there), then "spark" with
    ``LOCAL_IVF_MAX_BYTES = 0`` so that no batch fits the driver."""
    from opensearch_jvector_spark.operators import similarity

    real = similarity._batch_executor

    def each():
        for name in ("local", "spark"):
            seen = []
            with monkeypatch.context() as m:
                if name == "spark":
                    m.setattr(similarity, "LOCAL_IVF_MAX_BYTES", 0)
                m.setattr(
                    similarity, "_batch_executor",
                    lambda *a: seen.append(real(*a)) or seen[-1],
                )
                yield name
            ran = [ex for ex, _ in seen]
            assert name in ran and (name == "local" or set(ran) == {name})

    return each
