"""The artifact cache (ecowatt_etl_spark/cache.py).

Every session artifact (dedup, ANN, BPE and token-stats indexes, the
EcoWatt star) and the file-version memo go through ``ArtifactCache``.
These tests pin its contract: concurrent first calls build once, also
on the serving path's own ANN queries; a cache is evicted because it
exists, not because a list names it; sessions never share an entry;
and a failed build stores nothing.
"""

from __future__ import annotations

import sys
import threading

import pytest

from tests.conftest import SF_ORACLE as SF


def _run_together(fns, timeout: float = 300) -> list:
    """Call every fn on its own thread, released together; their results."""
    start = threading.Barrier(len(fns))
    out: list = [None] * len(fns)
    errors: list[Exception] = []

    def run(i: int) -> None:
        try:
            start.wait(timeout=30)
            out[i] = fns[i]()
        except Exception as e:  # reported by the main thread
            errors.append(e)

    threads = [threading.Thread(target=run, args=(i,)) for i in range(len(fns))]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=timeout)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    return out


def test_concurrent_first_calls_build_once_and_other_keys_do_not_wait():
    import time

    from ecowatt_etl_spark.cache import ArtifactCache

    c = ArtifactCache(session_artifacts=False)
    builds: list[str] = []
    slow_started, other_built = threading.Event(), threading.Event()

    def slow():
        builds.append("slow")
        slow_started.set()
        # a build of another key finishes while this one holds its lock
        assert other_built.wait(timeout=10)
        time.sleep(0.05)
        return object()

    def other():
        builds.append("other")
        other_built.set()
        return "other"

    def other_key():
        assert slow_started.wait(timeout=10)
        return c.get("j", other)

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        got = _run_together([lambda: c.get("k", slow)] * 6 + [other_key])
    finally:
        sys.setswitchinterval(switch)
    assert builds.count("slow") == 1 and builds.count("other") == 1
    assert len({id(v) for v in got[:6]}) == 1
    assert len(c) == 2


def test_ann_first_calls_on_two_threads_train_the_quantizer_once(spark, monkeypatch):
    from ecowatt_etl_spark.operators import similarity
    from ecowatt_etl_spark.queries.registry import all_queries
    from ecowatt_etl_spark.session import evict_session_artifacts

    trained: list[int] = []
    real = similarity.kmeans_train

    def counting(*args, **kwargs):
        trained.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(similarity, "kmeans_train", counting)
    specs = all_queries()
    evict_session_artifacts(spark)
    names = ("q65_ivf_topk", "q201_filtered_ann")
    _run_together([lambda n=n: specs[n].fn(spark, SF) for n in names])
    assert len(trained) == 1, f"k-means quantizer trained {len(trained)} times"


def test_a_new_cache_is_evicted_without_being_listed(spark):
    from ecowatt_etl_spark.cache import SESSION_CACHES, ArtifactCache
    from ecowatt_etl_spark.session import evict_session_artifacts
    from ecowatt_etl_spark.sources import tables

    c = ArtifactCache()
    c.get((spark, "a"), lambda: 1)
    c.get((spark, "b"), lambda: 2)
    others = sum(len(x) for x in SESSION_CACHES if x is not c)
    assert evict_session_artifacts(spark) == others + 2
    assert len(c) == 0
    assert c.get((spark, "a"), lambda: 3) == 3
    # file-version entries hold no executor blocks and are never stale
    assert tables._FILE_MEMO not in SESSION_CACHES


def test_distinct_sessions_never_share_an_entry(spark):
    from ecowatt_etl_spark.cache import ArtifactCache
    from ecowatt_etl_spark.operators.text import doc_token_stats

    other = spark.newSession()
    mine = doc_token_stats(spark, SF)
    theirs = doc_token_stats(other, SF)
    assert theirs is not mine
    assert doc_token_stats(other, SF) is theirs
    assert doc_token_stats(spark, SF) is mine

    c = ArtifactCache(session_artifacts=False)
    assert c.get((spark, SF), lambda: "mine") == "mine"
    assert c.get((other, SF), lambda: "theirs") == "theirs"
    assert len(c) == 2


def test_a_failed_build_stores_nothing():
    from ecowatt_etl_spark.cache import ArtifactCache

    c = ArtifactCache(session_artifacts=False)

    def boom():
        raise ValueError("build failed")

    with pytest.raises(ValueError):
        c.get("k", boom)
    assert len(c) == 0
    assert c.get("k", lambda: 7) == 7
    assert c.get("k", boom) == 7  # a hit calls no build
