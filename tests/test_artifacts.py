"""The session-artifact memo (mini_hadoop_spark/artifacts.py): one build
per (session, corpus, key) even under concurrent callers, independent
keys building concurrently, and one clear() that frees every module's
checkpoint blocks and forces every artifact to rebuild."""

from __future__ import annotations

import os
import sys
import threading
import time
import uuid

from tests.conftest import SF_DIR


def _persistent_rdd_ids(spark) -> set[int]:
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().keysIterator()
    ids = set()
    while it.hasNext():
        ids.add(int(it.next()))
    return ids


def _run_threads(targets) -> None:
    threads = [threading.Thread(target=t) for t in targets]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
    assert not any(t.is_alive() for t in threads), "a caller never returned"


def test_same_key_builds_once_across_threads(spark):
    """More callers than cores race for one key with a short switch
    interval: exactly one build runs and every caller gets its value."""
    from mini_hadoop_spark import artifacts

    key = ("test_once", uuid.uuid4().hex)
    n = 4 * (os.cpu_count() or 1)
    start = threading.Barrier(n, timeout=60)
    calls = []
    out = [None] * n

    def build():
        calls.append(1)
        time.sleep(0.2)  # hold the build while the other callers arrive
        return object()

    def caller(i):
        start.wait()
        out[i] = artifacts.get(spark, SF_DIR, key, build)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        _run_threads([lambda i=i: caller(i) for i in range(n)])
    finally:
        sys.setswitchinterval(interval)
    assert len(calls) == 1, f"{len(calls)} builds ran for one key"
    assert out[0] is not None and all(v is out[0] for v in out)


def test_independent_keys_build_concurrently(spark):
    """Each builder waits for the other to start: a registry that
    serialized all builds would break the barrier."""
    from mini_hadoop_spark import artifacts

    both_building = threading.Barrier(2, timeout=30)
    out = {}

    def caller(name):
        def build():
            both_building.wait()
            return name

        out[name] = artifacts.get(spark, SF_DIR, ("test_concurrent", uuid.uuid4().hex), build)

    _run_threads([lambda n=n: caller(n) for n in ("a", "b")])
    assert out == {"a": "a", "b": "b"}


def test_checkpoint_ids_exact_under_concurrency(spark):
    """checkpoint_rdd_ids must name EXACTLY the checkpoint RDD behind a
    frame even when another thread checkpoints at the same time (bench's
    concurrent build groups): each frame yields one id, the ids never
    overlap, and unpersisting by id frees each frame independently."""
    from mini_hadoop_spark.artifacts import checkpoint_rdd_ids

    results = {}

    def work(tag, n):
        df = spark.range(n).selectExpr("id", "id * 2 AS x").localCheckpoint(eager=True)
        results[tag] = (df, checkpoint_rdd_ids(df))

    for round_no in range(3):
        _run_threads([lambda: work("a", 1000 + round_no), lambda: work("b", 2000 + round_no)])
        (da, ids_a), (db, ids_b) = results["a"], results["b"]
        assert len(ids_a) == 1 and len(ids_b) == 1, (ids_a, ids_b)
        assert not set(ids_a) & set(ids_b)
        assert da.count() == 1000 + round_no and db.count() == 2000 + round_no
        jsc = spark.sparkContext._jsc.sc()
        for rid in ids_a + ids_b:
            assert jsc.getPersistentRDDs().contains(rid)
            jsc.getPersistentRDDs().apply(rid).unpersist(False)


def test_clear_frees_checkpoint_blocks(spark):
    """Dataset.unpersist() is a no-op for localCheckpoint blocks (it only
    drops CacheManager entries), so clear() must unpersist the
    checkpoint RDDs by id — for every module's artifacts, or a cold
    re-run (the scale smoke between corpora) keeps the prior corpus's
    indexes in executor storage."""
    from mini_hadoop_spark import artifacts
    from mini_hadoop_spark.operators import classifier, dedup, similarity

    artifacts.clear()
    base = _persistent_rdd_ids(spark)
    built = {
        "classifier table": classifier._doc_table(spark, SF_DIR),
        "near-dup pairs": dedup.near_dup_pairs(spark, SF_DIR, "jaccard"),
        "ivf lists": similarity.ivf_lists(spark, SF_DIR),
    }
    held = _persistent_rdd_ids(spark) - base
    for name, df in built.items():
        ids = artifacts.checkpoint_rdd_ids(df)
        assert ids and set(ids) <= held, f"{name}: checkpoint blocks not persisted"
    artifacts.clear()
    assert not _persistent_rdd_ids(spark) - base, "clear() left checkpoint blocks behind"


def test_clear_rebuilds_across_modules(spark):
    """One clear() reaches every module: the IVF quantizer (similarity)
    and the IVF lifecycle drain built from it (streaming) both rebuild,
    and the rebuilt drain reproduces the same index."""
    from mini_hadoop_spark import artifacts
    from mini_hadoop_spark.operators import similarity
    from mini_hadoop_spark.streaming import windowed

    q1 = similarity.ivf_quantizer(spark, SF_DIR)
    pre1, post1 = windowed._ivf_stream_drained(spark, SF_DIR)
    assert similarity.ivf_quantizer(spark, SF_DIR) is q1
    assert windowed._ivf_stream_drained(spark, SF_DIR)[0] is pre1
    want = (sorted(pre1.collect()), sorted(post1.collect()))

    artifacts.clear()
    q2 = similarity.ivf_quantizer(spark, SF_DIR)
    pre2, post2 = windowed._ivf_stream_drained(spark, SF_DIR)
    assert q2 is not q1, "ivf_quantizer survived clear()"
    assert pre2 is not pre1 and post2 is not post1, "IVF drain survived clear()"
    assert (sorted(pre2.collect()), sorted(post2.collect())) == want
