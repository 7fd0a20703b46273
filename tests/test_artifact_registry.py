"""The session-artifact registry (tables.artifact): one build per key,
keep() intermediates dropped when a build returns or raises, borrowed
frames never released by their borrower, and release_hot leaving no
persisted RDD behind — after a sweep of every artifact family and after
a budget abort."""

from __future__ import annotations

import sys
import threading

import pytest

from kinesyslog_spark.queries import QUERIES
from kinesyslog_spark.tables import (
    artifact,
    artifact_inventory,
    release_artifacts,
    release_hot,
)

# one query per artifact family
FAMILY_QUERIES = (
    "q21_cosine_topk",
    "q22_top_tokens",
    "q26_minhash_lsh",
    "q27_simhash_pairs",
    "q28_ngram_jaccard",
    "q30_language_id",
    "q40_dedup_clusters",
    "q72_pagerank",
    "q77_kmeans_clusters",
    "q105_pq_ann",
    "q121_prefix_filter_join",
    "q124_image_phash_neardup",
    "q140_triangle_count",
    "q182_simhash_dedup_survivors",
    "q184_image_refined_survivors",
)


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _entry(spark, corpus, family):
    got = [a for a in artifact_inventory(spark)
           if a["corpus"] == corpus and a["family"] == family]
    return got[0] if got else None


def test_artifact_builds_once_and_counts_hits(spark):
    corpus = "/tmp/registry-once"
    calls = []

    def build(keep):
        calls.append(1)
        return spark.range(10)

    try:
        a = artifact(spark, corpus, "unit", build)
        b = artifact(spark, corpus, "unit", build)
        assert a is b and len(calls) == 1
        assert a.is_cached
        e = _entry(spark, corpus, "unit")
        assert (e["hits"], e["misses"], e["frames"]) == (1, 1, 1)
        # a different knob is a different artifact
        artifact(spark, corpus, "unit", build, knobs=(2,))
        assert len(calls) == 2
    finally:
        assert release_artifacts(spark, corpus) == 2
    assert not a.is_cached
    assert _entry(spark, corpus, "unit") is None


def test_artifact_concurrent_callers_share_one_build(spark):
    corpus = "/tmp/registry-concurrent"
    n = 16  # more threads than the session's cores
    calls = []
    gate = threading.Event()

    def build(keep):
        calls.append(1)
        gate.wait(5)
        return (41, "plain values ride in the entry")

    got = []
    ts = [threading.Thread(
        target=lambda: got.append(artifact(spark, corpus, "unit", build)))
        for _ in range(n)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in ts:
            t.start()
        gate.set()
        for t in ts:
            t.join(timeout=30)
        assert not any(t.is_alive() for t in ts)
        assert len(calls) == 1
        assert len(got) == n and all(g is got[0] for g in got)
        # every caller but the builder is a hit: no lost update
        assert _entry(spark, corpus, "unit")["hits"] == n - 1
    finally:
        sys.setswitchinterval(switch)
        release_artifacts(spark, corpus)


def test_keep_intermediates_drop_on_return_and_raise(spark):
    corpus = "/tmp/registry-keep"
    kept = []

    def build(keep):
        mid = keep(spark.range(100).selectExpr("id * 2 AS x"))
        kept.append(mid)
        return mid.filter("x > 10"), mid.count()

    try:
        out, n = artifact(spark, corpus, "unit", build)
        assert n == 100 and out.is_cached
        assert not kept[0].is_cached, "build-only frame outlived the build"

        def failing(keep):
            kept.append(keep(spark.range(50)))
            raise RuntimeError("budget abort")

        with pytest.raises(RuntimeError):
            artifact(spark, corpus, "failing", failing)
        assert not kept[1].is_cached
        assert _entry(spark, corpus, "failing") is None
    finally:
        release_artifacts(spark, corpus)
    assert not out.is_cached


def _jobs_after_build(spark, monkeypatch, module, call) -> list[int]:
    """Run `call()` with `module.artifact` wrapped so that every job the
    registry runs after the build returns lands in one job group; return
    that group's job ids."""
    sc = spark.sparkContext
    group = f"after-build-{id(call)}"
    real = module.artifact

    def spy(spark_, sf_dir_, family, build, **kw):
        def wrapped(keep):
            value = build(keep)
            sc.setJobGroup(group, "registry work after the build")
            return value

        try:
            return real(spark_, sf_dir_, family, wrapped, **kw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    monkeypatch.setattr(module, "artifact", spy)
    call()
    monkeypatch.undo()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_keep_count_frames_are_not_counted_again(spark, monkeypatch):
    """A returned frame the build counted through keep.count is cached
    and owned, and the registry runs no job to materialize it."""
    from kinesyslog_spark import tables

    corpus = "/tmp/registry-counted"

    def build(keep):
        df = keep(spark.range(100).selectExpr("id * 3 AS x"))
        return df, keep.count(df)

    got = []
    try:
        jobs = _jobs_after_build(
            spark, monkeypatch, tables,
            lambda: got.append(tables.artifact(spark, corpus, "unit", build)))
        (df, n), = got
        assert n == 100 and df.is_cached
        assert _entry(spark, corpus, "unit")["frames"] == 1
        assert jobs == []
    finally:
        release_artifacts(spark, corpus)


def test_q38_build_runs_no_count_after_returning(spark, sf_dir, monkeypatch):
    """q38's build counts its quantized frame (n_vec): the registry
    does not count it a second time."""
    from kinesyslog_spark.queries import ann

    release_artifacts(spark, sf_dir, "q38_quantized")
    try:
        jobs = _jobs_after_build(
            spark, monkeypatch, ann,
            lambda: QUERIES["q38_embedding_neardup"](spark, sf_dir))
        assert _entry(spark, sf_dir.rstrip("/"), "q38_quantized")["frames"] == 1
        assert jobs == []
    finally:
        release_artifacts(spark, sf_dir, "q38_quantized")


def test_borrowed_frames_are_not_released_by_the_borrower(spark):
    corpus = "/tmp/registry-borrow"
    try:
        base = artifact(spark, corpus, "base", lambda keep: spark.range(20))
        pair = artifact(spark, corpus, "pair",
                        lambda keep: (base, base.selectExpr("id + 1 AS y")))
        assert pair[0] is base
        assert _entry(spark, corpus, "pair")["frames"] == 1
        assert release_artifacts(spark, corpus, family="pair") == 1
        assert base.is_cached, "release of a borrower evicted its lender"
    finally:
        release_artifacts(spark, corpus)


def test_release_hot_leaves_nothing_persisted(spark, sf_dir):
    release_hot(spark)
    for name in FAMILY_QUERIES:
        QUERIES[name](spark, sf_dir).count()
    assert artifact_inventory(spark)
    release_hot(spark)
    assert _persisted(spark) == 0, (
        f"{_persisted(spark)} persisted RDDs outlived release_hot"
    )


def test_release_hot_after_budget_abort_leaves_nothing(spark, sf_dir,
                                                       monkeypatch):
    import kinesyslog_spark.queries.dedup as dd
    from kinesyslog_spark.queries.resolution import CandidateBudgetExceeded

    release_hot(spark)
    monkeypatch.setattr(dd, "LSH_MAX_SLOTS", 1)
    with pytest.raises(CandidateBudgetExceeded):
        QUERIES["q26_minhash_lsh"](spark, sf_dir)
    for name in FAMILY_QUERIES:
        try:
            QUERIES[name](spark, sf_dir).count()
        except CandidateBudgetExceeded:
            pass
    release_hot(spark)
    assert _persisted(spark) == 0, (
        f"{_persisted(spark)} persisted RDDs outlived release_hot after "
        "a budget abort"
    )
