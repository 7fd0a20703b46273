"""Round-3 operator units: exact heavy hitters (Misra-Gries guarantee),
k-means determinism, SCD2 run semantics."""

from __future__ import annotations

from pyspark.sql import functions as F

from kinesyslog_spark.queries import QUERIES
from kinesyslog_spark.queries.pipeline_ops import misra_gries_candidates
from kinesyslog_spark.queries.semantic import KMEANS_K, kmeans_assignments
from kinesyslog_spark.tables import release_artifacts


def test_misra_gries_superset_guarantee(spark):
    # Skewed synthetic stream: token "hh{i}" appears (1000 - 40*i) times,
    # plus a long tail of singletons. Everything with freq > N/M must
    # survive the per-partition summaries.
    rows = []
    for i in range(10):
        rows += [(f"hh{i}",)] * (1000 - 40 * i)
    rows += [(f"tail{j}",) for j in range(5000)]
    df = spark.createDataFrame(rows, "token string").repartition(8)
    n = len(rows)
    capacity = 64
    cand = set(
        r.token for r in misra_gries_candidates(df, capacity=capacity).collect()
    )
    for i in range(10):
        freq = 1000 - 40 * i
        if freq > n / capacity:
            assert f"hh{i}" in cand, f"hh{i} (freq {freq}) missing from candidates"
    # summary size is bounded per partition
    assert len(cand) <= capacity * 8


def test_q79_matches_plain_groupby(spark, sf_dir):
    got = QUERIES["q79_heavy_hitters"](spark, sf_dir).collect()
    from kinesyslog_spark.tables import hot_tokens

    exact = (
        hot_tokens(spark, sf_dir)
        .select(F.explode("toks").alias("token"))
        .groupBy("token")
        .count()
        .orderBy(F.desc("count"), "token")
        .limit(len(got))
        .collect()
    )
    assert [(r.token, r.cnt) for r in got] == [(r.token, r["count"]) for r in exact]


def test_kmeans_deterministic_and_total(spark, sf_dir):
    a1 = {(r.vec_id, r.cid) for r in kmeans_assignments(spark, sf_dir).collect()}
    # drop the artifact so the second run recomputes from scratch
    assert release_artifacts(spark, sf_dir, family="kmeans") >= 1
    a2 = {(r.vec_id, r.cid) for r in kmeans_assignments(spark, sf_dir).collect()}
    assert a1 == a2, "k-means assignment must be run-to-run deterministic"
    from kinesyslog_spark.tables import hot_vectors

    n_vec = hot_vectors(spark, sf_dir).count()
    assert len({v for v, _ in a1}) == n_vec, "every vector must be assigned"
    assert len({c for _, c in a1}) <= KMEANS_K


def test_q81_scd2_runs_partition_time(spark, sf_dir):
    rows = QUERIES["q81_scd2_history"](spark, sf_dir).collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    for user, hist in by_user.items():
        hist.sort(key=lambda r: r.run_id)
        # exactly one open (current) row per user, and it is the last run
        currents = [r for r in hist if r.is_current]
        assert len(currents) == 1 and currents[0] is hist[-1]
        for a, b in zip(hist, hist[1:]):
            assert a.tier != b.tier, "consecutive runs must differ in state"
            assert a.valid_to_ms == b.valid_from_ms, "validity must chain"
            assert a.valid_from_ms <= a.valid_to_ms
