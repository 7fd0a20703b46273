"""SimHash family disk artifacts (round-12 verdict task #5): a fresh
session loads (grp, blk) from parquet instead of recomputing the
fingerprint + snake-block build — parity must be exact."""

from __future__ import annotations

import os

import pytest

from kinesyslog_spark import tables
from kinesyslog_spark.queries import dedup
from kinesyslog_spark.tables import release_hot


def _simhash_path(sf_dir):
    return tables.artifact_path(sf_dir, "simhash_groups",
                                dedup._simhash_knobs())


def _minhash_path(sf_dir):
    return tables.artifact_path(
        sf_dir, "minhash_sigs",
        (dedup.MINHASH_ARTIFACT_V, dedup.MINHASH_K, 3),
    )


def _frames_equal(a, b, key):
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    assert ra == rb, f"{key} diverged between build and disk load"
    # parquet read-back relaxes non-null to nullable; names/types must
    # match exactly
    assert a.dtypes == b.dtypes


@pytest.mark.slow
def test_simhash_artifact_roundtrip_parity(spark, sf_dir, tmp_path,
                                           monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", str(tmp_path / "cache"))
    release_hot(spark, sf_dir)
    try:
        grp0, blk0 = dedup.hot_simhash_groups(spark, sf_dir)
        apath = _simhash_path(sf_dir)
        assert apath is not None
        assert os.path.exists(os.path.join(apath, "_PUBLISHED"))
        pairs0 = sorted(
            map(tuple, dedup.q27_simhash_pairs(spark, sf_dir).collect())
        )
        # drop the session memo; the next build must come FROM DISK
        release_hot(spark, sf_dir)
        grp1, blk1 = dedup.hot_simhash_groups(spark, sf_dir)
        _frames_equal(grp0, grp1, "grp")
        _frames_equal(blk0, blk1, "blk")
        pairs1 = sorted(
            map(tuple, dedup.q27_simhash_pairs(spark, sf_dir).collect())
        )
        assert pairs0 == pairs1
    finally:
        release_hot(spark, sf_dir)


def test_simhash_artifact_key_tracks_corpus_and_scheme(tmp_path,
                                                       monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", str(tmp_path / "cache"))
    sf = tmp_path / "sf"
    sf.mkdir()
    doc = sf / "documents.parquet"
    doc.write_bytes(b"x" * 64)
    p1 = _simhash_path(str(sf))
    assert p1 is not None
    # regenerated corpus (different mtime) -> different key
    os.utime(doc, ns=(1, 2))
    p2 = _simhash_path(str(sf))
    assert p2 != p1
    # scheme version bump -> different key
    monkeypatch.setattr(dedup, "SIMHASH_ARTIFACT_V", 999)
    assert _simhash_path(str(sf)) not in (p1, p2)
    # kill switch
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", "0")
    assert _simhash_path(str(sf)) is None
    # missing corpus file -> no artifact (never a bogus key)
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", str(tmp_path / "cache"))
    assert _simhash_path(str(tmp_path / "nope")) is None


def test_simhash_artifact_unpublished_dir_is_ignored(spark, sf_dir,
                                                     tmp_path, monkeypatch):
    """A half-written artifact (no _PUBLISHED marker) must be treated
    as absent, not read."""
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", str(tmp_path / "cache"))
    apath = _simhash_path(sf_dir)
    os.makedirs(os.path.join(apath, "0"))
    assert tables._load_stored(spark, apath) is None


def test_artifact_store_is_opt_in(tmp_path, monkeypatch):
    """The disk artifact store must be OFF unless SPARK_GRAFT_ARTIFACT_DIR
    names a path: a default-on store would carry computed intermediates
    across independent engine invocations, making fresh-session
    benchmarks silently warm (OPTIMIZATION_r12 methodology rule)."""
    sf = tmp_path / "sf"
    sf.mkdir()
    (sf / "documents.parquet").write_bytes(b"x" * 64)
    monkeypatch.delenv("SPARK_GRAFT_ARTIFACT_DIR", raising=False)
    assert tables.artifact_path(str(sf), "minhash_sigs", (1,)) is None
    assert _simhash_path(str(sf)) is None
    for off in ("0", "off", "none", "", "  "):
        monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", off)
        assert tables.artifact_path(str(sf), "minhash_sigs", (1,)) is None
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", str(tmp_path / "c"))
    assert tables.artifact_path(str(sf), "minhash_sigs", (1,)) is not None


def test_minhash_artifact_roundtrip_parity(spark, sf_dir, tmp_path,
                                           monkeypatch):
    """The MinHash family rides the same generalized artifact store:
    (sh, sigs) disk roundtrip is exact, and q26's pair output is
    bit-identical from the disk-loaded frames."""
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", str(tmp_path / "cache"))
    release_hot(spark, sf_dir)
    try:
        sh0, sigs0 = dedup.hot_shingle_sigs(spark, sf_dir)
        pairs0 = sorted(
            map(tuple, dedup.q26_minhash_lsh(spark, sf_dir).collect())
        )
        apath = _minhash_path(sf_dir)
        assert os.path.exists(os.path.join(apath, "_PUBLISHED"))
        release_hot(spark, sf_dir)
        sh1, sigs1 = dedup.hot_shingle_sigs(spark, sf_dir)
        _frames_equal(sigs0, sigs1, "sigs")
        # shingle arrays: compare as (doc_id, tuple(sh))
        a = sorted((r.doc_id, tuple(r.sh)) for r in sh0.collect())
        b = sorted((r.doc_id, tuple(r.sh)) for r in sh1.collect())
        assert a == b
        pairs1 = sorted(
            map(tuple, dedup.q26_minhash_lsh(spark, sf_dir).collect())
        )
        assert pairs0 == pairs1
    finally:
        release_hot(spark, sf_dir)
