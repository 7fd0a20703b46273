"""Structural guarantees of the sketch family, asserted on real data:
Bloom never misses (no false negatives), CMS never under-counts,
PQ recall is a valid fraction. These hold by construction — the tests
pin them against refactoring accidents (a wrong hash prefix or join
type would break them before it broke the oracle)."""

from __future__ import annotations

import pytest

from kinesyslog_spark.queries import QUERIES


def test_bloom_has_no_false_negatives(spark, sf_dir):
    rows = QUERIES["q114_bloom_decontam"](spark, sf_dir).collect()
    assert rows, "bloom decontam returned nothing"
    for r in rows:
        assert r.bloom_hits >= r.exact_hits, (r.doc_id, r.bloom_hits, r.exact_hits)
        assert r.false_pos == r.bloom_hits - r.exact_hits
        assert 0 <= r.bloom_hits <= r.n_grams


def test_cms_never_undercounts(spark, sf_dir):
    rows = QUERIES["q115_cms_frequencies"](spark, sf_dir).collect()
    assert rows, "cms returned nothing"
    for r in rows:
        assert r.est_count >= r.true_count, (r.tok, r.est_count, r.true_count)
        assert r.overcount == r.est_count - r.true_count


def test_pq_recall_is_valid_fraction(spark, sf_dir):
    rows = QUERIES["q106_pq_recall"](spark, sf_dir).collect()
    assert rows, "pq recall returned nothing"
    for r in rows:
        assert 0 <= r.n_overlap <= 10
        assert abs(r.recall - r.n_overlap / 10) < 1e-12
    # the self-match (probe is its own nearest neighbor under ADC and
    # exact L2 alike) keeps recall strictly positive
    assert all(r.n_overlap >= 1 for r in rows)


def test_sketches_are_mergeable(spark):
    """The production property that makes these sketches work at 100 TB:
    they MERGE — a CMS over a union is the cellwise sum of per-shard
    sketches, and a bloom over a union is the position-set union. Built
    from plain aggregates, so the property holds by construction; the
    test pins it against a refactor toward non-linear state."""
    from pyspark.sql import functions as F

    from kinesyslog_spark.operators.text import md5_int60
    from kinesyslog_spark.queries.bloom import CMS_W

    rows = [(i, f"tok{i % 13} tok{i % 7}") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    halves = [df.filter(F.col("doc_id") % 2 == p) for p in (0, 1)]

    def cms_cells(frame):
        toks = frame.select(F.explode(F.split("text", " ")).alias("tok"))
        pos = md5_int60(F.concat(F.lit("c0:"), F.col("tok"))) % CMS_W
        return {
            r.pos: r.cell
            for r in toks.groupBy(pos.alias("pos"))
            .agg(F.count("*").alias("cell"))
            .collect()
        }

    whole = cms_cells(df)
    merged: dict = {}
    for h in halves:
        for pos, cell in cms_cells(h).items():
            merged[pos] = merged.get(pos, 0) + cell
    assert merged == whole

    def bloom_positions(frame):
        toks = frame.select(F.explode(F.split("text", " ")).alias("tok"))
        pos = md5_int60(F.concat(F.lit("b0:"), F.col("tok"))) % CMS_W
        return {r.pos for r in toks.select(pos.alias("pos")).distinct().collect()}

    assert bloom_positions(halves[0]) | bloom_positions(halves[1]) == bloom_positions(df)


def test_prefix_filter_join_is_exact(duck, sf_dir):
    """q121's whole claim: prefix filtering loses NOTHING vs the
    all-pairs brute force (and adds nothing the verify doesn't kill)."""
    from kinesyslog_spark.queries.resolution import (
        PFJ_DEN,
        PFJ_NUM,
        _q121_oracle,
    )

    got = set(map(tuple, duck.execute(
        f"SELECT doc_a, doc_b FROM ({_q121_oracle()})").fetchall()))
    truth = set(map(tuple, duck.execute(f"""
        WITH tk0 AS (
          SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
          FROM documents
        ), tk AS (
          SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
                 i -> array_to_string(toks[i:i+2], ' '))) AS ts
          FROM tk0 WHERE len(toks) >= 3
        ), s AS (SELECT doc_id, ts, len(ts) AS n FROM tk WHERE len(ts) > 0)
        SELECT a.doc_id, b.doc_id FROM s a JOIN s b ON a.doc_id < b.doc_id
        WHERE {PFJ_DEN} * len(list_intersect(a.ts, b.ts))
              >= {PFJ_NUM} * (a.n + b.n - len(list_intersect(a.ts, b.ts)))
    """).fetchall()))
    assert got == truth


from hypothesis import given, settings
from hypothesis import strategies as st

_doc_words = st.lists(
    st.sampled_from(["alpha", "beta", "gamma", "delta", "eps", "zeta"]),
    min_size=3, max_size=8,
)
_corpus121 = st.lists(_doc_words, min_size=2, max_size=6)


@settings(max_examples=6, deadline=None)
@given(docs=_corpus121)
def test_prefix_filter_join_property(spark, tmp_path_factory, docs):
    """q121 == all-pairs brute force on arbitrary small corpora (the
    fixed-corpus equality test generalized): prefix filtering must not
    depend on any corpus property beyond the threshold algebra."""
    import os

    from kinesyslog_spark.queries import QUERIES
    from kinesyslog_spark.queries.resolution import PFJ_DEN, PFJ_NUM
    from kinesyslog_spark.tables import release_hot

    tmp = tmp_path_factory.mktemp("pfj")
    path = os.path.join(str(tmp), "documents.parquet")
    rows = [
        (i, " ".join(d), "en", "src0", len(" ".join(d)))
        for i, d in enumerate(docs)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(path)
    try:
        got = {
            (r.doc_a, r.doc_b)
            for r in QUERIES["q121_prefix_filter_join"](spark, str(tmp)).collect()
        }
    finally:
        release_hot(spark, str(tmp))

    def shingles(words):
        return {
            " ".join(words[i:i + 3]) for i in range(len(words) - 2)
        }

    sets = {i: shingles(d) for i, d in enumerate(docs) if len(d) >= 3}
    want = set()
    for a in sets:
        for b in sets:
            if a < b and sets[a] and sets[b]:
                inter = len(sets[a] & sets[b])
                uni = len(sets[a] | sets[b])
                if PFJ_DEN * inter >= PFJ_NUM * uni:
                    want.add((a, b))
    assert got == want


def test_containment_join_is_exact(duck, sf_dir):
    """q122: containment prefix filtering loses nothing vs brute force."""
    from kinesyslog_spark.queries.resolution import (
        CNT_DEN,
        CNT_NUM,
        _q122_oracle,
    )

    got = set(map(tuple, duck.execute(
        f"SELECT doc_a, doc_b FROM ({_q122_oracle()})").fetchall()))
    truth = set(map(tuple, duck.execute(f"""
        WITH tk0 AS (
          SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
          FROM documents
        ), tk AS (
          SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
                 i -> array_to_string(toks[i:i+2], ' '))) AS ts
          FROM tk0 WHERE len(toks) >= 3
        ), s AS (SELECT doc_id, ts, len(ts) AS n FROM tk WHERE len(ts) > 0)
        SELECT a.doc_id, b.doc_id FROM s a JOIN s b ON a.doc_id <> b.doc_id
        WHERE {CNT_DEN} * len(list_intersect(a.ts, b.ts)) >= {CNT_NUM} * a.n
    """).fetchall()))
    assert got == truth


def test_lsh_families_route_hot_bucket_cap(spark, sf_dir, monkeypatch):
    """Registry-wide skew-guard invariant: every bucket self-join family
    must route its candidate generation through cap_hot_buckets (or its
    kernel-level mirror). Forcing the cap to 1 makes EVERY >=2-member
    bucket hot, so a family that honors the cap can emit no pairs at
    all; a family that forgot the guard keeps emitting and fails here —
    the next LSH query added to the registry has to wire the cap to
    pass."""
    import kinesyslog_spark.queries.dedup as dd

    monkeypatch.setattr(dd, "LSH_MAX_BUCKET", 1)
    for name in [
        "q26_minhash_lsh",
        "q27_simhash_pairs",
        "q28_ngram_jaccard",
        "q29_lsh_bucket_nn",
        "q96_incremental_neardup",
        "q117_edit_distance_pairs",
    ]:
        got = QUERIES[name](spark, sf_dir)
        if name == "q27_simhash_pairs":
            # q27's identical-fingerprint (hamming-0) pairs come from
            # the distinct-fp GROUP, not from any bucket join — only
            # the blocked (hamming > 0) candidates route through the
            # cap, so only those must vanish.
            got = got.filter("hamming > 0")
        assert got.count() == 0, (
            f"{name} emitted candidate pairs with every bucket over the "
            "hot-bucket cap — its candidate generation bypasses "
            "cap_hot_buckets"
        )


def test_q124_pair_kernel_respects_cap(monkeypatch):
    """q124's pair expansion runs inside a Python worker kernel, so the
    cap check lives there (imagehash._phash_bucket_pairs) rather than in
    a driver-side cap_hot_buckets call — pin that mirror directly."""
    import numpy as np
    import pandas as pd

    import kinesyslog_spark.queries.dedup as dd
    from kinesyslog_spark.queries.imagehash import _phash_bucket_pairs

    m = 5
    pdf = pd.DataFrame({  # one exact (g, b=-1, v) bucket, identical hashes
        "doc_id": np.arange(m, dtype=np.int64),
        "ba": [np.zeros(8, dtype=np.int64)] * m,  # identical -> hamming 0
        "g": np.zeros(m, dtype=np.int64),
        "b": np.full(m, -1, dtype=np.int64),
        "v": np.zeros(m, dtype=np.int64),
        "side": np.zeros(m, dtype=np.int64),
    })
    assert len(_phash_bucket_pairs(pdf)) == m * (m - 1) // 2
    monkeypatch.setattr(dd, "LSH_MAX_BUCKET", m - 1)  # bucket is now hot
    assert len(_phash_bucket_pairs(pdf)) == 0
    # masked bucket (b >= 0): cross side-0 x side-1 only, capped on
    # either side
    monkeypatch.setattr(dd, "LSH_MAX_BUCKET", 10_000)
    one = np.zeros(8, dtype=np.int64)
    one_flip = one.copy()
    one_flip[0] = 1 << 7  # bit 0 of the 64-bit hash -> hamming 1
    mk = pd.DataFrame({
        "doc_id": np.arange(4, dtype=np.int64),
        "ba": [one, one, one_flip, one_flip],
        "g": np.zeros(4, dtype=np.int64),
        "b": np.zeros(4, dtype=np.int64),
        "v": np.zeros(4, dtype=np.int64),
        "side": np.array([0, 0, 1, 1], dtype=np.int64),
    })
    out = _phash_bucket_pairs(mk)
    assert len(out) == 4  # 2x2 cross, never side-internal pairs
    assert set(out["hamming"]) == {1}
    monkeypatch.setattr(dd, "LSH_MAX_BUCKET", 1)
    assert len(_phash_bucket_pairs(mk)) == 0


def _persistent_rdd_ids(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def test_q121_candidate_budget_guardrail(spark, sf_dir, monkeypatch):
    """q121 is the exactness yardstick, inherently superlinear on
    template-saturated corpora: over the candidate budget it must fail
    FAST (one aggregate, before the join launches) and name the
    scalable LSH alternative — and unpersist the frames it already
    materialized, so the abort leaves no stale cached blocks behind."""
    import pytest

    import kinesyslog_spark.queries.resolution as res
    from kinesyslog_spark.tables import hot_tokens

    hot_tokens(spark, sf_dir)  # session-memoized — cache it OUTSIDE the probe
    # the shingle-rank frames are session ARTIFACTS (hot_shingle_rank,
    # owned by release_hot, shared with q26/q122) — cache them outside
    # the probe too; the abort must add nothing NEW.
    res.hot_shingle_rank(spark, sf_dir)
    before = _persistent_rdd_ids(spark)
    monkeypatch.setattr(res, "PFJ_MAX_CANDIDATES", 1)
    with pytest.raises(res.CandidateBudgetExceeded, match="q26_minhash_lsh"):
        QUERIES["q121_prefix_filter_join"](spark, sf_dir)
    leaked = _persistent_rdd_ids(spark) - before
    assert not leaked, (
        f"over-budget abort left {len(leaked)} persisted RDDs cached "
        "(tk/pref must be unpersisted before the raise)"
    )


def test_q122_candidate_budget_guardrail(spark, sf_dir, monkeypatch):
    """q122's asymmetric prefix-vs-posting join gets the same fail-fast
    budget (and abort-path unpersist) as q121."""
    import pytest

    import kinesyslog_spark.queries.resolution as res
    from kinesyslog_spark.tables import hot_tokens

    hot_tokens(spark, sf_dir)
    res.hot_shingle_rank(spark, sf_dir)  # session artifact (see q121 test)
    before = _persistent_rdd_ids(spark)
    monkeypatch.setattr(res, "PFJ_MAX_CANDIDATES", 1)
    with pytest.raises(res.CandidateBudgetExceeded, match="q28_ngram_jaccard"):
        QUERIES["q122_containment_join"](spark, sf_dir)
    leaked = _persistent_rdd_ids(spark) - before
    assert not leaked, (
        f"over-budget abort left {len(leaked)} persisted RDDs cached "
        "(tk/pref must be unpersisted before the raise)"
    )


def test_mih_slot_budget_arithmetic(spark, monkeypatch):
    """The slot estimate must equal the kernel's comparison count
    bit-for-bit: exact buckets C(n,2), masked buckets m0*m1, capped
    buckets excluded. Pinned on a hand-countable frame."""
    import pytest

    import kinesyslog_spark.queries.dedup as dd
    import kinesyslog_spark.queries.imagehash as ih
    from kinesyslog_spark.queries.resolution import CandidateBudgetExceeded

    # exact bucket (g=0,b=-1,v=7) with 3 members -> C(3,2) = 3 slots;
    # masked bucket (g=1,b=2,v=5) with sides (2, 1) -> 2*1 = 2 slots;
    # total 5.
    rows = (
        [(0, -1, 7, 0)] * 3
        + [(1, 2, 5, 0)] * 2
        + [(1, 2, 5, 1)]
    )
    keys = spark.createDataFrame(rows, "g int, b int, v long, side int")
    monkeypatch.setattr(ih, "PHASH_MAX_SLOTS", 5)
    ih._mih_slot_budget_check("unit", keys)  # exactly at budget: admitted
    monkeypatch.setattr(ih, "PHASH_MAX_SLOTS", 4)
    with pytest.raises(CandidateBudgetExceeded, match="~5 pair slots"):
        ih._mih_slot_budget_check("unit", keys)
    # the hot-bucket cap excludes the exact bucket's 3 slots -> 2 admitted
    monkeypatch.setattr(dd, "LSH_MAX_BUCKET", 2)
    monkeypatch.setattr(ih, "PHASH_MAX_SLOTS", 2)
    ih._mih_slot_budget_check("unit", keys)
    monkeypatch.setattr(ih, "PHASH_MAX_SLOTS", 1)
    with pytest.raises(CandidateBudgetExceeded, match="~2 pair slots"):
        ih._mih_slot_budget_check("unit", keys)


def test_q124_slot_budget_guardrail(spark, sf_dir, monkeypatch):
    """Over the slot budget q124 must fail FAST (one aggregate over the
    memoized hash artifact, before the pair kernel launches) and name
    the recall-bounded streaming twin."""
    import pytest

    import kinesyslog_spark.queries.imagehash as ih
    from kinesyslog_spark.queries.resolution import CandidateBudgetExceeded

    monkeypatch.setattr(ih, "PHASH_MAX_SLOTS", 1)
    with pytest.raises(CandidateBudgetExceeded, match="W20"):
        QUERIES["q124_image_phash_neardup"](spark, sf_dir)


def test_q174_slot_budget_guardrail(spark, sf_dir, monkeypatch):
    """q174's 16x16-bit multi-index gets the same fail-fast budget."""
    import pytest

    import kinesyslog_spark.queries.imagehash as ih
    from kinesyslog_spark.queries.resolution import CandidateBudgetExceeded

    monkeypatch.setattr(ih, "PHASH_MAX_SLOTS", 1)
    with pytest.raises(CandidateBudgetExceeded, match="W20"):
        QUERIES["q174_image_phash256_neardup"](spark, sf_dir)


def test_q38_pair_budget_guardrail(spark, sf_dir, monkeypatch):
    """q38 is the last exactness yardstick: over the GEMM pair budget it
    must fail fast (the pair count is exact from the already-needed
    vector count — zero extra jobs), name the ANN scale paths, and
    unpersist the frame it materialized."""
    import pytest

    import kinesyslog_spark.queries.ann as ann
    from kinesyslog_spark.queries.resolution import CandidateBudgetExceeded

    before = _persistent_rdd_ids(spark)
    monkeypatch.setattr(ann, "GEMM_MAX_PAIRS", 1)
    with pytest.raises(CandidateBudgetExceeded, match="q35_ann_ivf_topk"):
        QUERIES["q38_embedding_neardup"](spark, sf_dir)
    leaked = _persistent_rdd_ids(spark) - before
    assert not leaked, (
        f"over-budget abort left {len(leaked)} persisted RDDs cached"
    )


def test_lsh_slot_budget_arithmetic(spark, monkeypatch):
    """The band-bucket slot estimate must equal the expansion's emitted
    pair count bit-for-bit: C(n,2) per bucket (n = distinct members),
    capped buckets excluded; n1*n0 in the asymmetric (q96) form. Pinned
    on a hand-countable frame."""
    import pytest
    from pyspark.sql import functions as F

    import kinesyslog_spark.queries.dedup as dd
    from kinesyslog_spark.queries.resolution import CandidateBudgetExceeded

    # bucket (0,'a'): 4 members -> C(4,2) = 6 slots
    # bucket (1,'b'): 2 members -> 1 slot; total 7
    rows = (
        [(i, 0, "a") for i in range(4)]
        + [(10, 1, "b"), (11, 1, "b")]
        + [(10, 1, "b")]  # duplicate row: countDistinct must dedup it
    )
    keyed = spark.createDataFrame(
        rows, "doc_id long, band_idx int, band_key string"
    )
    monkeypatch.setattr(dd, "LSH_MAX_SLOTS", 7)
    dd._lsh_slot_budget_check("unit", keyed, ["band_idx", "band_key"], None)
    monkeypatch.setattr(dd, "LSH_MAX_SLOTS", 6)
    with pytest.raises(CandidateBudgetExceeded, match="~7 candidate pair slots"):
        dd._lsh_slot_budget_check("unit", keyed, ["band_idx", "band_key"], None)
    # the hot-bucket cap excludes the 4-member bucket's 6 slots -> 1 admitted
    monkeypatch.setattr(dd, "LSH_MAX_SLOTS", 1)
    dd._lsh_slot_budget_check("unit", keyed, ["band_idx", "band_key"], 3)
    # asymmetric form: sides by doc parity -> bucket (0,'a') has 2x2 = 4,
    # bucket (1,'b') 1x1 = 1; total 5
    side = F.col("doc_id") % 2 == 0
    monkeypatch.setattr(dd, "LSH_MAX_SLOTS", 5)
    dd._lsh_slot_budget_check("unit", keyed, ["band_idx", "band_key"], None, side=side)
    monkeypatch.setattr(dd, "LSH_MAX_SLOTS", 4)
    with pytest.raises(CandidateBudgetExceeded, match="~5 candidate pair slots"):
        dd._lsh_slot_budget_check("unit", keyed, ["band_idx", "band_key"], None, side=side)
    # cap excludes the 4-member bucket -> 1 admitted
    monkeypatch.setattr(dd, "LSH_MAX_SLOTS", 1)
    dd._lsh_slot_budget_check("unit", keyed, ["band_idx", "band_key"], 3, side=side)


def test_q26_q28_slot_budget_guardrail(spark, sf_dir, monkeypatch):
    """Over the slot budget the band-bucket family must fail FAST (one
    aggregate over the persisted signature frame, before the expansion
    launches), name the W9 streaming twin and the rows dial, and leave
    no persisted frames behind on the abort path."""
    import pytest

    import kinesyslog_spark.queries.dedup as dd
    from kinesyslog_spark.queries.dedup import hot_shingle_sigs
    from kinesyslog_spark.queries.resolution import CandidateBudgetExceeded

    hot_shingle_sigs(spark, sf_dir)  # session artifact, not a leak
    monkeypatch.setattr(dd, "LSH_MAX_SLOTS", 1)
    with pytest.raises(CandidateBudgetExceeded, match="W9"):
        QUERIES["q26_minhash_lsh"](spark, sf_dir)
    before = _persistent_rdd_ids(spark)
    with pytest.raises(CandidateBudgetExceeded, match="SPARK_GRAFT_NGRAM_ROWS"):
        QUERIES["q28_ngram_jaccard"](spark, sf_dir)
    leaked = _persistent_rdd_ids(spark) - before
    assert not leaked, (
        f"q28 over-budget abort left {len(leaked)} persisted RDDs cached "
        "(base/keyed must be unpersisted before the raise)"
    )


def test_q27_q96_slot_budget_guardrail(spark, sf_dir, monkeypatch):
    """q27's codegen self-join and q96's asymmetric probe join get the
    same fail-fast budget; the abort must not leak any per-call
    persisted frames (the session family artifacts — hot_simhash_groups
    for q27, hot_shingle_sigs for q96 — are pre-warmed below and are
    release_hot's responsibility, not the abort path's)."""
    import pytest

    import kinesyslog_spark.queries.dedup as dd
    from kinesyslog_spark.queries.dedup import (
        hot_shingle_sigs,
        hot_simhash_groups,
    )
    from kinesyslog_spark.queries.resolution import CandidateBudgetExceeded
    from kinesyslog_spark.tables import hot_tokens

    hot_tokens(spark, sf_dir)
    hot_simhash_groups(spark, sf_dir)
    before = _persistent_rdd_ids(spark)
    monkeypatch.setattr(dd, "LSH_MAX_SLOTS", 1)
    with pytest.raises(CandidateBudgetExceeded, match="W9"):
        QUERIES["q27_simhash_pairs"](spark, sf_dir)
    leaked = _persistent_rdd_ids(spark) - before
    assert not leaked, (
        f"q27 over-budget abort left {len(leaked)} persisted RDDs cached "
        "(fps must be unpersisted before the raise)"
    )
    hot_shingle_sigs(spark, sf_dir)
    with pytest.raises(CandidateBudgetExceeded, match="q96_incremental_neardup"):
        QUERIES["q96_incremental_neardup"](spark, sf_dir)


def test_auto_ngram_rows_schedule():
    """The engine-API rows ~ log10(N) schedule: constant 3 through the
    certified 10^5 regime, +1 per decade after (10^6 -> 4 matches the
    measured sf10 setting)."""
    from kinesyslog_spark.queries.dedup import auto_ngram_rows

    assert auto_ngram_rows(1) == 3
    assert auto_ngram_rows(60_000) == 3
    assert auto_ngram_rows(100_000) == 3
    assert auto_ngram_rows(500_000) == 4
    assert auto_ngram_rows(1_000_000) == 4
    assert auto_ngram_rows(5_000_000) == 5
    assert auto_ngram_rows(10_000_000) == 5
    assert auto_ngram_rows(100_000_000) == 6


@pytest.mark.slow
def test_ngram_candidates_frame_derives_rows(spark, sf_dir):
    """Round-10 verdict #5: the engine-API blocking must WIRE the
    rows ~ log N schedule, not just define it. A 500k-doc frame gets
    rows=4 with no env dial; the registered-corpus scale keeps 3; the
    registered q28 path stays pinned to NGRAM_ROWS regardless."""
    from pyspark.sql import functions as F

    from kinesyslog_spark.queries.dedup import (
        NGRAM_ROWS,
        ngram_candidates_frame,
    )
    from kinesyslog_spark.tables import load_table, scratch

    big = spark.range(500_000).select(
        F.col("id").alias("doc_id"),
        F.format_string("doc%06dxx", F.col("id")).alias("text"),
    )
    with scratch() as keep:
        cand, base, rows = ngram_candidates_frame(big, keep)
        assert rows == 4

    docs = load_table(spark, sf_dir, "documents")
    with scratch() as keep:
        cand, base, rows = ngram_candidates_frame(docs, keep)
        assert rows == 3 == NGRAM_ROWS
        # same candidate pairs as the registered q28 blocking at this scale
        assert cand.count() > 0


def test_release_hot_clears_ngram_tuple_corpus_keys(spark):
    """ADVICE r11 (tables.py): the ngram family's slot estimates carry
    their rows dial (now in the estimate's family name, once a
    (sf_dir, rows) tuple corpus key); a targeted
    release_hot(spark, sf_dir) must clear those entries too, and only
    that corpus's."""
    from kinesyslog_spark.tables import (
        artifact,
        artifact_inventory,
        release_artifacts,
        release_hot,
    )

    sf, other = "/tmp/slotest-corpus-a", "/tmp/slotest-corpus-b"
    ngram, plain = "slots:ngram_bands:rows=4096", "slots:minhash_bands"
    artifact(spark, sf, ngram, lambda keep: (1, 0), knobs=(64,))
    artifact(spark, sf, plain, lambda keep: (2, 0), knobs=(64,))
    artifact(spark, other, ngram, lambda keep: (3, 0), knobs=(64,))

    def resident():
        return {(a["family"], a["corpus"])
                for a in artifact_inventory(spark)}

    try:
        release_hot(spark, sf)
        assert (ngram, sf) not in resident(), (
            "rows-dial ngram estimate survived targeted release"
        )
        assert (plain, sf) not in resident()
        assert (ngram, other) in resident(), (
            "targeted release must not clear other corpora"
        )
    finally:
        release_artifacts(spark, other)
