"""Blocked-GEMM exact similarity join (q38/q78 kernels) — block
invariance and cross-block coverage.

The oracle gate runs at sf0.01, where the whole corpus fits ONE
2048-row block, so the multi-block path (hash-assigned blocks, pair
canonicalization when a cross-block pair arrives with the larger id on
the a-side) is never driver-exercised. These tests force many tiny
blocks over the same data and pin the results equal to the
single-block run — a partitioning choice must never change an EXACT
join's output. (The canonicalization bug this pins: blocks are
hash-assigned, so ~half of all cross-block pairs arrive id-reversed;
dropping them loses pairs silently.)"""

from __future__ import annotations

import pytest


def _q38_rows(spark, sf_dir):
    from kinesyslog_spark.queries import QUERIES

    return sorted(
        (r.vec_a, r.vec_b, r.sim)
        for r in QUERIES["q38_embedding_neardup"](spark, sf_dir).collect()
    )


def test_q38_block_partitioning_invariance(spark, sf_dir, monkeypatch):
    import kinesyslog_spark.queries.ann as ann

    single = _q38_rows(spark, sf_dir)  # default block: one block at test SF
    monkeypatch.setattr(ann, "_Q38_BLOCK", 16)  # force many blocks
    multi = _q38_rows(spark, sf_dir)
    assert multi == single
    assert len(single) > 0  # the corpus plants near-dup vectors


def test_q38_mapinarrow_plan_and_pandas_parity(spark, sf_dir):
    """r13: q38's kernel stage runs as mapInArrow (guide §4.3). Pin the
    plan node (MapInArrow, not FlatMapGroupsInPandas) and pin the arrow
    kernel's output equal to the pandas form over the same rows — the
    two wrappers must stay bit-identical around the shared math."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa

    from kinesyslog_spark.queries import QUERIES
    from kinesyslog_spark.queries.ann import (
        _q38_block_pairs,
        _q38_block_pairs_arrow,
    )

    df = QUERIES["q38_embedding_neardup"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan
    assert "FlatMapGroupsInPandas" not in plan

    rng = np.random.default_rng(11)
    dim = 8
    rows = []
    vid = 0
    for blk in ((0, 0), (0, 1)):  # one same-block and one cross-block task
        for role in (0, 1):
            for _ in range(12):
                qv = rng.integers(-1000, 1000, size=dim, dtype=np.int64)
                rows.append({
                    "bi": blk[0], "bj": blk[1], "role": role, "vec_id": vid,
                    "q": qv, "n2": int((qv * qv).sum()),
                })
                vid += 1
    # pandas form runs per (bi, bj) group with string roles
    pdf = pd.DataFrame(rows)
    pdf_str = pdf.assign(role=np.where(pdf["role"] == 0, "a", "b"))
    want = []
    for _, grp in pdf_str.groupby(["bi", "bj"]):
        out = _q38_block_pairs(grp)
        want += list(zip(out["vec_a"], out["vec_b"], out["dot"],
                         out["n2a"], out["n2b"]))
    # arrow form gets the whole partition as one batch
    batch = pa.RecordBatch.from_pydict({
        "bi": pa.array(pdf["bi"], pa.int32()),
        "bj": pa.array(pdf["bj"], pa.int32()),
        "role": pa.array(pdf["role"], pa.int32()),
        "vec_id": pa.array(pdf["vec_id"], pa.int64()),
        "q": pa.array([list(q) for q in pdf["q"]], pa.list_(pa.int64())),
        "n2": pa.array(pdf["n2"], pa.int64()),
    })
    got = []
    for out in _q38_block_pairs_arrow(iter([batch])):
        t = out.to_pydict()
        got += list(zip(t["vec_a"], t["vec_b"], t["dot"],
                        t["n2a"], t["n2b"]))
    assert sorted(got) == sorted(want)
    assert got, "planted rows must produce at least one candidate pair"


def test_q38_arrow_kernel_honours_sliced_batches():
    """A sliced RecordBatch keeps its list column's offsets: the kernel
    must read each row's own vector (list-array flatten), not the child
    buffer from element 0 — otherwise every GEMM vector misaligns."""
    import numpy as np
    import pyarrow as pa

    from kinesyslog_spark.queries.ann import _q38_block_pairs_arrow

    rng = np.random.default_rng(5)
    dim, pad = 8, 7
    qs = [rng.integers(-1000, 1000, size=dim, dtype=np.int64)
          for _ in range(pad + 24)]
    roles = [0] * pad + [0] * 12 + [1] * 12

    def batch(lo):
        return pa.RecordBatch.from_pydict({
            "bi": pa.array([0] * (len(qs) - lo), pa.int32()),
            "bj": pa.array([0] * (len(qs) - lo), pa.int32()),
            "role": pa.array(roles[lo:], pa.int32()),
            "vec_id": pa.array(range(lo, len(qs)), pa.int64()),
            "q": pa.array([list(q) for q in qs[lo:]], pa.list_(pa.int64())),
            "n2": pa.array([int((q * q).sum()) for q in qs[lo:]], pa.int64()),
        })

    def pairs(b):
        got = []
        for out in _q38_block_pairs_arrow(iter([b])):
            t = out.to_pydict()
            got += list(zip(t["vec_a"], t["vec_b"], t["dot"],
                            t["n2a"], t["n2b"]))
        return sorted(got)

    sliced = batch(0).slice(pad)
    assert sliced.column("q").offset == pad
    want = pairs(batch(pad))
    assert want, "the 12x12 block must produce candidate pairs"
    assert pairs(sliced) == want


def _q78_rows(spark, sf_dir):
    from kinesyslog_spark.queries import QUERIES

    return sorted(
        (r.vec_a, r.vec_b, r.cluster_id, r.sim)
        for r in QUERIES["q78_semantic_neardup"](spark, sf_dir).collect()
    )


@pytest.mark.slow
def test_q78_block_partitioning_invariance(spark, sf_dir, monkeypatch):
    # q78 tiles each k-means cluster with the same hash-block machinery
    # (block count sized off the largest cluster); forcing tiny blocks
    # must not change the exact verify's output — including cross-block
    # pairs arriving id-reversed.
    import kinesyslog_spark.queries.ann as ann

    single = _q78_rows(spark, sf_dir)  # default block: one block at test SF
    monkeypatch.setattr(ann, "_Q38_BLOCK", 4)  # force many blocks per cluster
    multi = _q78_rows(spark, sf_dir)
    assert multi == single
    assert len(single) > 0
    assert all(a < b for a, b, _, _ in multi)


@pytest.mark.slow
def test_q38_cross_block_pairs_survive_id_reversal(spark, sf_dir, monkeypatch):
    # With 2-row blocks nearly every matching pair is cross-block, and
    # hash assignment puts the larger id on the a-side for ~half of
    # them; all must still appear, canonicalized to vec_a < vec_b.
    import kinesyslog_spark.queries.ann as ann

    single = _q38_rows(spark, sf_dir)
    monkeypatch.setattr(ann, "_Q38_BLOCK", 2)
    multi = _q38_rows(spark, sf_dir)
    assert multi == single
    assert all(a < b for a, b, _ in multi)


def test_q38_f32_prefilter_keeps_threshold_pairs():
    """The float32 GEMM prefilter must never drop a pair whose EXACT
    rounded sim reaches the threshold (false positives are re-verified
    exactly; false negatives would silently lose rows). Adversarial
    construction: pairs engineered so the exact cosine lands exactly at
    and just beyond NEARDUP_COS, plus max-magnitude components that
    stress the f32 accumulation bound (_Q38_MARGIN32 proof)."""
    import numpy as np
    import pandas as pd

    from kinesyslog_spark.queries.ann import (
        _Q38_CQ,
        _q38_block_pairs,
        NEARDUP_COS,
    )

    rng = np.random.default_rng(7)
    dim = 64
    rows = []
    vid = 0

    def add(qvec):
        nonlocal vid
        rows.append({
            "bi": 0, "bj": 0, "role": "a", "vec_id": vid,
            "q": np.asarray(qvec, dtype=np.int64),
            "n2": int((np.asarray(qvec, dtype=np.int64) ** 2).sum()),
        })
        rows.append({**rows[-1], "role": "b"})
        vid += 1

    # max-magnitude stress: components at the quantization ceiling
    base = np.full(dim, int(0.57 * _Q38_CQ), dtype=np.int64)
    add(base)
    # a partner built to land the exact cosine within ~1e-6 of the
    # threshold: first k components aligned, the rest orthogonal-ish
    # alternating signs (exact integer arithmetic keeps this stable)
    for k in (26, 27, 28):  # brackets cos ~= 0.40 for alternating tails
        partner = base.copy()
        partner[k:] *= np.where(np.arange(dim - k) % 2 == 0, -1, 1)
        add(partner)
    # random near-threshold cloud
    for _ in range(40):
        v = rng.normal(size=dim)
        v /= np.linalg.norm(v)
        rows_q = np.floor(v * 0.5 * _Q38_CQ).astype(np.int64)
        add(rows_q)
    pdf = pd.DataFrame(rows)
    out = _q38_block_pairs(pdf)
    got = set(zip(out["vec_a"], out["vec_b"]))

    # exact ground truth over all pairs (integer dots, float64 division,
    # round-half-up at 4 decimals like the engine)
    import decimal

    qm = np.stack([r["q"] for r in rows[::2]])
    n2 = np.array([r["n2"] for r in rows[::2]], dtype=np.int64)
    n = len(qm)
    missed = []
    for i in range(n):
        for j in range(i + 1, n):
            dot = int((qm[i] * qm[j]).sum())
            sim = dot / (np.sqrt(float(n2[i])) * np.sqrt(float(n2[j])))
            simr = float(
                decimal.Decimal(repr(sim)).quantize(
                    decimal.Decimal("0.0001"),
                    rounding=decimal.ROUND_HALF_UP,
                )
            )
            if simr >= NEARDUP_COS and (i, j) not in got:
                missed.append((i, j, sim))
    assert not missed, f"f32 prefilter dropped true pairs: {missed[:5]}"
