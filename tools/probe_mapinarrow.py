"""A/B the q38 GEMM pair kernel: applyInPandas (FlatMapGroupsInPandas)
vs mapInArrow over the same (bi, bj)-partitioned rows — VERDICT r12
task #4 (guide §4.3): measure the Python-boundary serialization for
real instead of asserting it small. Both variants compute the identical
pair set (same f32 prefilter + exact int64 verify); only the boundary
and the in-kernel grouping differ. Timed with the noop sink.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from kinesyslog_spark.session import get_spark  # noqa: E402
from kinesyslog_spark.tables import load_table, scratch  # noqa: E402


def _q38_block_pairs_arrow(it):
    """mapInArrow twin of ann._q38_block_pairs: one partition may hold
    several (bi, bj) blocks — batches are concatenated (applyInPandas
    materializes each group the same way) and blocks found via lexsort
    runs. q arrives as a flat Arrow list buffer -> reshape, no
    per-row object array."""
    import numpy as np
    import pyarrow as pa

    from kinesyslog_spark.queries.ann import _Q38_MARGIN32, NEARDUP_COS

    batches = list(it)
    if not batches:
        return
    tbl = pa.Table.from_batches(batches).combine_chunks()
    n = tbl.num_rows
    if n == 0:
        return
    bi = tbl.column("bi").to_numpy()
    bj = tbl.column("bj").to_numpy()
    role = tbl.column("role").to_numpy()  # int 0=a, 1=b
    vid = tbl.column("vec_id").to_numpy()
    n2 = tbl.column("n2").to_numpy()
    qcol = tbl.column("q")
    qc = qcol.chunk(0) if isinstance(qcol, pa.ChunkedArray) else qcol
    d = len(qc[0])
    q = np.asarray(qc.values).reshape(n, d)
    order = np.lexsort((role, bj, bi))
    bi, bj, role, vid, n2 = (
        bi[order], bj[order], role[order], vid[order], n2[order]
    )
    q = q[order]
    change = (np.diff(bi) != 0) | (np.diff(bj) != 0)
    starts = np.concatenate(([0], np.flatnonzero(change) + 1, [n]))
    out = []
    for r in range(len(starts) - 1):
        s, e = int(starts[r]), int(starts[r + 1])
        k = s + int(np.searchsorted(role[s:e], 1))
        if k == s or k == e:
            continue
        qa, qb = q[s:k], q[k:e]
        ida, idb = vid[s:k], vid[k:e]
        n2a, n2b = n2[s:k], n2[k:e]
        sims = (qa.astype(np.float32) @ qb.astype(np.float32).T) / np.outer(
            np.sqrt(n2a.astype(np.float64)), np.sqrt(n2b.astype(np.float64))
        )
        mask = sims >= NEARDUP_COS - _Q38_MARGIN32
        if bi[s] == bj[s]:
            mask &= ida[:, None] < idb[None, :]
        ii, jj = np.nonzero(mask)
        if not len(ii):
            continue
        dots = np.einsum("ij,ij->i", qa[ii], qb[jj])
        la, lb = ida[ii], idb[jj]
        swap = la > lb
        va = np.where(swap, lb, la)
        vb = np.where(swap, la, lb)
        n2va = np.where(swap, n2b[jj], n2a[ii])
        n2vb = np.where(swap, n2a[ii], n2b[jj])
        out.append(
            pa.RecordBatch.from_pydict(
                {
                    "vec_a": pa.array(va, pa.int64()),
                    "vec_b": pa.array(vb, pa.int64()),
                    "dot": pa.array(dots, pa.int64()),
                    "n2a": pa.array(n2va, pa.int64()),
                    "n2b": pa.array(n2vb, pa.int64()),
                }
            )
        )
    yield from out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("probe_mapinarrow")
    spark.range(1000).count()

    from kinesyslog_spark.queries.ann import (
        _Q38_BLOCK,
        _Q38_CQ,
        _Q38_PAIR_SCHEMA,
        _q38_block_pairs,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qx = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda v: F.floor(v * _Q38_CQ).cast("long"),
    )
    with scratch() as keep:
        base = keep(
            emb.select("vec_id", qx.alias("q")).withColumn(
                "n2",
                F.aggregate("q", F.lit(0).cast("long"), lambda a, x: a + x * x),
            )
        )
        n_vec = base.count()
        nb = max(1, -(-n_vec // _Q38_BLOCK))
        blk = F.pmod(F.hash("vec_id"), F.lit(nb)).cast("int")
        tagged = base.withColumn("blk", blk)
        bi = spark.range(nb).select(F.col("id").cast("int").alias("bi"))
        bj = spark.range(nb).select(F.col("id").cast("int").alias("bj"))
        pair_list = bi.join(bj, F.col("bi") <= F.col("bj"))

        def sides(role_a, role_b):
            a_side = tagged.join(
                F.broadcast(pair_list), tagged.blk == pair_list.bi
            ).select("bi", "bj", role_a.alias("role"), "vec_id", "q", "n2")
            b_side = tagged.join(
                F.broadcast(pair_list), tagged.blk == pair_list.bj
            ).select("bi", "bj", role_b.alias("role"), "vec_id", "q", "n2")
            return a_side.unionAll(b_side)

        par = spark.sparkContext.defaultParallelism

        def variant_a():
            return (
                sides(F.lit("a"), F.lit("b"))
                .groupBy("bi", "bj")
                .applyInPandas(_q38_block_pairs, _Q38_PAIR_SCHEMA)
            )

        def variant_b():
            return (
                sides(F.lit(0), F.lit(1))
                .repartition(max(par, nb * (nb + 1) // 2), "bi", "bj")
                .mapInArrow(_q38_block_pairs_arrow, _Q38_PAIR_SCHEMA)
            )

        # correctness first: identical pair sets
        rows_a = sorted(
            (r.vec_a, r.vec_b, r.dot, r.n2a, r.n2b) for r in variant_a().collect()
        )
        rows_b = sorted(
            (r.vec_a, r.vec_b, r.dot, r.n2a, r.n2b) for r in variant_b().collect()
        )
        assert rows_a == rows_b, (
            f"MISMATCH: {len(rows_a)} vs {len(rows_b)} pairs"
        )
        print(f"parity OK ({len(rows_a)} pairs)")

        for label, fn in (("A applyInPandas", variant_a),
                          ("B mapInArrow   ", variant_b)):
            samples = []
            for _ in range(5):
                t0 = time.perf_counter()
                fn().write.format("noop").mode("overwrite").save()
                samples.append(time.perf_counter() - t0)
            print(f"{label}: median {statistics.median(samples):.3f}s "
                  f"of {['%.3f' % s for s in samples]}")


if __name__ == "__main__":
    main()
