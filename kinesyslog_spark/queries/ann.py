r"""Approximate-nearest-neighbor search over `embeddings` (north star).

The brute-force cosine top-k baseline is q21 (queries/llm.py). These are
the *scale paths* — at 100 TB a probe cannot scan every vector:

- q29 sign-LSH bucket NN: hash every vector to a bucket by the sign bits
  of its leading dimensions (axis-aligned random-hyperplane LSH); search
  only within the bucket. Per-bucket quadratic, bounded by bucket size;
  add bits (or multiple hash tables) as the corpus grows.
- q35 IVF top-k: partition the corpus into coarse lists (here: the label
  column stands in for k-means cells), route each probe to its nearest
  centroid (a broadcast join against a tiny centroid table), and scan only
  that list. The centroid build is two aggregations (posexplode -> per-
  (list, dim) mean -> re-assembled vector) — exactly how an IVF index
  build distributes.

Both are deterministic (no rand) so they hash-match the DuckDB oracle;
recall loss vs q21 is the documented LSH/IVF tradeoff.
"""

from __future__ import annotations


from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from kinesyslog_spark.env import env_budget
from kinesyslog_spark.queries import query
from kinesyslog_spark.tables import artifact, hot_vectors, load_table

EMB_DIM = 64
BUCKET_BITS = 4
N_PROBES = 10
TOP_K = 5
NEARDUP_COS = 0.4

def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hot_vectors(spark, sf_dir).select("vec_id", "label", "emb")


def _norm(col: Column) -> Column:
    return F.sqrt(
        F.aggregate(F.transform(col, lambda x: x * x), F.lit(0.0), lambda a, x: a + x)
    )


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)


_ORACLE_DOT = (
    f"list_sum(list_transform(range(1, {EMB_DIM + 1}), i -> {{a}}[i] * {{b}}[i]))"
)


def _sign_bucket(col: Column, bits: int) -> Column:
    return F.concat(
        *[
            F.when(F.element_at(col, i) >= 0, F.lit("1")).otherwise(F.lit("0"))
            for i in range(1, bits + 1)
        ]
    )


# ---------------------------------------------------------------------------
# Q29 — nearest neighbor within sign-LSH bucket
# ---------------------------------------------------------------------------

def _q29_oracle() -> str:
    bucket = " || ".join(
        f"(CASE WHEN emb[{i}] >= 0 THEN '1' ELSE '0' END)" for i in range(1, BUCKET_BITS + 1)
    )
    dot = _ORACLE_DOT.format(a="x.emb", b="y.emb")
    return f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
    ), b AS (
      SELECT vec_id, emb, {bucket} AS bucket,
             sqrt(list_sum(list_transform(emb, v -> v * v))) AS nrm
      FROM e
    ), pairs AS (
      SELECT x.vec_id AS vec_id, y.vec_id AS nn_id,
             ROUND({dot} / (x.nrm * y.nrm), 4) AS sim
      FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id <> y.vec_id
    )
    SELECT vec_id, nn_id, sim FROM (
      SELECT vec_id, nn_id, sim,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, nn_id) AS rn
      FROM pairs
    ) WHERE rn = 1
    ORDER BY vec_id
    """


@query("q29_lsh_bucket_nn", oracle=_q29_oracle())
def q29_lsh_bucket_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = hot_vectors(spark, sf_dir).select(
        "vec_id",
        "emb",
        _sign_bucket(F.col("emb"), BUCKET_BITS).alias("bucket"),
        "nrm",
    )
    from kinesyslog_spark.queries.dedup import LSH_MAX_BUCKET, cap_hot_buckets

    e = cap_hot_buckets(e, ["bucket"], LSH_MAX_BUCKET, id_col="vec_id")
    x = e.select("bucket", F.col("vec_id").alias("vec_id"), F.col("emb").alias("ea"), F.col("nrm").alias("na"))
    y = e.select("bucket", F.col("vec_id").alias("nn_id"), F.col("emb").alias("eb"), F.col("nrm").alias("nb"))
    pairs = (
        x.join(y, "bucket")
        .filter(F.col("vec_id") != F.col("nn_id"))
        .select(
            "vec_id", "nn_id",
            F.round(_dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")), 4).alias("sim"),
        )
    )
    w = W.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("nn_id"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "nn_id", "sim")
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# Q35 — IVF-style top-k: route probe to nearest coarse centroid, scan list
# ---------------------------------------------------------------------------

def _q35_oracle(nprobe: int = 1) -> str:
    dot_pc = _ORACLE_DOT.format(a="p.emb", b="c.cvec")
    dot_pe = _ORACLE_DOT.format(a="p.emb", b="e.emb")
    return f"""
    WITH e AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings
    ), pos AS (
      SELECT label, i.i AS pos, emb[i.i] AS v
      FROM e CROSS JOIN (SELECT unnest(range(1, {EMB_DIM + 1})) AS i) i
    ), cent AS (
      SELECT label, list(m ORDER BY pos) AS cvec
      FROM (SELECT label, pos, avg(v) AS m FROM pos GROUP BY label, pos)
      GROUP BY label
    ), p AS (
      SELECT vec_id AS pid, emb FROM e WHERE vec_id < {N_PROBES}
    ), routed AS (
      SELECT pid, target_label FROM (
        SELECT p.pid, c.label AS target_label,
               ROW_NUMBER() OVER (PARTITION BY p.pid ORDER BY
                 ROUND({dot_pc} / (sqrt(list_sum(list_transform(p.emb, v -> v*v)))
                   * sqrt(list_sum(list_transform(c.cvec, v -> v*v)))), 4) DESC,
                 c.label) AS rn
        FROM p CROSS JOIN cent c
      ) WHERE rn <= {nprobe}
    ), scanned AS (
      SELECT r.pid, e.vec_id,
             ROUND({dot_pe} / (sqrt(list_sum(list_transform(p.emb, v -> v*v)))
               * sqrt(list_sum(list_transform(e.emb, v -> v*v)))), 4) AS sim
      FROM routed r
      JOIN p ON p.pid = r.pid
      JOIN e ON e.label = r.target_label AND e.vec_id <> r.pid
    )
    SELECT pid, vec_id, sim, rn FROM (
      SELECT pid, vec_id, sim,
             ROW_NUMBER() OVER (PARTITION BY pid ORDER BY sim DESC, vec_id) AS rn
      FROM scanned
    ) WHERE rn <= {TOP_K}
    ORDER BY pid, rn
    """


def _ivf_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session artifact: the IVF coarse-centroid table — an IVF index is
    a persisted structure in any vector store (built once at ingest,
    probed by every query), so the build cost is paid once per session,
    not per query. Coarse centroids = per-list (label) dimension means."""

    def build(keep):
        return (
            _emb(spark, sf_dir)
            .select("label", F.posexplode("emb").alias("pos", "v"))
            .groupBy("label", "pos")
            .agg(F.avg("v").alias("m"))
            .groupBy("label")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
                ).alias("cvec")
            )
        )

    return artifact(spark, sf_dir, "ivf_centroids", build)


def _ivf_topk(spark: SparkSession, sf_dir: str, nprobe: int) -> DataFrame:
    e = hot_vectors(spark, sf_dir)
    cent = _ivf_centroids(spark, sf_dir)

    probes = e.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("pid"), F.col("emb").alias("pemb"),
        F.col("nrm").alias("pnrm"),
    )

    # Route each probe to its nearest centroid — broadcast the tiny
    # centroid table (a handful of rows even with thousands of IVF lists).
    routed = (
        probes.crossJoin(F.broadcast(cent))
        .select(
            "pid", "pemb", "pnrm", F.col("label").alias("target_label"),
            F.round(
                _dot(F.col("pemb"), F.col("cvec")) / (F.col("pnrm") * _norm(F.col("cvec"))), 4
            ).alias("csim"),
        )
        .withColumn(
            "rn",
            F.row_number().over(W.partitionBy("pid").orderBy(F.desc("csim"), F.asc("target_label"))),
        )
        .filter(F.col("rn") <= nprobe)
        .select("pid", "pemb", "pnrm", "target_label")
    )

    # Scan only the routed list: broadcast the (tiny) probe set into the
    # corpus scan — the corpus side is never shuffled; per-vector norms
    # come precomputed from the hot vector projection.
    scanned = (
        e.join(F.broadcast(routed), (e["label"] == routed["target_label"]) & (e["vec_id"] != routed["pid"]))
        .select(
            "pid", "vec_id",
            F.round(_dot(F.col("pemb"), F.col("emb")) / (F.col("pnrm") * F.col("nrm")), 4).alias("sim"),
        )
    )
    w = W.partitionBy("pid").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        scanned.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= TOP_K)
        .orderBy("pid", "rn")
    )


@query("q35_ann_ivf_topk", oracle=_q35_oracle())
def q35_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ivf_topk(spark, sf_dir, nprobe=1)


# nprobe=2: scan the two nearest lists per probe — the standard IVF
# recall knob. Lists are disjoint (one label per vector), so the union
# needs no dedup; scan cost scales linearly with nprobe while recall
# recovers the neighbors that straddle a cell boundary.
@query("q47_ann_ivf_nprobe2", oracle=_q35_oracle(nprobe=2))
def q47_ann_ivf_nprobe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ivf_topk(spark, sf_dir, nprobe=2)


# ---------------------------------------------------------------------------
# Q38 — embedding-cosine near-duplicate pairs: EXACT blocked-GEMM join
# ---------------------------------------------------------------------------
# The declared semantic is "every pair with cosine >= 0.4" — a 66-degree
# angle. Sign-LSH cannot block there: the per-hyperplane flip
# probability of a threshold pair is acos(0.4)/pi = 0.37 vs 0.50 for
# chance pairs, so ANY (bits, probes) scheme either keeps near-zero
# recall at the threshold or admits a constant fraction of all pairs —
# the former 4-bit multi-probe scheme admitted ~69% of ALL pairs
# (P[Ham(4) <= 2] at p=0.5) and measured a 31x decade blowup at sf1.
# The honest implementation of a low-threshold exact similarity join is
# the blocked all-pairs GEMM (the V. Anastasiu/Karypis "exact cosine
# join" regime): hash vectors into ~2k-row blocks, enumerate the
# B(B+1)/2 block pairs, and give each (block_a, block_b) task one
# numpy float64 GEMM as a PRE-FILTER (error <= 1e-13 relative, margin
# 1e-4 below the threshold) followed by an exact integer verify.
# Work is O(N^2 d) FLOPs but at GEMM speed; shuffled bytes are
# O(N * B) = O(N^1.5 * d / block) — sub-quadratic data movement. 100%
# recall by construction (exact results, simpler than LSH). At true
# corpus scale an exact cos>=0.4 join is infeasible no matter the
# blocking — the scale path is the IVF/LSH ANN family (q29/q35/q47),
# which targets top-k, not exhaustive low-threshold pairs.
#
# Cross-engine determinism (the q136 convention): components quantize
# to floor(v * 1e6) BIGINTs, so dots and squared norms are EXACT
# integers computed identically in any summation order; the only float
# math is the final dot/(sqrt * sqrt) on identical operands, rounded by
# the ENGINE (F.round / ROUND on identical doubles), never by numpy.

_Q38_CQ = 1_000_000     # component quantization scale (q136 convention)
_Q38_BLOCK = 2048       # target vectors per GEMM block
# float64 GEMM error on 64-term 1e12-scale sums is ~1e-13 relative; the
# margin also covers round-half-up at the 4th decimal (5e-5).
_Q38_MARGIN = 1e-4
# float32 prefilter margin (the precision ladder): quantized components
# |q| <= CQ < 2^24 convert to float32 EXACTLY, so the only f32 error is
# the sgemm accumulation, bounded by gamma_d = d*u/(1-d*u) (u = 2^-24)
# times sum|a_i||b_i| <= ||a||*||b|| (Cauchy-Schwarz) — i.e. <= 3.9e-6
# on the normalized sim at d=64 (3.1e-5 even at d=512). Required slack
# is 5e-5 (round-half-up) + gamma_d; 2e-4 keeps >3x headroom, and extra
# survivors only cost exact int64 dots, never change the result.
_Q38_MARGIN32 = 2e-4
# Pair-budget guardrail (the q121/q124 fail-fast pattern): the blocked
# GEMM computes EXACTLY N*(N-1)/2 candidate dots, known from the one
# count that already materializes the persisted base — no extra job.
# Over budget the yardstick refuses to launch and names the ANN scale
# paths. The default admits sf0.1 (20k vectors ~ 200M pairs) and
# rejects the next decade (200k ~ 20B). Set to 0 to disable (unset
# keeps the default budget; malformed values fall back to it).
GEMM_MAX_PAIRS: int | None = env_budget(
    "SPARK_GRAFT_GEMM_MAX_PAIRS", 1_000_000_000
)


def _q38_oracle() -> str:
    return f"""
    WITH e AS (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[],
                            v -> CAST(FLOOR(v * {_Q38_CQ}) AS BIGINT)) AS q
      FROM embeddings
    ), b AS (
      SELECT vec_id, q,
             CAST(list_sum(list_transform(q, v -> v * v)) AS BIGINT) AS n2
      FROM e
    )
    SELECT vec_a, vec_b, sim FROM (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             ROUND(CAST(list_sum(list_transform(range(1, len(a.q) + 1),
                        i -> a.q[i] * b.q[i])) AS BIGINT)
                   / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))),
                   4) AS sim
      FROM b a JOIN b b ON a.vec_id < b.vec_id
    ) WHERE sim >= {NEARDUP_COS}
    ORDER BY vec_a, vec_b
    """


_Q38_PAIR_SCHEMA = "vec_a long, vec_b long, dot long, n2a long, n2b long"


def _q38_pairs_np(qa, qb, ida, idb, n2a, n2b, same_block):
    """Shared per-block math of the q38 kernel: float32 GEMM pre-filter
    (see _Q38_MARGIN32 for the recall proof — conversion is exact below
    2^24, sgemm error is bounded well under the margin, and false
    positives are re-checked exactly) + exact int64 verify. Returns
    (vec_a, vec_b, dot, n2a, n2b) int64 arrays (or None if empty) with
    EXACT integer dot/norms; the caller does the float division +
    rounding engine-side."""
    import numpy as np

    # f32 GEMM halves the prefilter's memory traffic and doubles SIMD
    # width; the int->f32 conversion is exact (components < 2^24) and
    # the accumulated error is covered by _Q38_MARGIN32. Norms stay
    # f64 (exact ints < 2^53), so the division adds ~1 ulp.
    sims = (qa.astype(np.float32) @ qb.astype(np.float32).T) / np.outer(
        np.sqrt(n2a.astype(np.float64)), np.sqrt(n2b.astype(np.float64))
    )
    mask = sims >= NEARDUP_COS - _Q38_MARGIN32
    if same_block:
        # same-block task: the two sides are the same vectors — keep the
        # upper triangle only
        mask &= ida[:, None] < idb[None, :]
    ii, jj = np.nonzero(mask)
    if not len(ii):
        return None
    # exact integer dots for the survivors only (order-free, no float)
    dots = np.einsum("ij,ij->i", qa[ii], qb[jj])
    # canonicalize: blocks are hash-assigned, so a cross-block pair can
    # arrive with either id on either side — (vec_a, vec_b) = (min, max)
    la, lb = ida[ii], idb[jj]
    swap = la > lb
    va = np.where(swap, lb, la)
    vb = np.where(swap, la, lb)
    n2va = np.where(swap, n2b[jj], n2a[ii])
    n2vb = np.where(swap, n2a[ii], n2b[jj])
    return va, vb, dots, n2va, n2vb


def _q38_block_pairs(pdf):
    """pandas form of the block kernel (one (bi, bj) group): kept as the
    direct-call surface for the adversarial threshold tests; the query
    itself runs the mapInArrow twin below (same math via _q38_pairs_np)."""
    import numpy as np
    import pandas as pd

    a = pdf[pdf["role"] == "a"]
    b = pdf[pdf["role"] == "b"]
    if a.empty or b.empty:
        return pd.DataFrame(
            columns=["vec_a", "vec_b", "dot", "n2a", "n2b"]
        ).astype("int64")
    got = _q38_pairs_np(
        np.stack(a["q"].to_numpy()).astype(np.int64),
        np.stack(b["q"].to_numpy()).astype(np.int64),
        a["vec_id"].to_numpy(), b["vec_id"].to_numpy(),
        a["n2"].to_numpy(), b["n2"].to_numpy(),
        int(a["bi"].iat[0]) == int(a["bj"].iat[0]),
    )
    if got is None:
        return pd.DataFrame(
            columns=["vec_a", "vec_b", "dot", "n2a", "n2b"]
        ).astype("int64")
    va, vb, dots, n2va, n2vb = got
    return pd.DataFrame({
        "vec_a": va, "vec_b": vb,
        "dot": dots, "n2a": n2va, "n2b": n2vb,
    })


def _q38_block_pairs_arrow(it):
    """mapInArrow form of the block kernel (guide §4.3): one partition
    may hold several (bi, bj) blocks — batches are concatenated (the
    applyInPandas form materialized each group the same way) and blocks
    are found via one lexsort, the _mih_bucket_pairs run pattern. The
    win over FlatMapGroupsInPandas is the boundary: `q` arrives as ONE
    flat Arrow list buffer and reshapes to the GEMM matrix zero-copy,
    where pandas delivered an object Series of per-row arrays that
    np.stack re-copied (measured 28% off the kernel stage at sf0.1);
    `role` rides as a tinyint instead of a string."""
    import numpy as np
    import pyarrow as pa

    batches = list(it)
    if not batches:
        return
    tbl = pa.Table.from_batches(batches).combine_chunks()
    n = tbl.num_rows
    if n == 0:
        return
    bi = tbl.column("bi").to_numpy()
    bj = tbl.column("bj").to_numpy()
    role = tbl.column("role").to_numpy()
    vid = tbl.column("vec_id").to_numpy()
    n2 = tbl.column("n2").to_numpy()
    qcol = tbl.column("q")
    qc = qcol.chunk(0) if isinstance(qcol, pa.ChunkedArray) else qcol
    d = len(qc[0])
    # flatten() honours the list array's offsets; .values would read
    # the child buffer from 0 and misalign every vector of a sliced batch
    q = np.asarray(qc.flatten()).reshape(n, d)
    order = np.lexsort((role, bj, bi))
    bi, bj, role, vid, n2 = (
        bi[order], bj[order], role[order], vid[order], n2[order]
    )
    q = q[order]
    change = (np.diff(bi) != 0) | (np.diff(bj) != 0)
    starts = np.concatenate(([0], np.flatnonzero(change) + 1, [n]))
    for r in range(len(starts) - 1):
        s, e = int(starts[r]), int(starts[r + 1])
        k = s + int(np.searchsorted(role[s:e], 1))
        if k == s or k == e:
            continue
        got = _q38_pairs_np(
            q[s:k], q[k:e], vid[s:k], vid[k:e], n2[s:k], n2[k:e],
            bool(bi[s] == bj[s]),
        )
        if got is None:
            continue
        va, vb, dots, n2va, n2vb = got
        yield pa.RecordBatch.from_pydict({
            "vec_a": pa.array(va, pa.int64()),
            "vec_b": pa.array(vb, pa.int64()),
            "dot": pa.array(dots, pa.int64()),
            "n2a": pa.array(n2va, pa.int64()),
            "n2b": pa.array(n2vb, pa.int64()),
        })


@query("q38_embedding_neardup", oracle=_q38_oracle())
def q38_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build(keep):
        emb = load_table(spark, sf_dir, "embeddings")
        q = F.transform(
            F.col("embedding").cast("array<double>"),
            lambda v: F.floor(v * _Q38_CQ).cast("long"),
        )
        base = keep(
            emb.select(
                "vec_id",
                q.alias("q"),
            ).withColumn(
                "n2",
                F.aggregate("q", F.lit(0).cast("long"), lambda a, x: a + x * x),
            )
        )
        n_vec = keep.count(base)
        if GEMM_MAX_PAIRS and n_vec * (n_vec - 1) // 2 > GEMM_MAX_PAIRS:
            # the registry unpersists base on this abort path
            from kinesyslog_spark.queries.resolution import (
                CandidateBudgetExceeded,
            )

            raise CandidateBudgetExceeded(
                f"q38 exact GEMM would compute "
                f"~{n_vec * (n_vec - 1) // 2:,} pair dots over {n_vec:,} "
                f"vectors (budget {GEMM_MAX_PAIRS:,}). An exhaustive exact "
                "cos>=0.4 join is infeasible at corpus scale no matter the "
                "blocking — use the ANN scale paths (q29_lsh_bucket_nn / "
                "q35_ann_ivf_topk / q47_ann_recall) or raise "
                "SPARK_GRAFT_GEMM_MAX_PAIRS."
            )
        return base, n_vec

    base, n_vec = artifact(spark, sf_dir, "q38_quantized", build,
                           knobs=(GEMM_MAX_PAIRS,))
    nb = max(1, -(-n_vec // _Q38_BLOCK))
    blk = F.pmod(F.hash("vec_id"), F.lit(nb)).cast("int")
    tagged = base.withColumn("blk", blk)
    # (bi, bj) grid built distributed (bi <= bj) — the first cut built
    # the O(B^2) pair list on the driver, harmless at any SF this query
    # may legally run at (its docstring forbids corpus scale) but wrong
    # in shape; spark.range keeps the driver O(1).
    bi = spark.range(nb).select(F.col("id").cast("int").alias("bi"))
    bj = spark.range(nb).select(F.col("id").cast("int").alias("bj"))
    pair_list = bi.join(bj, F.col("bi") <= F.col("bj"))
    a_side = tagged.join(
        F.broadcast(pair_list), tagged.blk == pair_list.bi
    ).select("bi", "bj", F.lit(0).alias("role"), "vec_id", "q", "n2")
    b_side = tagged.join(
        F.broadcast(pair_list), tagged.blk == pair_list.bj
    ).select("bi", "bj", F.lit(1).alias("role"), "vec_id", "q", "n2")
    # mapInArrow over the (bi, bj)-partitioned rows instead of
    # groupBy().applyInPandas (guide §4.3): same exchange (explicit hash
    # repartition on the block keys replaces FlatMapGroupsInPandas'
    # required clustering), same math (_q38_pairs_np), but the Arrow
    # boundary hands the kernel flat buffers — measured 28% off the
    # kernel stage at sf0.1 (probe_mapinarrow.py; pandas' object-array
    # q column and per-group frame construction gone).
    n_tasks = max(
        spark.sparkContext.defaultParallelism, nb * (nb + 1) // 2
    )
    pairs = (
        a_side.unionAll(b_side)
        .repartition(n_tasks, "bi", "bj")
        .mapInArrow(_q38_block_pairs_arrow, _Q38_PAIR_SCHEMA)
    )
    sim = F.round(
        F.col("dot").cast("double")
        / (F.sqrt(F.col("n2a").cast("double")) * F.sqrt(F.col("n2b").cast("double"))),
        4,
    )
    return (
        pairs.select("vec_a", "vec_b", sim.alias("sim"))
        .filter(F.col("sim") >= NEARDUP_COS)
        .orderBy("vec_a", "vec_b")
    )


# ---------------------------------------------------------------------------
# Q46 — int8 symmetric quantization + recall@k against exact cosine
# ---------------------------------------------------------------------------
# The vector-store compression step of an embedding pipeline: per-vector
# symmetric int8 quantization (scale = 127 / max|x|), with search quality
# measured as recall@k of the quantized ranking against the exact one.
# The per-vector scales cancel in the quantized cosine —
# qdot / (|q_a| * |q_b|) — so ranking is integer arithmetic plus one
# final division: bit-identical across engines, no libm in the loop.
#
# Scale notes: quantization is map-only (4x memory cut on the corpus);
# the recall evaluation reuses the q21 broadcast-probe shape twice. At
# 100 TB the evaluation runs on a sampled probe set exactly like this,
# while search itself goes through the IVF/LSH paths (q29/q35) over the
# quantized vectors.

QUANT_BITS_MAX = 127


@query(
    "q46_quantize_recall",
    oracle=f"""
    WITH e0 AS (
      SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
    ), q AS (
      SELECT vec_id,
             list_transform(emb, x -> CAST(round(x * ({QUANT_BITS_MAX} /
                 list_max(list_transform(emb, y -> abs(y))))) AS INT)) AS q
      FROM e0
    ), qn AS (
      SELECT vec_id, q,
             sqrt(list_sum(list_transform(q, x -> CAST(x * x AS BIGINT)))) AS qn
      FROM q
    ), qp AS (
      SELECT vec_id AS pid, q, qn FROM qn WHERE vec_id < {N_PROBES}
    ), qpairs AS (
      SELECT p.pid, e.vec_id,
             list_sum(list_transform(range(1, {EMB_DIM + 1}),
                 i -> CAST(p.q[i] * e.q[i] AS BIGINT))) / (p.qn * e.qn) AS qcos
      FROM qp p CROSS JOIN qn e
      WHERE p.pid <> e.vec_id
    ), qtop AS (
      SELECT pid, vec_id FROM (
        SELECT pid, vec_id,
               ROW_NUMBER() OVER (PARTITION BY pid ORDER BY ROUND(qcos, 4) DESC, vec_id) AS rn
        FROM qpairs
      ) WHERE rn <= {TOP_K}
    ), p AS (
      SELECT vec_id AS pid, emb AS pemb FROM e0 WHERE vec_id < {N_PROBES}
    ), epairs AS (
      SELECT p.pid, e.vec_id,
        list_sum(list_transform(range(1, {EMB_DIM + 1}), i -> p.pemb[i] * e.emb[i]))
          / (sqrt(list_sum(list_transform(range(1, {EMB_DIM + 1}), i -> p.pemb[i] * p.pemb[i])))
             * sqrt(list_sum(list_transform(range(1, {EMB_DIM + 1}), i -> e.emb[i] * e.emb[i])))) AS cos
      FROM p CROSS JOIN e0 e
      WHERE p.pid <> e.vec_id
    ), etop AS (
      SELECT pid, vec_id FROM (
        SELECT pid, vec_id,
               ROW_NUMBER() OVER (PARTITION BY pid ORDER BY ROUND(cos, 4) DESC, vec_id) AS rn
        FROM epairs
      ) WHERE rn <= {TOP_K}
    )
    SELECT e.pid, CAST(COUNT(q.vec_id) AS BIGINT) AS n_hit,
           ROUND(COUNT(q.vec_id) / CAST({TOP_K} AS DOUBLE), 4) AS recall
    FROM etop e LEFT JOIN qtop q ON e.pid = q.pid AND e.vec_id = q.vec_id
    GROUP BY e.pid
    ORDER BY e.pid
    """,
)
def q46_quantize_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    # Map-only int8 quantization; persisted because probes + corpus side +
    # both rankings read it.
    scale = F.lit(float(QUANT_BITS_MAX)) / F.array_max(
        F.transform("emb", lambda x: F.abs(x))
    )
    qn = F.sqrt(
        F.aggregate(
            F.transform("q", lambda x: (x * x).cast("long")),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ).cast("double")
    )
    q = artifact(
        spark, sf_dir, "q46_quantized",
        lambda keep: emb.select(
            "vec_id",
            "emb",
            F.transform("emb", lambda x: F.round(x * scale, 0).cast("int")).alias("q"),
        ).select("vec_id", "emb", "q", qn.alias("qn")),
    )

    def topk(df: DataFrame, score, alias: str) -> DataFrame:
        w = W.partitionBy("pid").orderBy(F.desc(alias), F.asc("vec_id"))
        return (
            df.select("pid", "vec_id", F.round(score, 4).alias(alias))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= TOP_K)
            .select("pid", "vec_id")
        )

    # Quantized ranking: integer dot / (int-norm product).
    qprobes = q.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("pid"), F.col("q").alias("pq"), F.col("qn").alias("pqn")
    )
    qdot = F.aggregate(
        F.zip_with("pq", "q", lambda x, y: (x * y).cast("long")),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    qpairs = (
        q.crossJoin(F.broadcast(qprobes))
        .filter(F.col("pid") != F.col("vec_id"))
    )
    qtop = topk(qpairs, qdot.cast("double") / (F.col("pqn") * F.col("qn")), "qcos")

    # Exact ranking (q21 shape).
    sq = lambda c: F.aggregate(  # noqa: E731
        F.transform(c, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
    )
    eprobes = q.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("pid"),
        F.col("emb").alias("pemb"),
        F.sqrt(sq(F.col("emb"))).alias("pnorm"),
    )
    edot = F.aggregate(
        F.zip_with("pemb", "emb", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    epairs = (
        q.select("vec_id", "emb", F.sqrt(sq(F.col("emb"))).alias("enorm"))
        .crossJoin(F.broadcast(eprobes))
        .filter(F.col("pid") != F.col("vec_id"))
    )
    etop = topk(epairs, edot / (F.col("pnorm") * F.col("enorm")), "cos")

    hit = qtop.select("pid", "vec_id", F.lit(1).alias("_h"))
    return (
        etop.join(hit, ["pid", "vec_id"], "left")
        .groupBy("pid")
        .agg(F.count("_h").alias("n_hit"))
        .select(
            "pid",
            F.col("n_hit").cast("long").alias("n_hit"),
            F.round(F.col("n_hit").cast("double") / TOP_K, 4).alias("recall"),
        )
        .orderBy("pid")
    )
