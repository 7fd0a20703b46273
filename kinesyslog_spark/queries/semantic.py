"""Round-3 semantic clustering family — q77 (k-means), q78 (semantic
near-dup via cluster-bucketed cosine).

q77 — Lloyd's k-means over the embedding corpus: K fixed seeds (the K
smallest vec_ids), KMEANS_ITERS assignment/update rounds, squared-L2
distances. Per-cluster output: size, representative (min vec_id), mean
squared distance to the centroid.

q78 — semantic near-duplicate pairs: the final q77 assignment buckets
the corpus; only same-cluster pairs are verified with exact cosine —
the "semantic dedup" stage of an LLM data pipeline (cluster first,
verify inside clusters; SemDeDup-style, Abbas et al. 2023) re-expressed
with the exact verify the oracle can replay.

Cross-engine float determinism (no decimals needed — everything is
integer-valued doubles):
- distances: SUM over dims of FLOOR((x-c)^2 * 1e10 + 0.5). Each term is
  an integer-valued double (embeddings are O(1)), the per-vector sum is
  < 2^53, so accumulation is EXACT in any order on both engines.
- centroid update: c = FLOOR(SUM(FLOOR(x*1e9 + 0.5)) / n + 0.5) / 1e9 —
  the inner sum is again exact integer accumulation; the divide/floor
  runs on identical operands, so both engines produce bit-identical
  centroids each iteration.
- per-cluster mean distance is averaged over per-vector d2 quantized to
  4dp FIRST (keeps the cross-cluster sum under 2^53 at any corpus size).
Assignment tie-break: (d2, cid) lexicographic min. Clusters that lose
all members drop out (plain Lloyd semantics); inner joins on both
engines make that identical.

Scale notes (100 TB posture): this is exactly MLlib's distributed
k-means shape — centroids live on the driver (K*DIM doubles), each
iteration is ONE map-only pass computing assignments against broadcast
centroid literals plus ONE shuffle of (cid, dim) partial sums (map-side
combine, K*DIM groups). No join touches the corpus. q78's verify join
shuffles on cid with both sides repartitioned; K is the knob that
bounds per-cluster pair volume (pick K ~ n/expected_cluster_size, the
IVF rule). The driver round-trip per iteration collects K*DIM values —
the same O(K*D) the reference-free MLlib implementation pays.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesyslog_spark.queries import query
from kinesyslog_spark.tables import artifact, hot_vectors

KMEANS_K = 8
KMEANS_ITERS = 3
SEMDUP_COS = 0.4  # same sim scale as q38 (corpus cosines are small)

# scaled-integer quantization (see module header)
_D2_SCALE = 1e10
_C_SCALE = 1e9


# ---------------------------------------------------------------------------
# shared Spark-side k-means
# ---------------------------------------------------------------------------

def _assign_expr(centroids: list[tuple[int, list[float]]]) -> Column:
    """struct(d2, cid) of the nearest centroid, from literal arrays —
    map-only, no join. d2 is the exact scaled-integer sum."""
    cands = []
    for cid, cent in centroids:
        arr = F.array(*[F.lit(float(c)) for c in cent])
        terms = F.zip_with(
            "emb",
            arr,
            lambda x, c: F.floor((x - c) * (x - c) * F.lit(_D2_SCALE) + F.lit(0.5)),
        )
        d2 = F.aggregate(terms, F.lit(0.0), lambda a, x: a + x)
        cands.append(F.struct(d2.alias("d2"), F.lit(cid).alias("cid")))
    return F.array_min(F.array(*cands))


def kmeans_assignments(
    spark: SparkSession, sf_dir: str, k: int = KMEANS_K, iters: int = KMEANS_ITERS,
    base: DataFrame | None = None, tag: str = "",
) -> DataFrame:
    """Final (vec_id, cid, d2) assignment after `iters` Lloyd rounds —
    a session artifact (persisted) so q77/q78 share one clustering run.

    `base` overrides the input (vec_id, emb) frame (q105 clusters
    SUBVECTORS with the same machinery); `tag` disambiguates the
    artifact key for such callers. The final centroids are retrievable
    via kmeans_centroids() — PQ's ADC tables need them."""
    return _kmeans(spark, sf_dir, k, iters, base, tag)[0]


def kmeans_centroids(
    spark: SparkSession, sf_dir: str, k: int = KMEANS_K, iters: int = KMEANS_ITERS,
    base: DataFrame | None = None, tag: str = "",
) -> list[tuple[int, list[float]]]:
    """The centroids the final kmeans_assignments() round assigned
    against (i.e. after iters-1 updates). Runs the clustering if the
    artifact is cold."""
    return _kmeans(spark, sf_dir, k, iters, base, tag)[1]


def _kmeans(spark, sf_dir, k, iters, base, tag):
    """Session artifact (assignments, centroids) of one clustering run."""
    return artifact(
        spark, sf_dir, "kmeans",
        lambda keep: _lloyd(spark, sf_dir, k, iters, base),
        knobs=(k, iters, tag),
    )


def _lloyd(spark, sf_dir, k, iters, base):
    if base is None:
        base = hot_vectors(spark, sf_dir)  # (vec_id, label, emb double[], nrm)

    # seeds: K smallest vec_ids, quantized like every later centroid
    qc = F.transform(
        "emb", lambda x: F.floor(x * F.lit(_C_SCALE) + F.lit(0.5)) / F.lit(_C_SCALE)
    )
    seed_rows = (
        base.orderBy("vec_id").limit(k).select(qc.alias("c")).collect()
    )
    centroids = [(i, list(r.c)) for i, r in enumerate(seed_rows)]

    assigned = None
    for it in range(iters):
        best = _assign_expr(centroids)
        assigned = base.select(
            "vec_id", "emb", best.d2.alias("d2"), best.cid.alias("cid")
        )
        if it == iters - 1:
            break
        # centroid update: one shuffle of (cid, dim) scaled partial sums
        upd = (
            assigned.select(
                "cid", F.posexplode("emb").alias("d0", "x")
            )
            .groupBy("cid", "d0")
            .agg(
                F.sum(F.floor(F.col("x") * F.lit(_C_SCALE) + F.lit(0.5))).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .select(
                "cid",
                (F.col("d0") + 1).alias("d"),
                (
                    F.floor(F.col("s") / F.col("n") + F.lit(0.5)) / F.lit(_C_SCALE)
                ).alias("c"),
            )
            .collect()
        )
        dim = len(centroids[0][1])
        cents: dict[int, list[float]] = {}
        for row in upd:
            cents.setdefault(int(row.cid), [0.0] * dim)[int(row.d) - 1] = float(row.c)
        centroids = [(cid, cents[cid]) for cid in sorted(cents)]

    return assigned.select("vec_id", "cid", "d2"), centroids


# ---------------------------------------------------------------------------
# shared oracle CTE builder (long-format unrolled Lloyd rounds)
# ---------------------------------------------------------------------------

def _kmeans_ctes(k: int = KMEANS_K, iters: int = KMEANS_ITERS) -> str:
    """WITH-clause body computing a{iters} = (vec_id, cid, d2)."""
    parts = [
        """
    v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    dims AS (
      SELECT vec_id, generate_subscripts(emb, 1) AS d, unnest(emb) AS x FROM v
    ),
    seeds AS (
      SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid
      FROM (SELECT vec_id FROM v ORDER BY vec_id LIMIT {k})
    ),
    c0 AS (
      SELECT s.cid, dims.d, FLOOR(dims.x * {cs} + 0.5) / {cs} AS c
      FROM dims JOIN seeds s USING (vec_id)
    )""".format(k=k, cs=_C_SCALE)
    ]
    for i in range(1, iters + 1):
        parts.append(
            """
    a{i} AS (
      SELECT vec_id, cid, d2 FROM (
        SELECT dims.vec_id, c.cid,
               SUM(FLOOR((dims.x - c.c) * (dims.x - c.c) * {ds} + 0.5)) AS d2
        FROM dims JOIN c{p} c ON dims.d = c.d
        GROUP BY dims.vec_id, c.cid
      ) t
      QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) = 1
    )""".format(i=i, p=i - 1, ds=_D2_SCALE)
        )
        if i < iters:
            parts.append(
                """
    c{i} AS (
      SELECT a.cid, dims.d,
             FLOOR(SUM(FLOOR(dims.x * {cs} + 0.5)) / COUNT(*) + 0.5) / {cs} AS c
      FROM dims JOIN a{i} a ON dims.vec_id = a.vec_id
      GROUP BY a.cid, dims.d
    )""".format(i=i, cs=_C_SCALE)
            )
    return ",".join(parts)


# ---------------------------------------------------------------------------
# Q77 — k-means cluster summary
# ---------------------------------------------------------------------------

_Q77_ORACLE = """
    WITH {ctes}
    SELECT cid AS cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(MIN(vec_id) AS BIGINT) AS rep_vec_id,
           FLOOR(SUM(FLOOR(d2 / {dq} + 0.5)) / COUNT(*) + 0.5) / 10000 AS avg_d2
    FROM a{iters}
    GROUP BY cid
    ORDER BY cid
    """.format(ctes=_kmeans_ctes(), iters=KMEANS_ITERS, dq=_D2_SCALE / 1e4)


@query("q77_kmeans_clusters", oracle=_Q77_ORACLE)
def q77_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = kmeans_assignments(spark, sf_dir)
    # per-vector d2 quantized to 4dp BEFORE the cross-cluster sum (exact
    # integer accumulation at any corpus size; see module header)
    d2_q = F.floor(F.col("d2") / F.lit(_D2_SCALE / 1e4) + F.lit(0.5))
    return (
        a.groupBy(F.col("cid").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("vec_id").alias("rep_vec_id"),
            (
                F.floor(F.sum(d2_q) / F.count(F.lit(1)) + F.lit(0.5)) / 10000
            ).alias("avg_d2"),
        )
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------------------
# Q78 — semantic near-duplicate pairs (cluster-bucketed exact cosine)
# ---------------------------------------------------------------------------

_Q78_ORACLE = """
    WITH {ctes},
    e2 AS (
      SELECT vec_id,
             list_transform(emb, x -> CAST(FLOOR(x * {cq}) AS BIGINT)) AS q
      FROM v
    ),
    b AS (
      SELECT vec_id, q,
             CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS n2
      FROM e2
    ),
    pairs AS (
      SELECT x.vec_id AS vec_a, y.vec_id AS vec_b, x.cid AS cluster_id
      FROM a{iters} x JOIN a{iters} y
        ON x.cid = y.cid AND x.vec_id < y.vec_id
    )
    SELECT vec_a, vec_b, cluster_id, sim FROM (
      SELECT vec_a, vec_b, cluster_id,
             ROUND(CAST(list_sum(list_transform(range(1, len(pa.q) + 1),
                        i -> pa.q[i] * pb.q[i])) AS BIGINT)
                   / (sqrt(CAST(pa.n2 AS DOUBLE)) * sqrt(CAST(pb.n2 AS DOUBLE))),
                   4) AS sim
      FROM pairs
      JOIN b pa ON pa.vec_id = pairs.vec_a
      JOIN b pb ON pb.vec_id = pairs.vec_b
    ) WHERE sim >= {cos}
    ORDER BY vec_a, vec_b
    """.format(ctes=_kmeans_ctes(), iters=KMEANS_ITERS, cq=1_000_000,
               cos=SEMDUP_COS)


def _q78_block_pairs(pdf):
    """One (cluster, block_a, block_b) task: float64 GEMM pre-filter
    with margin + exact int64 verify — the q38 block kernel carrying
    the cluster id. Peak memory is two ~_Q38_BLOCK-row blocks, never a
    whole cluster (an untiled per-cluster GEMM grows (N/K)^2 with the
    corpus). Division + rounding stay engine-side on identical integer
    operands."""
    import numpy as np
    import pandas as pd

    from kinesyslog_spark.queries.ann import _Q38_MARGIN

    empty = pd.DataFrame({
        "vec_a": pd.Series(dtype="int64"),
        "vec_b": pd.Series(dtype="int64"),
        "cluster_id": pd.Series(dtype="int32"),
        "dot": pd.Series(dtype="int64"),
        "n2a": pd.Series(dtype="int64"),
        "n2b": pd.Series(dtype="int64"),
    })
    a = pdf[pdf["role"] == "a"]
    b = pdf[pdf["role"] == "b"]
    if a.empty or b.empty:
        return empty
    qa = np.stack(a["q"].to_numpy()).astype(np.int64)
    qb = np.stack(b["q"].to_numpy()).astype(np.int64)
    ida = a["vec_id"].to_numpy()
    idb = b["vec_id"].to_numpy()
    n2a = a["n2"].to_numpy()
    n2b = b["n2"].to_numpy()
    sims = (qa.astype(np.float64) @ qb.astype(np.float64).T) / np.outer(
        np.sqrt(n2a.astype(np.float64)), np.sqrt(n2b.astype(np.float64))
    )
    mask = sims >= SEMDUP_COS - _Q38_MARGIN
    if int(pdf["bi"].iat[0]) == int(pdf["bj"].iat[0]):
        # same-block task: both roles hold the same vectors — keep the
        # upper triangle only
        mask &= ida[:, None] < idb[None, :]
    ii, jj = np.nonzero(mask)
    if not len(ii):
        return empty
    dots = np.einsum("ij,ij->i", qa[ii], qb[jj])
    # canonicalize: blocks are hash-assigned, so a cross-block pair can
    # arrive with either id on either side
    la, lb = ida[ii], idb[jj]
    swap = la > lb
    va = np.where(swap, lb, la)
    vb = np.where(swap, la, lb)
    n2va = np.where(swap, n2b[jj], n2a[ii])
    n2vb = np.where(swap, n2a[ii], n2b[jj])
    cid = int(pdf["cid"].iat[0])
    return pd.DataFrame({
        "vec_a": va, "vec_b": vb,
        "cluster_id": np.full(len(ii), cid, dtype=np.int32),
        "dot": dots, "n2a": n2va, "n2b": n2vb,
    })


@query("q78_semantic_neardup", oracle=_Q78_ORACLE)
def q78_semantic_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SemDeDup verify as a per-(cluster, block-pair) GEMM kernel (q38's
    # machinery, bucket = cluster). The first cut enumerated
    # same-cluster pairs in a codegen self-join and ran the 64-dim dot
    # as an INTERPRETED higher-order aggregate per pair — with K=8
    # clusters that is ~N^2/16 interpreted dots, a 13x decade blowup at
    # sf1 (17.4 s). The second cut ran ONE GEMM per whole cluster,
    # whose m x m float64 similarity matrix grows (N/K)^2 bytes with
    # the corpus inside a single task; blocks are hash-assigned within
    # each cluster (count sized off the LARGEST cluster), so a task now
    # holds two ~_Q38_BLOCK-row blocks regardless of corpus size. Sims
    # are the q38 quantized-integer kind, mirrored in the oracle.
    from kinesyslog_spark.queries.ann import _Q38_BLOCK

    a = kmeans_assignments(spark, sf_dir).select("vec_id", "cid")
    base = hot_vectors(spark, sf_dir).select("vec_id", "emb")
    q = F.transform(
        "emb", lambda x: F.floor(x * F.lit(1_000_000)).cast("long")
    )
    qf = base.select("vec_id", q.alias("q")).withColumn(
        "n2",
        F.aggregate("q", F.lit(0).cast("long"), lambda acc, x: acc + x * x),
    )
    # K rows from the persisted assignment — a driver-size aggregate
    max_m = max(
        (r["m"] for r in a.groupBy("cid").agg(F.count(F.lit(1)).alias("m")).collect()),
        default=1,
    )
    nb = max(1, -(-max_m // _Q38_BLOCK))
    tagged = qf.join(a, "vec_id").withColumn(
        "blk", F.pmod(F.hash("vec_id"), F.lit(nb)).cast("int")
    )
    # (bi, bj) grid built distributed (bi <= bj) — no O(nb^2) driver list
    bi = spark.range(nb).select(F.col("id").cast("int").alias("bi"))
    bj = spark.range(nb).select(F.col("id").cast("int").alias("bj"))
    pair_list = bi.join(bj, F.col("bi") <= F.col("bj"))
    a_side = tagged.join(
        F.broadcast(pair_list), tagged.blk == pair_list.bi
    ).select("cid", "bi", "bj", F.lit("a").alias("role"), "vec_id", "q", "n2")
    b_side = tagged.join(
        F.broadcast(pair_list), tagged.blk == pair_list.bj
    ).select("cid", "bi", "bj", F.lit("b").alias("role"), "vec_id", "q", "n2")
    pairs = (
        a_side.unionAll(b_side)
        .groupBy("cid", "bi", "bj")
        .applyInPandas(
            _q78_block_pairs,
            "vec_a long, vec_b long, cluster_id int, dot long, n2a long, n2b long",
        )
    )
    sim = F.round(
        F.col("dot").cast("double")
        / (F.sqrt(F.col("n2a").cast("double"))
           * F.sqrt(F.col("n2b").cast("double"))),
        4,
    )
    return (
        pairs.select("vec_a", "vec_b", "cluster_id", sim.alias("sim"))
        .filter(F.col("sim") >= SEMDUP_COS)
        .orderBy("vec_a", "vec_b")
    )
