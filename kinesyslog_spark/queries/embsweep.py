"""Q179 — Matryoshka truncation sweep: ANN recall of prefix-truncated
embeddings vs the exact full-dimension ranking.

The production question behind Matryoshka representation learning /
dimension-reduced indexes: if the index stores only the first D_T of
the 64 dims (2-8x smaller index, proportionally cheaper GEMM), how much
of the exact top-k survives? One query measures the whole sweep
(D_T in 8/16/32) against the full-dim exact cosine top-5 for the q46
probe set — the same probes/top-k/4-dp-round determinism contract as
q46's quantize-recall, so the two reports compose into one
"index compression menu" (bits vs dims).

Scale notes: the exact arm and each truncated arm are one
broadcast-probe pass over the (persisted) vector corpus — probe count
is fixed, so this is 4 corpus scans, no corpus self-join; rankings use
the plain row_number window that compiles to WindowGroupLimit
(map-side partial top-k).

Reference parity: none (embedding-analytics family); SURVEY §2b
LLM-pipeline extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from kinesyslog_spark.queries import query
from kinesyslog_spark.queries.ann import EMB_DIM, N_PROBES, TOP_K, _emb
from kinesyslog_spark.tables import artifact

TRUNC_DIMS = (8, 16, 32)


def _q179_oracle() -> str:
    def cos_sql(dim: int, p: str = "p.pemb", e: str = "e.emb") -> str:
        return (
            f"list_sum(list_transform(range(1, {dim + 1}), i -> {p}[i] * {e}[i]))"
            f" / (sqrt(list_sum(list_transform(range(1, {dim + 1}),"
            f" i -> {p}[i] * {p}[i])))"
            f" * sqrt(list_sum(list_transform(range(1, {dim + 1}),"
            f" i -> {e}[i] * {e}[i]))))"
        )

    def top_cte(tag: str, dim: int) -> str:
        return f"""pairs_{tag} AS (
      SELECT p.pid, e.vec_id, {cos_sql(dim)} AS cos
      FROM p CROSS JOIN e0 e WHERE p.pid <> e.vec_id
    ), top_{tag} AS (
      SELECT pid, vec_id FROM (
        SELECT pid, vec_id,
               ROW_NUMBER() OVER (PARTITION BY pid
                                  ORDER BY ROUND(cos, 4) DESC, vec_id) AS rn
        FROM pairs_{tag}
      ) WHERE rn <= {TOP_K}
    )"""

    ctes = ",\n    ".join(
        [top_cte("full", EMB_DIM)]
        + [top_cte(f"d{d}", d) for d in TRUNC_DIMS]
    )
    arms = "\n    UNION ALL\n".join(
        f"""SELECT {d} AS trunc_dim, f.pid,
           CAST(COUNT(t.vec_id) AS BIGINT) AS n_hit,
           ROUND(COUNT(t.vec_id) / CAST({TOP_K} AS DOUBLE), 4) AS recall
    FROM top_full f LEFT JOIN top_d{d} t
      ON f.pid = t.pid AND f.vec_id = t.vec_id
    GROUP BY f.pid"""
        for d in TRUNC_DIMS
    )
    return f"""
    WITH e0 AS MATERIALIZED (
      SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
    ), p AS MATERIALIZED (
      SELECT vec_id AS pid, emb AS pemb FROM e0 WHERE vec_id < {N_PROBES}
    ),
    {ctes}
    SELECT * FROM (
    {arms}
    ) ORDER BY trunc_dim, pid
    """


@query("q179_matryoshka_recall", oracle=_q179_oracle())
def q179_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = artifact(spark, sf_dir, "q179_vectors",
                    lambda keep: _emb(spark, sf_dir).select("vec_id", "emb"))
    probes = base.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("pid"), F.col("emb").alias("pemb")
    )

    def topk(dim: int) -> DataFrame:
        pe = F.slice("pemb", 1, dim)
        ee = F.slice("emb", 1, dim)
        dot = F.aggregate(
            F.zip_with(pe, ee, lambda x, y: x * y),
            F.lit(0.0), lambda a, x: a + x,
        )
        sq = lambda c: F.aggregate(  # noqa: E731
            F.transform(c, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
        )
        cos = dot / (F.sqrt(sq(pe)) * F.sqrt(sq(ee)))
        w = W.partitionBy("pid").orderBy(F.desc("cos"), F.asc("vec_id"))
        return (
            base.crossJoin(F.broadcast(probes))
            .filter(F.col("pid") != F.col("vec_id"))
            .select("pid", "vec_id", F.round(cos, 4).alias("cos"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= TOP_K)
            .select("pid", "vec_id")
        )

    full = artifact(spark, sf_dir, "q179_full_topk",
                    lambda keep: topk(EMB_DIM))
    arms = []
    for d in TRUNC_DIMS:
        hit = topk(d).select("pid", "vec_id", F.lit(1).alias("_h"))
        arms.append(
            full.join(hit, ["pid", "vec_id"], "left")
            .groupBy("pid")
            .agg(F.count("_h").cast("long").alias("n_hit"))
            .select(
                F.lit(d).alias("trunc_dim"),
                "pid",
                "n_hit",
                F.round(F.col("n_hit") / float(TOP_K), 4).alias("recall"),
            )
        )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out.orderBy("trunc_dim", "pid")
