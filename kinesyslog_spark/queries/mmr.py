"""Q147 — MMR (maximal marginal relevance) diversified top-k retrieval.

The retrieval op between ANN (q35/q143) and hybrid fusion (q89): after
a similarity search returns N candidates, pick the K results that are
relevant AND mutually diverse — Carbonell & Goldstein's greedy

    next = argmax_i [ lam * rel(i) - (1 - lam) * max_{s in S} sim(i, s) ]

used everywhere training corpora or RAG contexts are assembled (dedupe
the retrieved set before packing it).

Spark shape (scale lens): the candidate set is distributed (at 100 TB
it is an ANN result of arbitrary size, not a driver list). Each greedy
round is ONE distributed argmax — candidates score themselves against
the K-so-far selected embeddings carried as broadcast literals (O(K*D)
driver traffic total, the k-means/q77 posture), and the argmax is a
1-row TakeOrderedAndProject, never a global sort. K rounds = K cheap
map-only jobs over the candidate frame; the probe relevance scores are
computed once and reused (persisted candidate frame).

Determinism contract: relevance and pairwise similarities are
ROUND(cos, 4) BEFORE use, MMR scores ROUND(x, 6), ties broken by
vec_id — both engines then compare identical doubles. The oracle
unrolls the K greedy steps as materialized CTEs over the same rounded
pair table.

Reference parity: none (retrieval-side extension; SURVEY §2b
training-data-ops family, composes with q21/q35/q89).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesyslog_spark.operators.localframe import local_frame
from kinesyslog_spark.queries import query
from kinesyslog_spark.queries.llm import EMB_DIM
from kinesyslog_spark.tables import hot_vectors, scratch

MMR_PROBE = 0      # query vector id
MMR_N = 40         # candidate pool (top-N by relevance)
MMR_K = 5          # diversified picks
MMR_LAM = 0.7      # relevance/diversity trade-off


def _dot(a: str, b: str):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = hot_vectors(spark, sf_dir)
    probe = emb.filter(F.col("vec_id") == MMR_PROBE).select(
        F.col("emb").alias("pemb"), F.col("nrm").alias("pnrm")
    )
    rel = (
        emb.filter(F.col("vec_id") != MMR_PROBE)
        .crossJoin(F.broadcast(probe))
        .select(
            "vec_id", "emb", "nrm",
            F.round(
                _dot("pemb", "emb") / (F.col("pnrm") * F.col("nrm")), 4
            ).alias("rel"),
        )
        .orderBy(F.desc("rel"), "vec_id")
        .limit(MMR_N)
    )
    return rel


def _oracle() -> str:
    dim = EMB_DIM + 1
    dot = (
        "list_sum(list_transform(range(1, {d}), i -> {a}[i] * {b}[i]))"
    )
    steps = []
    sel_union = "SELECT vec_id FROM s1"
    for k in range(2, MMR_K + 1):
        steps.append(f"""
s{k} AS MATERIALIZED (
  SELECT c.vec_id,
         ROUND({MMR_LAM} * c.rel - {1 - MMR_LAM} * (
           SELECT MAX(p.ps) FROM pair p
           WHERE p.va = c.vec_id AND p.vb IN ({sel_union})
         ), 6) AS score
  FROM cand c
  WHERE c.vec_id NOT IN ({sel_union})
  ORDER BY score DESC, c.vec_id LIMIT 1
)""")
        sel_union += f" UNION ALL SELECT vec_id FROM s{k}"
    picks = "SELECT 1 AS rank, vec_id, score FROM s1" + "".join(
        f" UNION ALL SELECT {k}, vec_id, score FROM s{k}"
        for k in range(2, MMR_K + 1)
    )
    return f"""
WITH e AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
), p0 AS (SELECT emb AS pemb FROM e WHERE vec_id = {MMR_PROBE}),
cand AS MATERIALIZED (
  SELECT e.vec_id, e.emb,
         ROUND({dot.format(d=dim, a='p0.pemb', b='e.emb')}
           / (sqrt({dot.format(d=dim, a='p0.pemb', b='p0.pemb')})
              * sqrt({dot.format(d=dim, a='e.emb', b='e.emb')})), 4) AS rel
  FROM e CROSS JOIN p0
  WHERE e.vec_id <> {MMR_PROBE}
  ORDER BY rel DESC, e.vec_id LIMIT {MMR_N}
),
pair AS MATERIALIZED (
  SELECT a.vec_id AS va, b.vec_id AS vb,
         ROUND({dot.format(d=dim, a='a.emb', b='b.emb')}
           / (sqrt({dot.format(d=dim, a='a.emb', b='a.emb')})
              * sqrt({dot.format(d=dim, a='b.emb', b='b.emb')})), 4) AS ps
  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
),
s1 AS MATERIALIZED (
  SELECT vec_id, ROUND({MMR_LAM} * rel, 6) AS score
  FROM cand ORDER BY score DESC, vec_id LIMIT 1
),{','.join(steps)}
SELECT CAST(rank AS BIGINT) AS rank, CAST(vec_id AS BIGINT) AS vec_id,
       score AS mmr_score
FROM ({picks}) ORDER BY rank
"""


@query("q147_mmr_rerank", oracle=_oracle())
def q147_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    with scratch() as keep:
        cands = keep(_candidates(spark, sf_dir))
        selected: list[tuple[int, float]] = []  # (vec_id, score)
        sel_embs: list[list[float]] = []
        for _rank in range(MMR_K):
            pool = cands
            if selected:
                pool = pool.filter(
                    ~F.col("vec_id").isin([v for v, _ in selected])
                )
                sims = [
                    F.round(
                        _dot(
                            "emb",
                            F.array(*[F.lit(float(x)) for x in semb]),
                        )
                        / (F.col("nrm") * F.lit(snrm)),
                        4,
                    )
                    for semb, snrm in sel_embs
                ]
                maxsim = sims[0] if len(sims) == 1 else F.greatest(*sims)
                score = F.round(
                    F.lit(MMR_LAM) * F.col("rel")
                    - F.lit(1 - MMR_LAM) * maxsim,
                    6,
                )
            else:
                score = F.round(F.lit(MMR_LAM) * F.col("rel"), 6)
            # distributed argmax: TakeOrderedAndProject over the pool
            top = (
                pool.select("vec_id", "emb", "nrm", score.alias("score"))
                .orderBy(F.desc("score"), "vec_id")
                .limit(1)
                .collect()[0]
            )
            selected.append((int(top["vec_id"]), float(top["score"])))
            sel_embs.append(
                ([float(x) for x in top["emb"]], float(top["nrm"]))
            )
        rows = [
            (i + 1, vid, sc) for i, (vid, sc) in enumerate(selected)
        ]
        return local_frame(
            spark,
            rows, "rank long, vec_id long, mmr_score double"
        ).orderBy("rank")
