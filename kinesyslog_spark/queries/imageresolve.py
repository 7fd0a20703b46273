"""Q176 — image dedup resolution through the rank-centered projection
hash (q175): the PRODUCTION image stage of the dedup pipeline.

Round 9/10 measurements made q175 the production image near-dup family:
~10x fewer blocking slots than the DCT pHash at both probed decades
(sf1: 4.23M vs q124's 41.5M; sf10: 423M vs 4.21B — ~3x the theoretical
uncorrelated floor where the DCT family sits at 33x and climbing) with
strictly better accuracy at sf0.1 (truth recall 256/256 vs 251/256 at
precision 0.98 vs 0.64). q124 stays registered as the DCT yardstick;
every composition that needs image near-dup routes through q175 — this
query is that routing, the image twin of q107's text survivor
resolution (pairs -> connected components -> one survivor per cluster).

Survivor rule: min img_id per component (the q20 exact-dedup tie rule —
images carry no quality score, so the deterministic id rule is the
honest pick, and it equals the component's cluster_id by construction).
Per-cluster pair diagnostics (n_pairs, max_hamming) ride along: they
measure how tight each near-dup cluster is, which is the number a
pipeline operator actually looks at before trusting a drop-set.

Scale: one CC loop over the PAIR graph (orders of magnitude below the
corpus — q175's pair set, not its slot count) + one broadcast-sized
aggregate per cluster. The pair stage inherits q175's slot posture and
q124's shared multi-index tail, including PHASH_MAX_SLOTS fail-fast.

Reference parity: none (the reference relay has no media surface);
SURVEY §2b LLM-pipeline extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesyslog_spark.queries import ORACLE, query
from kinesyslog_spark.queries.cluster import connected_components
from kinesyslog_spark.queries.imagehash import q175_image_projhash_neardup
from kinesyslog_spark.tables import artifact


def _q176_oracle() -> str:
    return f"""
    WITH RECURSIVE pairs AS ({ORACLE["q175_image_projhash_neardup"]}),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach AS (
      SELECT src AS node, src AS label FROM edges
      UNION
      SELECT e.src AS node, r.label
      FROM reach r JOIN edges e ON e.dst = r.node
    ),
    comp AS (
      SELECT node AS img_id, MIN(label) AS cluster_id FROM reach GROUP BY node
    ),
    cl AS (
      SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members
      FROM comp GROUP BY cluster_id
    ),
    ps AS (
      SELECT c.cluster_id,
             CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(MAX(p.hamming) AS BIGINT) AS max_hamming
      FROM pairs p JOIN comp c ON c.img_id = p.doc_a
      GROUP BY c.cluster_id
    )
    SELECT cl.cluster_id,
           cl.cluster_id AS survivor_img,
           cl.n_members,
           cl.n_members - 1 AS n_removed,
           ps.n_pairs,
           ps.max_hamming
    FROM cl JOIN ps USING (cluster_id)
    ORDER BY cluster_id
    """


def hot_image_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session artifact: CC labels over the image pair graph:
    (node, component) — one pointer-jumping run shared by q176 and
    q184 (the hot_simhash_components pattern). Released by
    tables.release_hot."""

    def build(keep):
        pairs = hot_image_pairs(spark, sf_dir)
        return connected_components(
            pairs.select(F.col("doc_a").alias("src"),
                         F.col("doc_b").alias("dst")),
            keep,
        )

    return artifact(spark, sf_dir, "image_components", build)


def hot_image_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session artifact: the persisted q175 pair graph — the image-dedup
    family artifact (the hot_shingle_sigs pattern: edges are read in
    both union directions by the CC loop and again by the per-cluster
    diagnostics, and a dedup service keeps exactly this materialized).
    Released by tables.release_hot."""
    return artifact(
        spark, sf_dir, "image_pairs",
        lambda keep: q175_image_projhash_neardup(spark, sf_dir),
    )


@query("q176_image_dedup_survivors", oracle=_q176_oracle())
def q176_image_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = hot_image_pairs(spark, sf_dir)
    comp = hot_image_components(spark, sf_dir).select(
        F.col("node").alias("img_id"), F.col("component").alias("cluster_id")
    )
    cl = comp.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )
    # no broadcast hint: comp is one row per pair-graph node, which can
    # be corpus-scale on a near-dup-heavy corpus — let AQE broadcast it
    # at runtime when it is actually small (simresolve has the same
    # rationale)
    ps = (
        pairs.join(comp.withColumnRenamed("img_id", "doc_a"), "doc_a")
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.max("hamming").cast("long").alias("max_hamming"),
        )
    )
    out = (
        cl.join(ps, "cluster_id")
        .select(
            "cluster_id",
            F.col("cluster_id").alias("survivor_img"),
            "n_members",
            (F.col("n_members") - 1).cast("long").alias("n_removed"),
            "n_pairs",
            "max_hamming",
        )
        .orderBy("cluster_id")
    )
    return out
