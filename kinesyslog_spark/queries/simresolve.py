"""Q182 — SimHash dedup resolution: the production routing for the
text fingerprint family (the q176 pattern applied to q27).

Round 11 rebuilt q27's candidate generation (distinct-fp collapse +
bias-balanced generalized pigeonhole — exact recall at hamming<=4 with
12.8B -> 454M slots at sf10 and a passing run at the third decade), so
the SimHash family graduates from "pairs" to the stage a pipeline
actually consumes: pairs -> connected components -> one survivor per
cluster. The text twin of q176's image routing; q107 stays the
quality-rule survivor resolution for the MinHash family.

Survivor rule: min doc_id per component (the q20 exact-dedup tie rule;
it equals the component's cluster_id by construction). Diagnostics per
cluster: n_pairs, max_hamming, and n_exact_pairs (hamming-0 edges —
how much of the cluster is exact-fingerprint boilerplate vs true
near-dup; the q27 rewrite routes those through the distinct-fp group,
never the blocking quadratic, so a boilerplate-heavy corpus shows up
here without having cost quadratic slots).

Scale: one CC loop over the PAIR graph (orders of magnitude below the
corpus) + broadcast-sized per-cluster aggregates. The pair stage
inherits q27's slot posture including the LSH_MAX_SLOTS fail-fast; the
pair graph is session-memoized (hot_simhash_pairs, released by
tables.release_hot) and shared with any later composition.

Reference parity: none (the reference relay has no corpus surface);
SURVEY §2b LLM-pipeline extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesyslog_spark.queries import ORACLE, query
from kinesyslog_spark.queries.cluster import connected_components
from kinesyslog_spark.queries.dedup import q27_simhash_pairs
from kinesyslog_spark.tables import artifact


def _q182_oracle() -> str:
    return f"""
    WITH RECURSIVE pairs AS ({ORACLE["q27_simhash_pairs"]}),
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
      SELECT node AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY node
    ),
    cl AS (
      SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members
      FROM comp GROUP BY cluster_id
    ),
    ps AS (
      SELECT c.cluster_id,
             CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(MAX(p.hamming) AS BIGINT) AS max_hamming,
             CAST(SUM(CASE WHEN p.hamming = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_exact_pairs
      FROM pairs p JOIN comp c ON c.doc_id = p.doc_a
      GROUP BY c.cluster_id
    )
    SELECT cl.cluster_id,
           cl.cluster_id AS survivor_doc,
           cl.n_members,
           cl.n_members - 1 AS n_removed,
           ps.n_pairs,
           ps.max_hamming,
           ps.n_exact_pairs
    FROM cl JOIN ps USING (cluster_id)
    ORDER BY cluster_id
    """


def hot_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session artifact: the persisted q27 pair graph — the
    SimHash-family artifact (the hot_image_pairs pattern). Keyed on the
    budget knobs q27's guard reads. Released by tables.release_hot."""
    from kinesyslog_spark.queries.dedup import LSH_MAX_BUCKET, LSH_MAX_SLOTS

    return artifact(
        spark, sf_dir, "simhash_pairs",
        lambda keep: q27_simhash_pairs(spark, sf_dir),
        knobs=(LSH_MAX_BUCKET, LSH_MAX_SLOTS),
    )


def hot_simhash_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session artifact: CC labels over the SimHash pair graph:
    (node, component). One pointer-jumping run feeds q182's closure
    rollup AND q183/q185's refinement stage (which used to re-run the
    loop per query — a full CC pass saved per sweep, and fewer
    checkpoint blocks alive in a default-heap session). Released by
    tables.release_hot."""
    from kinesyslog_spark.queries.dedup import LSH_MAX_BUCKET, LSH_MAX_SLOTS

    def build(keep):
        pairs = hot_simhash_pairs(spark, sf_dir)
        return connected_components(
            pairs.select(F.col("doc_a").alias("src"),
                         F.col("doc_b").alias("dst")),
            keep,
        )

    return artifact(spark, sf_dir, "simhash_components", build,
                    knobs=(LSH_MAX_BUCKET, LSH_MAX_SLOTS))


@query("q182_simhash_dedup_survivors", oracle=_q182_oracle())
def q182_simhash_dedup_survivors(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    pairs = hot_simhash_pairs(spark, sf_dir)
    comp = hot_simhash_components(spark, sf_dir).select(
        "node", F.col("component").alias("cluster_id")
    )
    cl = comp.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )
    # no broadcast hint: comp has one row per node of the pair graph,
    # which on a boilerplate-heavy corpus is corpus-scale (most docs sit
    # in some near-dup cluster) — a forced broadcast can blow the 8 GB
    # driver/executor broadcast limit at sf10+. AQE broadcasts it at
    # runtime when it IS small.
    ps = (
        pairs.join(comp.withColumnRenamed("node", "doc_a"), "doc_a")
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.max("hamming").cast("long").alias("max_hamming"),
            F.sum((F.col("hamming") == 0).cast("int"))
            .cast("long").alias("n_exact_pairs"),
        )
    )
    return (
        cl.join(ps, "cluster_id")
        .select(
            "cluster_id",
            F.col("cluster_id").alias("survivor_doc"),
            "n_members",
            (F.col("n_members") - 1).cast("long").alias("n_removed"),
            "n_pairs",
            "max_hamming",
            "n_exact_pairs",
        )
        .orderBy("cluster_id")
    )
