"""Q170 — dataset snapshot diff over the versioned (SCD2) dimension.

Dataset versioning's core read: given a slowly-changing dimension
(q81's tier history), reconstruct the table AS OF two transaction
times and classify every key as added / removed / changed / unchanged
between them — the operation a lakehouse time-travel diff (`DESCRIBE
HISTORY` + snapshot compare) or a training-data freeze audit performs.
Snapshot times are picked deterministically at 40% / 80% of the
history's transaction-time span, so the diff always spans real
tier-change activity.

Plan shape: two filter-projections of the SAME persisted history (an
as-of snapshot is a predicate, not a join), one full-outer equi-join on
the key, one 4-group aggregate. At 100 TB the history is already
key-partitioned (q81 builds it with per-user windows), so the
full-outer join co-partitions both snapshots in one shuffle each.

Reference parity: none (warehouse/versioning family; composes q81's
SCD2 build the way q112's point-in-time lookup does).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesyslog_spark.operators.localframe import local_frame
from kinesyslog_spark.queries import query


def _q170_oracle() -> str:
    from kinesyslog_spark.queries import ORACLE

    return f"""
    WITH hist AS MATERIALIZED (
      SELECT * FROM ({ORACLE["q81_scd2_history"]})
    ),
    rng AS (
      SELECT MIN(valid_from_ms) AS a, MAX(valid_from_ms) AS b FROM hist
    ),
    ts AS (
      SELECT CAST(a + FLOOR((b - a) * 0.4) AS BIGINT) AS t1,
             CAST(a + FLOOR((b - a) * 0.8) AS BIGINT) AS t2
      FROM rng
    ),
    s1 AS MATERIALIZED (
      SELECT h.user_id, h.tier FROM hist h CROSS JOIN ts
      WHERE h.valid_from_ms <= ts.t1
        AND (h.valid_to_ms IS NULL OR ts.t1 < h.valid_to_ms)
    ),
    s2 AS MATERIALIZED (
      SELECT h.user_id, h.tier FROM hist h CROSS JOIN ts
      WHERE h.valid_from_ms <= ts.t2
        AND (h.valid_to_ms IS NULL OR ts.t2 < h.valid_to_ms)
    ),
    d AS (
      SELECT CASE
               WHEN s1.user_id IS NULL THEN 'added'
               WHEN s2.user_id IS NULL THEN 'removed'
               WHEN s1.tier <> s2.tier THEN 'changed'
               ELSE 'unchanged'
             END AS diff_class,
             COALESCE(s1.user_id, s2.user_id) AS user_id
      FROM s1 FULL OUTER JOIN s2 ON s1.user_id = s2.user_id
    ),
    shape(diff_class) AS (
      VALUES ('added'), ('changed'), ('removed'), ('unchanged')
    )
    SELECT sh.diff_class,
           CAST(COUNT(d.user_id) AS BIGINT) AS n_users,
           CAST(COALESCE(MIN(d.user_id), -1) AS BIGINT) AS min_user,
           CAST(COALESCE(MAX(d.user_id), -1) AS BIGINT) AS max_user
    FROM shape sh LEFT JOIN d ON d.diff_class = sh.diff_class
    GROUP BY sh.diff_class
    ORDER BY sh.diff_class
    """


@query("q170_snapshot_diff", oracle=_q170_oracle())
def q170_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesyslog_spark.queries.pipeline_ops import q81_scd2_history

    # A session artifact holding a local checkpoint, not a persisted
    # frame: both snapshots read the history twice, but persist()
    # registers the q81 plan in the CacheManager and Spark would then
    # substitute the InMemoryRelation into every LATER q81 call in the
    # session (plan-matching cache lookup) — changing q81's own
    # executed plan from under its plan-guard test. localCheckpoint
    # materializes + truncates lineage without entering the cache
    # registry.
    from kinesyslog_spark.tables import artifact

    hist = artifact(
        spark, sf_dir, "q170_history",
        lambda keep: keep.checkpoint(q81_scd2_history(spark, sf_dir)),
    )
    rng = hist.agg(
        F.min("valid_from_ms").alias("a"), F.max("valid_from_ms").alias("b")
    ).collect()[0]
    a, b = int(rng["a"]), int(rng["b"])
    t1 = a + int((b - a) * 0.4)
    t2 = a + int((b - a) * 0.8)

    def snap(t: int) -> DataFrame:
        return hist.filter(
            (F.col("valid_from_ms") <= t)
            & (F.col("valid_to_ms").isNull() | (F.lit(t) < F.col("valid_to_ms")))
        ).select("user_id", "tier")

    s1 = snap(t1).select(
        F.col("user_id").alias("u1"), F.col("tier").alias("tier1")
    )
    s2 = snap(t2).select(
        F.col("user_id").alias("u2"), F.col("tier").alias("tier2")
    )
    d = s1.join(s2, s1["u1"] == s2["u2"], "full_outer").select(
        F.when(F.col("u1").isNull(), F.lit("added"))
        .when(F.col("u2").isNull(), F.lit("removed"))
        .when(F.col("tier1") != F.col("tier2"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("diff_class"),
        F.coalesce("u1", "u2").alias("user_id"),
    )
    shape = local_frame(
        spark,
        [("added",), ("changed",), ("removed",), ("unchanged",)],
        "diff_class string",
    )
    agg = d.groupBy("diff_class").agg(
        F.count("user_id").alias("n_users"),
        F.min("user_id").alias("mn"),
        F.max("user_id").alias("mx"),
    )
    return (
        shape.join(F.broadcast(agg), "diff_class", "left")
        .select(
            "diff_class",
            F.coalesce("n_users", F.lit(0)).cast("long").alias("n_users"),
            F.coalesce("mn", F.lit(-1)).cast("long").alias("min_user"),
            F.coalesce("mx", F.lit(-1)).cast("long").alias("max_user"),
        )
        .orderBy("diff_class")
    )
