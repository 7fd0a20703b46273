"""Q167 — audience-overlap estimation: HLL inclusion-exclusion over
event-type user sets, with the exact arm measuring the sketch error.

The set-OPERATION face of the HLL family (q134 single-set, q146
grouped + shard-merge): sketches support union natively (register
MAX-merge — the semilattice W22 streams on), so the intersection of
two audiences is estimated as

    |A ∩ B|  ~  est(A) + est(B) - est(A ∪ B)

— the standard inclusion-exclusion estimator every audience/reach
system (and training-data source-overlap analysis) runs, because exact
intersections of 10^9-user sets need a shuffle of both sides while the
sketch form needs 64 registers per set. The exact arm (a count-distinct
over users present in both types) makes the estimator's error a
MEASURED column, the q134/q159 sketch-vs-exact convention; negative
inclusion-exclusion values clamp to 0 (the estimator's standard guard).

Plan shape: one hash of events -> (type, register, rank) rows; per-type
registers in one hash aggregate; the pair table is |types|^2 rows of
64-register joins (broadcast — types are a handful); the exact arm is
one groupBy(user) collecting the type set + one pair explode. No
windows, nothing corpus-quadratic.

Reference parity: none (sketch-analytics family; composes q134/q146
with W22's streaming registers).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesyslog_spark.operators.text import md5_int60
from kinesyslog_spark.queries import query
from kinesyslog_spark.queries.estimators import HLL_ALPHA, HLL_M
from kinesyslog_spark.queries.relational import _t

_EST = (
    f"CAST(FLOOR({HLL_ALPHA} * {HLL_M} * {HLL_M} * (1::BIGINT << 55)"
    " / CAST({zs} AS DOUBLE)) AS BIGINT)"
)

_Q167_ORACLE = f"""
WITH h AS (
  SELECT event_type AS et, user_id,
         CAST('0x' || substring(md5('ovl:' || CAST(user_id AS VARCHAR)), 1, 15)
              AS BIGINT) AS hv
  FROM events
),
jr AS (
  SELECT et, hv % {HLL_M} AS j,
         CASE WHEN hv >> 6 = 0 THEN 55
              ELSE 54 - length(bin(hv >> 6)) + 1 END AS r
  FROM h
),
ets AS (SELECT DISTINCT et FROM jr),
grid AS (
  SELECT e.et, g.j
  FROM ets e CROSS JOIN (SELECT unnest(range(0, {HLL_M})) AS j) g
),
regs AS MATERIALIZED (
  SELECT g.et, g.j, COALESCE(MAX(jr.r), 0) AS m_j
  FROM grid g LEFT JOIN jr ON jr.et = g.et AND jr.j = g.j
  GROUP BY g.et, g.j
),
z AS MATERIALIZED (
  SELECT et,
         CAST(SUM(1::BIGINT << CAST(55 - m_j AS INTEGER)) AS BIGINT) AS zs
  FROM regs GROUP BY et
),
pz AS MATERIALIZED (
  SELECT a.et AS et_a, b.et AS et_b,
         CAST(SUM(1::BIGINT << CAST(55 - GREATEST(ra.m_j, rb.m_j) AS INTEGER))
              AS BIGINT) AS zs_u
  FROM ets a JOIN ets b ON a.et < b.et
  JOIN regs ra ON ra.et = a.et
  JOIN regs rb ON rb.et = b.et AND rb.j = ra.j
  GROUP BY a.et, b.et
),
du AS MATERIALIZED (
  SELECT DISTINCT user_id, et FROM h
),
exact AS (
  SELECT a.et AS et_a, b.et AS et_b,
         CAST(COUNT(*) AS BIGINT) AS n_exact_both
  FROM du a JOIN du b ON a.user_id = b.user_id AND a.et < b.et
  GROUP BY a.et, b.et
),
exany AS (
  SELECT et, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
  FROM h GROUP BY et
)
SELECT p.et_a, p.et_b,
       xa.n_exact AS n_exact_a,
       xb.n_exact AS n_exact_b,
       COALESCE(x.n_exact_both, 0) AS n_exact_both,
       GREATEST(0, {_EST.format(zs="za.zs")} + {_EST.format(zs="zb.zs")}
                   - {_EST.format(zs="p.zs_u")}) AS est_both,
       GREATEST(0, {_EST.format(zs="za.zs")} + {_EST.format(zs="zb.zs")}
                   - {_EST.format(zs="p.zs_u")})
         - COALESCE(x.n_exact_both, 0) AS est_err
FROM pz p
JOIN z za ON za.et = p.et_a
JOIN z zb ON zb.et = p.et_b
JOIN exany xa ON xa.et = p.et_a
JOIN exany xb ON xb.et = p.et_b
LEFT JOIN exact x ON x.et_a = p.et_a AND x.et_b = p.et_b
ORDER BY p.et_a, p.et_b
"""


@query("q167_hll_audience_overlap", oracle=_Q167_ORACLE)
def q167_hll_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("et"),
        "user_id",
        md5_int60(F.col("user_id").cast("string"), "ovl:").alias("hv"),
    )
    jr = h.select(
        "et",
        (F.col("hv") % HLL_M).alias("j"),
        F.when(F.expr("shiftright(hv, 6)") == 0, F.lit(55))
        .otherwise(55 - F.length(F.expr("bin(shiftright(hv, 6))")))
        .alias("r"),
    )
    ets = jr.select("et").distinct()
    grid = ets.crossJoin(
        F.broadcast(spark.range(HLL_M).select(F.col("id").alias("j")))
    )
    regs = (
        grid.join(
            jr.groupBy("et", "j").agg(F.max("r").alias("r")),
            ["et", "j"], "left",
        )
        .select("et", "j", F.coalesce("r", F.lit(0)).alias("m_j"))
    )
    z = regs.groupBy("et").agg(
        F.sum(F.expr("shiftleft(1L, cast(55 - m_j as int))")).alias("zs")
    )
    ra = regs.select(
        F.col("et").alias("et_a"), "j", F.col("m_j").alias("ma")
    )
    rb = regs.select(
        F.col("et").alias("et_b"), "j", F.col("m_j").alias("mb")
    )
    pz = (
        ra.join(rb, "j")
        .filter(F.col("et_a") < F.col("et_b"))
        .groupBy("et_a", "et_b")
        .agg(
            F.sum(
                F.expr("shiftleft(1L, cast(55 - greatest(ma, mb) as int))")
            ).alias("zs_u")
        )
    )
    from kinesyslog_spark.tables import artifact

    du = artifact(spark, sf_dir, "q167_user_types",
                  lambda keep: h.select("user_id", "et").distinct())
    db = du.select("user_id", F.col("et").alias("et_b"))
    exact = (
        du.join(db, "user_id")
        .filter(F.col("et") < F.col("et_b"))
        .groupBy(F.col("et").alias("et_a"), "et_b")
        .agg(F.count(F.lit(1)).alias("n_exact_both"))
    )
    exany = h.groupBy("et").agg(
        F.count_distinct("user_id").alias("n_exact")
    )

    def est(zs):
        return F.floor(
            F.lit(HLL_ALPHA) * HLL_M * HLL_M * F.expr("shiftleft(1L, 55)")
            / F.col(zs).cast("double")
        ).cast("long")

    xa = exany.select(F.col("et").alias("et_a"), F.col("n_exact").alias("n_exact_a"))
    xb = exany.select(F.col("et").alias("et_b"), F.col("n_exact").alias("n_exact_b"))
    za = z.select(F.col("et").alias("et_a"), F.col("zs").alias("zs_a"))
    zb = z.select(F.col("et").alias("et_b"), F.col("zs").alias("zs_b"))
    both = F.greatest(
        F.lit(0).cast("long"),
        est("zs_a") + est("zs_b") - est("zs_u"),
    )
    return (
        pz.join(F.broadcast(za), "et_a")
        .join(F.broadcast(zb), "et_b")
        .join(F.broadcast(xa), "et_a")
        .join(F.broadcast(xb), "et_b")
        .join(F.broadcast(exact), ["et_a", "et_b"], "left")
        .select(
            "et_a", "et_b", "n_exact_a", "n_exact_b",
            F.coalesce("n_exact_both", F.lit(0)).cast("long")
            .alias("n_exact_both"),
            both.alias("est_both"),
            (both - F.coalesce("n_exact_both", F.lit(0)).cast("long"))
            .alias("est_err"),
        )
        .orderBy("et_a", "et_b")
    )
