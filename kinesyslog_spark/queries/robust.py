"""Q171 — robust outlier audit: exact median / MAD / robust z-scores
over the monetary columns.

The robust-statistics face of the data-quality family: mean/stddev
(q82's z-scores) are themselves dragged by the outliers they hunt, so
the standard screen is the MEDIAN and the MEDIAN ABSOLUTE DEVIATION
with the 1.4826 consistency constant — |x - median| / (1.4826 * MAD)
> 3.5 is the classic robust cut (Iglewicz-Hoaglin). q160 profiles,
q145 asserts ranges, q168 checks digit law; this flags the rows.

Exact medians at scale are THE use case for histogram selection
(operators/ranking.py exact_rank_values): each median costs a handful
of map-side-combined bucket-count aggregates (<= 4096 rows shuffled or
collected per pass) plus one bounded final collect — NO full-column
shuffle, NO sort of the data. (The first cut used with_global_rank,
which range-shuffles and sorts the entire column to read back two
rows per median — four full exchanges per run; histogram selection
replaced them outright.) Everything after is one map-side-combined
aggregate per column.

Determinism: medians average two exact DECIMAL(12,2) values (cast to
double after the halving, exact); deviations are decimal subtractions;
the z-threshold compare runs on 1e-6-quantized doubles; counts are
integers. The oracle replays the identical rank/median/MAD arithmetic
with single-node ROW_NUMBERs.

Reference parity: none (data-quality family, next to q145/q160/q168).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesyslog_spark.operators.localframe import local_frame
from kinesyslog_spark.operators.ranking import exact_median
from kinesyslog_spark.queries import query
from kinesyslog_spark.queries.relational import _t

_COLS = (("lineitem", "l_extendedprice"), ("orders", "o_totalprice"))
ROBUST_K = 1.4826  # consistency constant for normal data
ROBUST_CUT = 3.5   # Iglewicz-Hoaglin recommended cut


def _col_oracle(table: str, col: str) -> str:
    return f"""
  SELECT * FROM (
    WITH v AS (
      SELECT CAST({col} AS DECIMAL(12,2)) AS x FROM {table}
    ),
    rk AS (
      SELECT x, ROW_NUMBER() OVER (ORDER BY x) AS r,
             COUNT(*) OVER () AS n
      FROM v
    ),
    med AS (
      SELECT CAST(SUM(CAST(x AS DOUBLE)) / COUNT(*) AS DOUBLE) AS m,
             CAST(MAX(n) AS BIGINT) AS n
      FROM rk WHERE r IN ((n + 1) // 2, (n + 2) // 2)
    ),
    dev AS (
      SELECT ABS(CAST(v.x AS DOUBLE) - med.m) AS d, v.x, med.m, med.n
      FROM v CROSS JOIN med
    ),
    drk AS (
      SELECT d, ROW_NUMBER() OVER (ORDER BY d) AS r, MAX(n) OVER () AS n
      FROM dev
    ),
    mad AS (
      SELECT CAST(SUM(d) / COUNT(*) AS DOUBLE) AS mad
      FROM drk WHERE r IN ((n + 1) // 2, (n + 2) // 2)
    )
    SELECT '{table}.{col}' AS src,
           med.n AS n,
           FLOOR(med.m * 1000000 + 0.5) / 1000000 AS median,
           FLOOR(mad.mad * 1000000 + 0.5) / 1000000 AS mad,
           CAST(SUM(CASE WHEN FLOOR(dev.d / ({ROBUST_K} * mad.mad)
                                    * 1000000 + 0.5) / 1000000
                              > {ROBUST_CUT}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           FLOOR(SUM(CASE WHEN FLOOR(dev.d / ({ROBUST_K} * mad.mad)
                                     * 1000000 + 0.5) / 1000000
                               > {ROBUST_CUT}
                          THEN 1 ELSE 0 END)
                 / CAST(med.n AS DOUBLE) * 1000000 + 0.5) / 1000000
             AS outlier_frac
    FROM dev CROSS JOIN med CROSS JOIN mad
    GROUP BY med.n, med.m, mad.mad
  )"""


def _q171_oracle() -> str:
    parts = "\n  UNION ALL\n".join(_col_oracle(t, c) for t, c in _COLS)
    return f"SELECT * FROM (\n{parts}\n) ORDER BY src"


@query("q171_robust_outlier_audit", oracle=_q171_oracle())
def q171_robust_outlier_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesyslog_spark.tables import scratch

    outs = []
    for table, col in _COLS:
        # decimal(12,2) -> double is exact for these magnitudes, and the
        # oracle's SUM(CAST(x AS DOUBLE))/COUNT over the two middle rows
        # is the same arithmetic as averaging the two selected doubles.
        with scratch() as keep:
            vals = keep(
                _t(spark, sf_dir, table)
                .select(
                    F.col(col).cast("decimal(12,2)").cast("double").alias("x")
                )
            )
            med, n = exact_median(vals, "x")
            dev = keep(vals.select(
                (F.abs(F.col("x") - F.lit(med))).alias("d")
            ))
            mad, _ = exact_median(dev, "d")
            z_q = F.floor(
                F.col("d") / (ROBUST_K * F.lit(mad)) * 1000000 + F.lit(0.5)
            ) / 1000000
            agg = dev.agg(
                F.sum((z_q > ROBUST_CUT).cast("long")).alias("n_out")
            ).collect()[0]
            n_out = int(agg["n_out"])
            outs.append((
                f"{table}.{col}", n,
                _fl6(med), _fl6(mad), n_out,
                _fl6(n_out / n),
            ))
    return local_frame(
        spark,
        outs,
        "src string, n long, median double, mad double, "
        "n_outliers long, outlier_frac double",
    ).orderBy("src")


def _fl6(x: float) -> float:
    import math

    return math.floor(x * 1000000 + 0.5) / 1000000
