"""Q137 — log template mining over the parsed relay stream.

The Drain/LogMine-style operator a syslog pipeline runs right after
parse: collapse each message to its TEMPLATE by masking the variable
fields (digit runs → '#'), then aggregate per template — message
count, distinct sources, priority spread, and a deterministic example.
Templates are what alerting dedupes on and what anomaly detection
baselines per-template rates against; the reference relay
(kinesyslog/message.py) parses and forwards these exact messages but
has no mining step — this is the analytics the Spark engine adds on
top of P2-P6's parse.

Masking is a single regexp_replace on an already-JVM-parsed column —
map-side, then one hash-aggregate shuffle on the template key.
Template keys are low-cardinality by construction (that is the point
of mining), so the aggregate output is tiny; a skewed hot template is
just a hot group in a map-side-combined agg — no join, no risk.
`[0-9]+` behaves identically in Java regex and RE2, so the oracle
replays the masking bit-for-bit.

Reference parity: north-star extension over the reference's message
path (kinesyslog/message.py parse; no template analytics there).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesyslog_spark.functions.syslog import parse_syslog, parse_syslog_sql
from kinesyslog_spark.queries import query
from kinesyslog_spark.queries.relay import _SYNTH_SQL, _synth_syslog

_MASK = "'[0-9]+', '#'"

_Q137_ORACLE = f"""
WITH syslog_lines AS ({_SYNTH_SQL}),
parsed AS ({parse_syslog_sql("syslog_lines")}),
masked AS (
  SELECT regexp_replace(message, {_MASK}, 'g') AS template,
         source, prio, message
  FROM parsed
)
SELECT template,
       CAST(COUNT(*) AS BIGINT) AS n_msgs,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(MIN(prio) AS BIGINT) AS min_prio,
       CAST(MAX(prio) AS BIGINT) AS max_prio,
       MIN(message) AS example
FROM masked
GROUP BY template
ORDER BY n_msgs DESC, template
"""


def _hot_masked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized synth→parse→mask projection — the shared input
    of the whole mining family (q137 stats agg, q137 example pick, q138
    hourly anomaly). The two-tier regex parse is by far the costliest
    per-row step here (SCALING_R4's one alpha outlier was exactly this
    pass, and q137 was paying it TWICE: once per output branch);
    persisting it once is the local analog of the materialized
    parse stage a production pipeline writes before any mining."""
    from kinesyslog_spark.tables import artifact

    def build(keep):
        parsed = parse_syslog(_synth_syslog(spark, sf_dir))
        return parsed.select(
            F.regexp_replace("message", "[0-9]+", "#").alias("template"),
            "source", "prio", "message", "ts_ms",
        )

    return artifact(spark, sf_dir, "masked_syslog", build)


@query("q137_log_templates", oracle=_Q137_ORACLE)
def q137_log_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    masked = _hot_masked(spark, sf_dir)
    # A string MIN in the aggregate buffer would demote the whole agg
    # to SortAggregate; keep the main agg numeric-only (hash) and pick
    # the example via a rank<=1 window (WindowGroupLimit: per-partition
    # top-1 before the exchange), joined back on the tiny template key.
    # Both branches read the memoized masked frame — ONE parse pass.
    from pyspark.sql.window import Window

    agg = masked.groupBy("template").agg(
        F.count("*").alias("n_msgs"),
        F.count_distinct("source").alias("n_sources"),
        F.min("prio").cast("long").alias("min_prio"),
        F.max("prio").cast("long").alias("max_prio"),
    )
    w = Window.partitionBy("template").orderBy("message")
    example = (
        masked.select("template", "message")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("template", F.col("message").alias("example"))
    )
    return (
        agg.join(example, "template")
        .orderBy(F.col("n_msgs").desc(), "template")
    )


# ---------------------------------------------------------------------------
# Q138 — per-template hourly anomaly (q137 ∘ q82)
# ---------------------------------------------------------------------------
#
# The alerting query template mining exists FOR: baseline each
# template's hourly message rate and flag hours whose count z-scores
# past the threshold — "this template is suddenly 3x its normal rate".
# Composition of q137's masking with q82's exact-integer-moment
# z-score; hours come from ts_ms by integer floor-division (the
# cross-engine floor rule: DuckDB `//`, Spark F.floor), so the entire
# pipeline up to the final z division is exact integers.

Z_THR = 2.0

_Q138_ORACLE = f"""
WITH syslog_lines AS ({_SYNTH_SQL}),
parsed AS ({parse_syslog_sql("syslog_lines")}),
hourly AS (
  SELECT regexp_replace(message, {_MASK}, 'g') AS template,
         CAST(ts_ms // 3600000 AS BIGINT) AS hour_idx,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM parsed GROUP BY 1, 2
), stats AS (
  SELECT template,
         CAST(COUNT(*) AS BIGINT) AS m,
         CAST(SUM(n) AS BIGINT) AS tot,
         CAST(SUM(n * n) AS BIGINT) AS tot2
  FROM hourly GROUP BY template
)
SELECT h.template, h.hour_idx * 3600000 AS hour_ms, h.n,
       FLOOR((h.n - s.tot / CAST(s.m AS DOUBLE))
             / sqrt((s.tot2 - s.tot * (s.tot / CAST(s.m AS DOUBLE)))
                    / (s.m - 1)) * 10000 + 0.5) / 10000 AS z_q4
FROM hourly h JOIN stats s ON h.template = s.template
WHERE s.m > 1
  AND s.tot2 * (s.m - 1) > s.tot * s.tot - s.tot2
  AND ABS((h.n - s.tot / CAST(s.m AS DOUBLE))
          / sqrt((s.tot2 - s.tot * (s.tot / CAST(s.m AS DOUBLE)))
                 / (s.m - 1))) >= {Z_THR}
ORDER BY h.template, hour_ms
"""


@query("q138_template_anomaly", oracle=_Q138_ORACLE)
def q138_template_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    masked = _hot_masked(spark, sf_dir)
    hourly = (
        masked.select(
            "template",
            F.floor(F.col("ts_ms") / 3600000).cast("long").alias("hour_idx"),
        )
        .groupBy("template", "hour_idx")
        .agg(F.count("*").alias("n"))
    )
    stats = hourly.groupBy("template").agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("n").alias("tot"),
        F.sum(F.col("n") * F.col("n")).alias("tot2"),
    )
    mean = F.col("tot") / F.col("m").cast("double")
    var = (F.col("tot2") - F.col("tot") * mean) / (F.col("m") - 1)
    z = (F.col("n") - mean) / F.sqrt(var)
    return (
        hourly.join(F.broadcast(stats), "template")
        .filter(
            (F.col("m") > 1)
            & (F.col("tot2") * (F.col("m") - 1)
               > F.col("tot") * F.col("tot") - F.col("tot2"))
            & (F.abs(z) >= Z_THR)
        )
        .select(
            "template",
            (F.col("hour_idx") * 3600000).alias("hour_ms"),
            "n",
            (F.floor(z * 10000 + F.lit(0.5)) / 10000).alias("z_q4"),
        )
        .orderBy("template", "hour_ms")
    )
