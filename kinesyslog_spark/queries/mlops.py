"""Q161/Q164 — gradient-based training and probability calibration.

q161 — logistic regression trained IN the engine by full-batch gradient
descent: the complement to q157's closed-form Naive Bayes. Each of the
GD_ITERS iterations is ONE map-side-combined aggregate over the feature
frame (per-row gradient contributions cast to DECIMAL so the shuffle-
order of the sum cannot change the result — the q157 decimal-sum
convention applied to gradients), followed by an O(D) driver update of
the broadcast weight vector. This is exactly how MLlib's LBFGS/GD loop
is shaped (treeAggregate gradient + driver step); at 100 TB each round
is a single scan with O(D) driver traffic, D = 5 here.

Determinism contract: the sigmoid is quantized to 1e-6 (FLOOR(x*1e6 +
0.5), the engine-wide cross-engine rounding idiom) before entering the
gradient, gradient sums are exact DECIMAL(25,10) additions, and each
weight step is re-quantized to 1e-9 — so Spark and DuckDB walk
bit-identical weight trajectories, iteration by iteration.

q164 — reliability (calibration) bins over q157's Naive Bayes scores:
confidence p = 1/(1 + 10^-score) (the scores are log10 odds), 10 fixed
probability bins, each reporting mean confidence vs empirical positive
rate and its weighted ECE contribution. Per-bin means are exact decimal
sums divided once at the end; bins are fixed, so the whole query is one
hash aggregate + a 1-row broadcast of the total count — mergeable, no
windows (the q159 posture: this is the state a streaming calibration
monitor would fold).

Reference parity: none (training-data-ops family; composes with
q157/q158/q159's train/eval loop).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesyslog_spark.queries import query
from kinesyslog_spark.queries.ml import _nb_scores, _nb_scores_sql
from kinesyslog_spark.tables import artifact, hot_table, hot_tokens

GD_ITERS = 3
GD_LR = 1.0
N_FEATURES = 5  # bias, chars/1000, toks/100, type-token ratio, mean_len/10


def _q6(x: Column, scale: int = 6) -> Column:
    """The engine's cross-engine double quantizer: FLOOR(x*10^s + 0.5)."""
    p = 10 ** scale
    return F.floor(x * p + F.lit(0.5)) / p


def _feat_sql() -> str:
    """DuckDB CTE `feats`: (doc_id, y, x0..x4) — exact integer-derived
    ratios, identical on both engines."""
    return """
feats AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         CAST(1.0 AS DOUBLE) AS x0,
         strlen(text) / 1000.0 AS x1,
         len(toks) / 100.0 AS x2,
         len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE) AS x3,
         list_sum(list_transform(toks, t -> strlen(t)))
           / CAST(len(toks) AS DOUBLE) / 10.0 AS x4
  FROM (
    SELECT doc_id, lang, text,
           regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
    FROM documents
  ) WHERE len(toks) > 0
)"""


def _sigmoid_sql(z: str) -> str:
    # clamp |z| <= 30 before exp: saturated either way, avoids overflow
    zc = f"GREATEST(LEAST({z}, 30.0), -30.0)"
    return f"FLOOR(1.0 / (1.0 + exp(-({zc}))) * 1000000 + 0.5) / 1000000"


def _gd_iteration_sql(prev: str, out: str) -> str:
    """One unrolled GD step: gradient aggregate (decimal sums) + weight
    update CTE `out` from weights CTE `prev`."""
    z = " + ".join(f"{prev}.w{j} * f.x{j}" for j in range(N_FEATURES))
    s = _sigmoid_sql(z)
    gsel = ",\n         ".join(
        f"SUM(CAST(({s} - f.y) * f.x{j} AS DECIMAL(25,10))) AS g{j}"
        for j in range(N_FEATURES)
    )
    wsel = ",\n         ".join(
        f"{prev}.w{j} - FLOOR({GD_LR} * CAST(g.g{j} AS DOUBLE) / g.n "
        f"* 1000000000 + 0.5) / 1000000000 AS w{j}"
        for j in range(N_FEATURES)
    )
    return f"""
grad_{out} AS (
  SELECT {gsel},
         CAST(COUNT(*) AS BIGINT) AS n
  FROM feats f CROSS JOIN {prev}
),
{out} AS (
  SELECT {wsel}
  FROM grad_{out} g CROSS JOIN {prev}
)"""


def _q161_oracle() -> str:
    w0 = ", ".join(f"CAST(0.0 AS DOUBLE) AS w{j}" for j in range(N_FEATURES))
    chain = ",".join(
        _gd_iteration_sql(f"wit{i}", f"wit{i + 1}") for i in range(GD_ITERS)
    )
    wn = f"wit{GD_ITERS}"
    z = " + ".join(f"w.w{j} * f.x{j}" for j in range(N_FEATURES))
    s = _sigmoid_sql(z)
    wcols = ", ".join(
        f"FLOOR(w.w{j} * 1000000 + 0.5) / 1000000 AS w{j}"
        for j in range(N_FEATURES)
    )
    return f"""
WITH {_feat_sql()},
wit0 AS (SELECT {w0}),
{chain}
SELECT CAST({GD_ITERS} AS BIGINT) AS n_iters,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       {wcols},
       CAST(SUM(CASE WHEN ({s} > 0.5) = (f.y = 1) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_correct,
       FLOOR(SUM(CASE WHEN ({s} > 0.5) = (f.y = 1) THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE) * 1000000 + 0.5) / 1000000
         AS accuracy
FROM feats f CROSS JOIN {wn} w
GROUP BY {", ".join(f"w.w{j}" for j in range(N_FEATURES))}
"""


def _features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = hot_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    tk = hot_tokens(spark, sf_dir).filter(F.size("toks") > 0)
    nt = F.size("toks").cast("double")
    return tk.join(docs, "doc_id").select(
        "doc_id",
        (F.col("lang") == "en").cast("int").alias("y"),
        F.lit(1.0).alias("x0"),
        (F.length("text") / 1000.0).alias("x1"),
        (F.size("toks") / 100.0).alias("x2"),
        (F.size(F.array_distinct("toks")) / nt).alias("x3"),
        (
            F.aggregate(
                "toks", F.lit(0).cast("long"),
                lambda acc, t: acc + F.length(t),
            ) / nt / 10.0
        ).alias("x4"),
    )


def _sigmoid(z: Column) -> Column:
    zc = F.greatest(F.least(z, F.lit(30.0)), F.lit(-30.0))
    return _q6(1.0 / (1.0 + F.exp(-zc)))


@query("q161_logreg_gd", oracle=_q161_oracle())
def q161_logreg_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = artifact(spark, sf_dir, "q161_features",
                     lambda keep: _features(spark, sf_dir))
    w = [0.0] * N_FEATURES
    for _ in range(GD_ITERS):
        z = sum(
            (F.lit(w[j]) * F.col(f"x{j}") for j in range(N_FEATURES)),
            start=F.lit(0.0),
        )
        s = _sigmoid(z)
        row = feats.agg(
            *[
                F.sum(
                    ((s - F.col("y")) * F.col(f"x{j}"))
                    .cast("decimal(25,10)")
                ).alias(f"g{j}")
                for j in range(N_FEATURES)
            ],
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        n = row["n"]
        w = [
            w[j]
            - _floor_q(GD_LR * float(row[f"g{j}"]) / n, 9)
            for j in range(N_FEATURES)
        ]
    z = sum(
        (F.lit(w[j]) * F.col(f"x{j}") for j in range(N_FEATURES)),
        start=F.lit(0.0),
    )
    correct = ((_sigmoid(z) > 0.5) == (F.col("y") == 1)).cast("long")
    return feats.agg(
        F.lit(GD_ITERS).cast("long").alias("n_iters"),
        F.count(F.lit(1)).alias("n_docs"),
        *[
            F.lit(_floor_q(w[j], 6)).alias(f"w{j}")
            for j in range(N_FEATURES)
        ],
        F.sum(correct).alias("n_correct"),
        _q6(F.sum(correct) / F.count(F.lit(1)).cast("double"))
        .alias("accuracy"),
    )


def _floor_q(x: float, scale: int) -> float:
    """Driver-side twin of _q6: FLOOR(x * 10^s + 0.5) / 10^s."""
    import math

    p = 10 ** scale
    return math.floor(x * p + 0.5) / p


# ---------------------------------------------------------------------------
# Q164 — calibration (reliability) bins + ECE contributions
# ---------------------------------------------------------------------------

CAL_BINS = 10

_Q164_ORACLE = f"""
WITH {_nb_scores_sql()},
conf AS (
  SELECT y,
         CAST(FLOOR(1.0 / (1.0 + POWER(10.0,
                -GREATEST(LEAST(CAST(score AS DOUBLE), 30.0), -30.0)))
              * 1000000 + 0.5) / 1000000 AS DECIMAL(10,6)) AS p
  FROM scores
),
b AS (
  SELECT y, p,
         LEAST(CAST(FLOOR(p * {CAL_BINS}) AS BIGINT), {CAL_BINS - 1}) AS bin
  FROM conf
),
h AS (
  SELECT bin,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS n_pos,
         SUM(p) AS sum_p
  FROM b GROUP BY bin
),
totc AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM h)
SELECT bin, n, n_pos,
       FLOOR(CAST(sum_p AS DOUBLE) / n * 1000000 + 0.5) / 1000000
         AS mean_conf,
       FLOOR(CAST(n_pos AS DOUBLE) / n * 1000000 + 0.5) / 1000000
         AS emp_rate,
       FLOOR(CAST(n AS DOUBLE) / totc.nn
             * ABS(FLOOR(CAST(sum_p AS DOUBLE) / n * 1000000 + 0.5) / 1000000
                   - FLOOR(CAST(n_pos AS DOUBLE) / n * 1000000 + 0.5) / 1000000)
             * 1000000 + 0.5) / 1000000 AS ece_contrib
FROM h CROSS JOIN totc
ORDER BY bin
"""


def conf_bins(conf: DataFrame) -> DataFrame:
    """(bin, n, n_pos, sum_p) fixed-bin calibration histogram from a
    (p DECIMAL(10,6) confidence, y label) frame — every column is
    SUM-mergeable across shards/epochs: the state W31
    (streaming/calibration.py) folds per micro-batch."""
    b = conf.select(
        "y", "p",
        F.least(
            F.floor(F.col("p") * CAL_BINS).cast("long"),
            F.lit(CAL_BINS - 1).cast("long"),
        ).alias("bin"),
    )
    return b.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").cast("long").alias("n_pos"),
        F.sum("p").alias("sum_p"),
    )


def calibration_from_hist(h: DataFrame) -> DataFrame:
    """Per-bin reliability report + ECE contributions from a conf_bins
    histogram (1-row broadcast total; window-free)."""
    tot = h.agg(F.sum("n").cast("long").alias("nn"))
    mean_conf = _q6(F.col("sum_p").cast("double") / F.col("n"))
    emp_rate = _q6(F.col("n_pos").cast("double") / F.col("n"))
    return (
        h.crossJoin(F.broadcast(tot))
        .select(
            "bin", "n", "n_pos",
            mean_conf.alias("mean_conf"),
            emp_rate.alias("emp_rate"),
            _q6(
                F.col("n").cast("double") / F.col("nn")
                * F.abs(mean_conf - emp_rate)
            ).alias("ece_contrib"),
        )
        .orderBy("bin")
    )


def nb_confidences(scores: DataFrame) -> DataFrame:
    """(doc_id, y, p) — q157 log10-odds scores to quantized-probability
    confidences."""
    sc = F.greatest(
        F.least(F.col("score").cast("double"), F.lit(30.0)), F.lit(-30.0)
    )
    p = _q6(1.0 / (1.0 + F.pow(F.lit(10.0), -sc))).cast("decimal(10,6)")
    return scores.select("doc_id", "y", p.alias("p"))


@query("q164_calibration_bins", oracle=_Q164_ORACLE)
def q164_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    scores = _nb_scores(spark, sf_dir)
    return calibration_from_hist(conf_bins(nb_confidences(scores)))
