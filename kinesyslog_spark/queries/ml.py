"""Q157/Q158 — in-engine supervised learning: Naive Bayes train +
classify, and AUC evaluation over the distributed rank.

q157 — multinomial Naive Bayes (add-one smoothing) trained IN the
engine to predict en/non-en from token counts, then applied back to
the corpus with a per-language confusion report. Training is ONE
aggregation pass (token-class counts) + scalar totals — the
count-based model family is the natural fit for a SQL engine (no
gradient rounds); the vocabulary-sized log-likelihood table broadcasts
into a map-side scoring join (the DSIR/q103 posture). Determinism is
the q95 convention: every log10 runs on identical integer-derived
ratios and is cast to DECIMAL(12,6) BEFORE summation, so both engines
add the same decimals in any order.

q158 — AUC (Mann-Whitney form) of q157's scores via the DISTRIBUTED
global rank (operators/ranking.py):

    AUC = (sum of positive ranks - n_pos(n_pos+1)/2) / (n_pos * n_neg)

with ties resolved deterministically by (score, doc_id) row-numbering
(declared metric semantics — identical on both engines; the oracle
uses the same ROW_NUMBER order). This is the eval op the ranking
helper exists for at 100 TB: no single-partition sort of the scored
corpus.

Scale notes: train = one exploded-token hash aggregate; score = one
broadcast join + per-doc hash aggregate; AUC = one distributed rank +
two scalar aggregates. Self-train/self-eval here (the operator demo);
a holdout is one deterministic-hash filter away (q44/q156's bucket
pattern).

Signal note: the synthetic corpus shares most vocabulary across
languages, so en is only WEAKLY separable — AUC ~0.66 at sf0.01 with
en clearly out-attracting every other language (pinned in
tests/test_ml.py). The operator contract is the train/score/eval
machinery, not benchmark accuracy on synthetic text.

Reference parity: none (training-data-ops family; composes with q30's
heuristic language-ID and q103's DSIR importance weighting).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesyslog_spark.operators.ranking import with_global_rank
from kinesyslog_spark.queries import query
from kinesyslog_spark.tables import hot_table, hot_tokens

_TOK = "[a-z0-9]+"


def _nb_scores_sql() -> str:
    return f"""
lab AS MATERIALIZED (
  SELECT doc_id, lang,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         regexp_extract_all(lower(text), '{_TOK}') AS toks
  FROM documents
  WHERE len(regexp_extract_all(lower(text), '{_TOK}')) > 0
),
tok AS MATERIALIZED (
  SELECT doc_id, y, unnest(toks) AS w FROM lab
),
cc AS MATERIALIZED (
  SELECT w,
         CAST(SUM(y) AS BIGINT) AS c_en,
         CAST(SUM(1 - y) AS BIGINT) AS c_ot
  FROM tok GROUP BY w
),
tot AS (
  SELECT CAST(SUM(c_en) AS BIGINT) AS t_en,
         CAST(SUM(c_ot) AS BIGINT) AS t_ot,
         CAST(COUNT(*) AS BIGINT) AS v
  FROM cc
),
model AS MATERIALIZED (
  SELECT w,
         CAST(log10((c_en + 1.0) / (t_en + v)) AS DECIMAL(12,6)) AS le,
         CAST(log10((c_ot + 1.0) / (t_ot + v)) AS DECIMAL(12,6)) AS lo
  FROM cc CROSS JOIN tot
),
pri AS (
  SELECT CAST(log10(CAST(SUM(y) AS DOUBLE) / SUM(1 - y))
              AS DECIMAL(12,6)) AS p
  FROM lab
),
scores AS MATERIALIZED (
  SELECT t.doc_id, MIN(t.y) AS y,
         CAST(SUM(m.le - m.lo) AS DECIMAL(20,6)) + MIN(pri.p) AS score
  FROM tok t JOIN model m ON m.w = t.w CROSS JOIN pri
  GROUP BY t.doc_id
)"""


_Q157_ORACLE = f"""
WITH {_nb_scores_sql()}
SELECT l.lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN s.score > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_pred_en,
       ROUND(CAST(SUM(CASE WHEN s.score > 0 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 4) AS frac_pred_en
FROM scores s JOIN lab l ON l.doc_id = s.doc_id
GROUP BY l.lang
ORDER BY l.lang
"""


def _nb_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, y, score DECIMAL) — shared by q157/q158/q159, memoized
    per session (q158 ranks it, q159 builds a histogram AND composes
    q158's exact arm: without memoization one q159 run executed the
    tokenize+train+score pipeline three times)."""
    from kinesyslog_spark.tables import artifact

    return artifact(spark, sf_dir, "nb_scores",
                    lambda keep: _nb_build(spark, sf_dir))


def _nb_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Label-weighted counts derive exactly from the postings artifact
    # (tables.hot_postings): per-token instance sums over the exploded
    # stream equal SUM(tf * y) / SUM(tf * (1-y)) over (doc, token)
    # rows, and the per-doc score sum equals SUM(tf * (le - lo)) in
    # exact decimal — no per-query token-stream pass (the q55 pattern).
    from kinesyslog_spark.tables import hot_postings

    docs = hot_table(spark, sf_dir, "documents").select("doc_id", "lang")
    ydocs = docs.select(
        "doc_id", (F.col("lang") == "en").cast("int").alias("y")
    )
    tok = hot_postings(spark, sf_dir).join(ydocs, "doc_id")
    cc = tok.groupBy(F.col("token").alias("w")).agg(
        F.sum(F.col("tf") * F.col("y")).alias("c_en"),
        F.sum(F.col("tf") * (1 - F.col("y"))).alias("c_ot"),
    )
    tot = cc.agg(
        F.sum("c_en").alias("t_en"),
        F.sum("c_ot").alias("t_ot"),
        F.count(F.lit(1)).alias("v"),
    )
    model = cc.crossJoin(F.broadcast(tot)).select(
        "w",
        F.log10(
            (F.col("c_en") + 1.0) / (F.col("t_en") + F.col("v"))
        ).cast("decimal(12,6)").alias("le"),
        F.log10(
            (F.col("c_ot") + 1.0) / (F.col("t_ot") + F.col("v"))
        ).cast("decimal(12,6)").alias("lo"),
    )
    # class prior over DOCS with >= 1 token (the old lab frame's row
    # set), one cheap pass over the cached token arrays
    pri = (
        hot_tokens(spark, sf_dir)
        .filter(F.size("toks") > 0)
        .select("doc_id")
        .join(ydocs, "doc_id")
        .agg(
            F.log10(
                F.sum("y").cast("double") / F.sum(1 - F.col("y"))
            ).cast("decimal(12,6)").alias("p")
        )
    )
    return (
        tok.join(F.broadcast(model), tok.token == model.w)
        .groupBy("doc_id")
        .agg(
            F.min("y").alias("y"),
            F.sum(F.col("tf") * (F.col("le") - F.col("lo")))
            .cast("decimal(20,6)")
            .alias("s0"),
        )
        .crossJoin(F.broadcast(pri))
        .select(
            "doc_id", "y", (F.col("s0") + F.col("p")).alias("score")
        )
    )


@query("q157_naive_bayes_lang", oracle=_Q157_ORACLE)
def q157_naive_bayes_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    scores = _nb_scores(spark, sf_dir)
    langs = hot_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return (
        scores.join(langs, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("score") > 0).cast("long")).alias("n_pred_en"),
            F.round(
                F.sum((F.col("score") > 0).cast("long")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("frac_pred_en"),
        )
        .orderBy("lang")
    )


_Q158_ORACLE = f"""
WITH {_nb_scores_sql()},
rk AS (
  SELECT y,
         ROW_NUMBER() OVER (ORDER BY score, doc_id) AS r
  FROM scores
),
agg AS (
  SELECT CAST(SUM(CASE WHEN y = 1 THEN r ELSE 0 END) AS BIGINT) AS s_pos,
         CAST(SUM(y) AS BIGINT) AS n_pos,
         CAST(SUM(1 - y) AS BIGINT) AS n_neg
  FROM rk
)
SELECT n_pos, n_neg,
       FLOOR((CAST(s_pos AS DOUBLE) - CAST(n_pos AS DOUBLE) * (n_pos + 1) / 2)
             / (CAST(n_pos AS DOUBLE) * n_neg) * 1000000 + 0.5) / 1000000
         AS auc
FROM agg
"""


@query("q158_auc_nb_scores", oracle=_Q158_ORACLE)
def q158_auc_nb_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    scores = _nb_scores(spark, sf_dir)
    rk = with_global_rank(scores, ["score", "doc_id"], "r")
    agg = rk.agg(
        F.sum(F.when(F.col("y") == 1, F.col("r")).otherwise(0))
        .cast("long").alias("s_pos"),
        F.sum("y").cast("long").alias("n_pos"),
        F.sum(1 - F.col("y")).cast("long").alias("n_neg"),
    )
    auc = (
        F.floor(
            (
                F.col("s_pos").cast("double")
                - F.col("n_pos").cast("double") * (F.col("n_pos") + 1) / 2
            )
            / (F.col("n_pos").cast("double") * F.col("n_neg"))
            * 1000000
            + 0.5
        )
        / 1000000
    )
    return agg.select("n_pos", "n_neg", auc.alias("auc"))


# ---------------------------------------------------------------------------
# Q159 — binned (mergeable) AUC vs the exact rank form
# ---------------------------------------------------------------------------
#
# q158's exact AUC needs a global rank; the STREAMING/mergeable form
# bins each class's scores into fixed buckets and estimates AUC as the
# midpoint (trapezoidal) probability that a random positive outranks a
# random negative:
#
#   AUC_hat = sum_b pos_b * (cum_neg_below_b + neg_b / 2) / (P * N)
#
# Per-class bin counts are SUM-mergeable across shards/epochs — W29
# (streaming/model_monitor.py) folds exactly this state per micro-batch.
# The report carries the exact q158 value and the binning error, making
# the approximation measurable (the q135 sketch-vs-exact pattern).
#
# Bins are fixed from the score min/max (1-row broadcast); cumulative
# neg counts ride a tiny broadcast non-equi self-join over the <=
# AUC_BINS-row histogram — no windows anywhere.

AUC_BINS = 128

_Q159_ORACLE = f"""
WITH {{scores}},
mm AS (SELECT MIN(score) AS lo, MAX(score) AS hi FROM scores),
b AS (
  SELECT y,
         LEAST(CAST(FLOOR((score - lo) / (hi - lo) * {AUC_BINS}) AS BIGINT),
               {AUC_BINS - 1}) AS bkt
  FROM scores CROSS JOIN mm
),
h AS (
  SELECT bkt,
         CAST(SUM(y) AS BIGINT) AS pos_b,
         CAST(SUM(1 - y) AS BIGINT) AS neg_b
  FROM b GROUP BY bkt
),
c AS (
  SELECT a.bkt, a.pos_b, a.neg_b,
         CAST(COALESCE(SUM(CASE WHEN o.bkt < a.bkt THEN o.neg_b END), 0)
              AS BIGINT) AS neg_below
  FROM h a LEFT JOIN h o ON o.bkt <= a.bkt
  GROUP BY a.bkt, a.pos_b, a.neg_b
),
tt AS (
  SELECT CAST(SUM(pos_b) AS BIGINT) AS p, CAST(SUM(neg_b) AS BIGINT) AS n
  FROM h
),
est AS (
  SELECT FLOOR(SUM(c.pos_b * (c.neg_below + c.neg_b / 2.0))
               / (CAST(tt.p AS DOUBLE) * tt.n) * 1000000 + 0.5) / 1000000
           AS auc_binned
  FROM c CROSS JOIN tt GROUP BY tt.p, tt.n
),
rke AS (
  SELECT y, ROW_NUMBER() OVER (ORDER BY score, doc_id) AS r FROM scores
),
exact AS (
  SELECT FLOOR((CAST(SUM(CASE WHEN y = 1 THEN r ELSE 0 END) AS DOUBLE)
                - CAST(SUM(y) AS DOUBLE) * (SUM(y) + 1) / 2)
               / (CAST(SUM(y) AS DOUBLE) * SUM(1 - y)) * 1000000 + 0.5)
         / 1000000 AS auc_exact
  FROM rke
)
SELECT CAST({AUC_BINS} AS BIGINT) AS n_bins, e.auc_binned, x.auc_exact,
       FLOOR(ABS(e.auc_binned - x.auc_exact) * 1000000 + 0.5) / 1000000
         AS abs_err
FROM est e CROSS JOIN exact x
"""


def class_histogram(scores: DataFrame, lo_hi: DataFrame) -> DataFrame:
    """(bkt, pos_b, neg_b) fixed-bin class histogram — the mergeable
    state W29 folds per epoch."""
    return (
        scores.crossJoin(F.broadcast(lo_hi))
        .select(
            "y",
            F.least(
                F.floor(
                    (F.col("score") - F.col("lo"))
                    / (F.col("hi") - F.col("lo"))
                    * AUC_BINS
                ).cast("long"),
                F.lit(AUC_BINS - 1).cast("long"),
            ).alias("bkt"),
        )
        .groupBy("bkt")
        .agg(
            F.sum("y").cast("long").alias("pos_b"),
            F.sum(1 - F.col("y")).cast("long").alias("neg_b"),
        )
    )


def auc_from_histogram(h: DataFrame) -> DataFrame:
    """1-row (p, n, auc_binned) from a class histogram — window-free
    cumulative via broadcast self-join (<= AUC_BINS rows)."""
    o = h.select(
        F.col("bkt").alias("obkt"), F.col("neg_b").alias("oneg")
    )
    c = (
        h.join(F.broadcast(o), F.col("obkt") < F.col("bkt"), "left")
        .groupBy("bkt", "pos_b", "neg_b")
        .agg(F.coalesce(F.sum("oneg"), F.lit(0)).alias("neg_below"))
    )
    tot = h.agg(
        F.sum("pos_b").cast("long").alias("p"),
        F.sum("neg_b").cast("long").alias("n"),
    )
    return (
        c.crossJoin(F.broadcast(tot))
        .agg(
            F.max("p").alias("p"),
            F.max("n").alias("n"),
            (
                F.floor(
                    F.sum(
                        F.col("pos_b")
                        * (F.col("neg_below") + F.col("neg_b") / 2.0)
                    )
                    / (F.max("p").cast("double") * F.max("n"))
                    * 1000000
                    + 0.5
                )
                / 1000000
            ).alias("auc_binned"),
        )
    )


@query(
    "q159_binned_auc",
    oracle=_Q159_ORACLE.format(scores=_nb_scores_sql()),
)
def q159_binned_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    scores = _nb_scores(spark, sf_dir)
    mm = scores.agg(F.min("score").alias("lo"), F.max("score").alias("hi"))
    # localCheckpoint the <=AUC_BINS-row histogram: auc_from_histogram
    # references its input three times (cumulative join, totals, final
    # agg), and each reference re-executed the bin+min/max pipeline over
    # the scored corpus — pure scheduler cost on a tiny frame (the q170
    # lesson; round-6 verdict #4 measured 62 exchanges here).
    from kinesyslog_spark.tables import artifact

    h = artifact(spark, sf_dir, "q159_histogram",
                 lambda keep: keep.checkpoint(class_histogram(scores, mm)))
    est = auc_from_histogram(h)
    exact = q158_auc_nb_scores(spark, sf_dir).select(
        F.col("auc").alias("auc_exact")
    )
    return (
        est.crossJoin(F.broadcast(exact))
        .select(
            F.lit(AUC_BINS).cast("long").alias("n_bins"),
            "auc_binned",
            "auc_exact",
            (
                F.floor(
                    F.abs(F.col("auc_binned") - F.col("auc_exact")) * 1000000
                    + 0.5
                )
                / 1000000
            ).alias("abs_err"),
        )
    )
