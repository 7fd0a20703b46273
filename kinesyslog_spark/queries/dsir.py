"""Data-selection operators for LLM corpus curation: DSIR-style hashed
n-gram importance weights (q103) and train/test n-gram novelty — the
memorization-overlap measurement (q104).

q103 follows the shape of Data Selection via Importance Resampling (Xie
et al., 2023): featurize every document as hashed uni+bigram counts,
fit add-k-smoothed bag-of-buckets models for a *target* distribution
(here: lang='en' documents) and the *background* (everything else), and
score each document by the mean per-feature log likelihood ratio.
Selecting by this weight tilts a raw corpus toward the target domain —
the standard pretraining-mixture curation step.

q104 answers "how much of an evaluation/test document is already present
verbatim in the training corpus": split by doc_id hash, build the
distinct word-3-gram set of the train side, and report the fraction of
each test document's 3-grams that collide — the n-gram-novelty /
contamination signal of Lee et al.'s dedup analyses.

Determinism: per-bucket log-ratios are rounded to DECIMAL(12,6) before
the per-doc decimal sum (q95 pattern — no float-sum-order divergence);
final means floor-quantized to 4 dp on both engines; integer ratios
cross-multiplied where exactness matters (q104 uses exact counts).

Scale notes (100 TB posture):
- q103: the feature->bucket map is a pure map-side expression; bucket
  counts aggregate to exactly 2*B rows (B=512) which BROADCAST back into
  a map-only per-doc scoring join — the corpus is never reshuffled. This
  is precisely DSIR's own design point (hashing makes the model O(B),
  not O(vocab)).
- q104: the train gram set is corpus-sized, so the novelty join shuffles
  BOTH sides on the gram key (no broadcast) — one co-partitioned hash
  join; per-doc aggregation rides the doc_id shuffle. At 100 TB the gram
  table would be bucketed by gram (sinks/bucketed.py) to make the join
  zero-shuffle on the train side.

Reference parity: north-star extension (no reference analog).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesyslog_spark.operators.text import TOKEN_RE, md5_int60, word_shingles
from kinesyslog_spark.queries import query
from kinesyslog_spark.tables import artifact, hot_table, hot_tokens

DSIR_B = 512  # hashed feature buckets
DSIR_K = 0.5  # add-k smoothing
DSIR_TARGET_LANG = "en"

NOVELTY_N = 3  # word n-gram order for q104
NOVELTY_TEST_MOD = 10  # doc_id % 10 == 0 -> test split


def _feats_sql() -> str:
    """Uni+bigram features with multiplicity, DuckDB side."""
    return f"""
    tk AS (
      SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks
      FROM documents
    ), uni AS (
      SELECT doc_id, unnest(toks) AS f FROM tk
    ), bi AS (
      SELECT doc_id, toks[i] || ' ' || toks[i+1] AS f
      FROM tk, UNNEST(range(1, len(toks))) t(i)
      WHERE len(toks) >= 2
    ), fb AS (
      SELECT doc_id,
             CAST('0x' || substring(md5(f), 1, 15) AS BIGINT) % {DSIR_B} AS bucket
      FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
    )"""


def _q103_oracle() -> str:
    return f"""
    WITH {_feats_sql()}, d AS (
      SELECT doc_id, lang FROM documents
    ), cnt AS (
      SELECT bucket,
             SUM(CASE WHEN d.lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END) AS ct,
             SUM(CASE WHEN d.lang = '{DSIR_TARGET_LANG}' THEN 0 ELSE 1 END) AS cb
      FROM fb JOIN d USING (doc_id) GROUP BY bucket
    ), tot AS (
      SELECT CAST(SUM(ct) AS DOUBLE) AS t_all, CAST(SUM(cb) AS DOUBLE) AS b_all
      FROM cnt
    ), lam AS (
      SELECT bucket,
             CAST(ROUND(LOG10(
               ((ct + {DSIR_K}) / (t_all + {DSIR_K} * {DSIR_B}))
               / ((cb + {DSIR_K}) / (b_all + {DSIR_K} * {DSIR_B}))), 6)
               AS DECIMAL(12,6)) AS lam
      FROM cnt, tot
    )
    SELECT fb.doc_id, d.lang, COUNT(*) AS n_feats,
           FLOOR(CAST(SUM(l.lam) AS DOUBLE) / COUNT(*) * 10000 + 0.5) / 10000
             AS dsir_weight
    FROM fb JOIN lam l USING (bucket) JOIN d USING (doc_id)
    GROUP BY fb.doc_id, d.lang
    ORDER BY doc_id
    """


def doc_feature_buckets(toks_df: DataFrame) -> DataFrame:
    """(doc_id, toks) -> (doc_id, bucket): hashed uni+bigram features with
    multiplicity — the DSIR featurizer (map-only at any scale)."""
    uni = toks_df.select("doc_id", F.explode("toks").alias("f"))
    bi = (
        toks_df.filter(F.size("toks") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(toks) - 2),"
                    " i -> concat(toks[i], ' ', toks[i+1]))"
                )
            ).alias("f"),
        )
    )
    return uni.unionAll(bi).select(
        "doc_id", (md5_int60(F.col("f")) % DSIR_B).alias("bucket")
    )


def build_dsir_model(feats_with_flag: DataFrame) -> DataFrame:
    """(bucket, is_target) occurrences -> (bucket, lam) log-likelihood-
    ratio model, exactly 2*DSIR_B aggregate rows — the broadcastable
    static artifact. `feats_with_flag` needs columns (bucket, is_target)."""
    cnt = feats_with_flag.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_target"), 1).otherwise(0)).alias("ct"),
        F.sum(F.when(F.col("is_target"), 0).otherwise(1)).alias("cb"),
    )
    tot = cnt.agg(
        F.sum("ct").cast("double").alias("t_all"),
        F.sum("cb").cast("double").alias("b_all"),
    )
    return (
        cnt.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            F.round(
                F.log10(
                    ((F.col("ct") + DSIR_K) / (F.col("t_all") + DSIR_K * DSIR_B))
                    / ((F.col("cb") + DSIR_K) / (F.col("b_all") + DSIR_K * DSIR_B))
                ),
                6,
            ).cast("decimal(12,6)").alias("lam"),
        )
    )


def score_feature_buckets(
    feats: DataFrame, lam: DataFrame, carry: list[str] | None = None
) -> DataFrame:
    """(doc_id, bucket, *carry) x broadcast (bucket, lam) -> per-doc mean
    weight. Map-only join + one doc_id aggregate; the corpus never
    reshuffles (carry columns ride the groupBy instead of a second
    corpus-sized join)."""
    mean = F.sum("lam").cast("double") / F.count("*")
    return (
        feats.join(F.broadcast(lam), "bucket")
        .groupBy("doc_id", *(carry or []))
        .agg(
            F.count("*").alias("n_feats"),
            (F.floor(mean * 10000 + F.lit(0.5)) / 10000).alias("dsir_weight"),
        )
    )


@query("q103_dsir_weights", oracle=_q103_oracle())
def q103_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = hot_tokens(spark, sf_dir)
    docs = hot_table(spark, sf_dir, "documents").select("doc_id", "lang")
    fb = artifact(spark, sf_dir, "q103_feature_buckets",
                  lambda keep: doc_feature_buckets(toks).join(docs, "doc_id"))
    lam = build_dsir_model(
        fb.select("bucket", (F.col("lang") == DSIR_TARGET_LANG).alias("is_target"))
    )
    return (
        score_feature_buckets(fb, lam, carry=["lang"])
        .select("doc_id", "lang", "n_feats", "dsir_weight")
        .orderBy("doc_id")
    )


def _q104_oracle() -> str:
    return f"""
    WITH tk AS (
      SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks
      FROM documents
    ), grams AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(toks) - {NOVELTY_N - 2}),
               i -> array_to_string(toks[i:i+{NOVELTY_N - 1}], ' '))) AS gs
      FROM tk WHERE len(toks) >= {NOVELTY_N}
    ), train AS (
      SELECT DISTINCT unnest(gs) AS g FROM grams
      WHERE doc_id % {NOVELTY_TEST_MOD} <> 0
    ), test AS (
      SELECT doc_id, unnest(gs) AS g FROM grams
      WHERE doc_id % {NOVELTY_TEST_MOD} = 0
    )
    SELECT t.doc_id,
           COUNT(*) AS n_grams,
           CAST(SUM(CASE WHEN tr.g IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_seen,
           FLOOR(CAST(SUM(CASE WHEN tr.g IS NULL THEN 0 ELSE 1 END) AS DOUBLE)
                 / COUNT(*) * 10000 + 0.5) / 10000 AS seen_frac
    FROM test t LEFT JOIN train tr ON t.g = tr.g
    GROUP BY t.doc_id
    ORDER BY doc_id
    """


@query("q104_ngram_novelty", oracle=_q104_oracle())
def q104_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = hot_tokens(spark, sf_dir)
    grams = artifact(
        spark, sf_dir, "q104_grams",
        lambda keep: toks.filter(F.size("toks") >= NOVELTY_N)
        .select(
            "doc_id",
            F.explode(word_shingles(F.col("toks"), NOVELTY_N)).alias("g"),
        ),
    )
    train = (
        grams.filter(F.col("doc_id") % NOVELTY_TEST_MOD != 0)
        .select("g")
        .distinct()
        .withColumn("seen", F.lit(1))
    )
    test = grams.filter(F.col("doc_id") % NOVELTY_TEST_MOD == 0)
    return (
        test.join(train, "g", "left_outer")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.coalesce(F.col("seen"), F.lit(0))).alias("n_seen"),
            (
                F.floor(
                    F.sum(F.coalesce(F.col("seen"), F.lit(0))).cast("double")
                    / F.count("*")
                    * 10000
                    + F.lit(0.5)
                )
                / 10000
            ).alias("seen_frac"),
        )
        .orderBy("doc_id")
    )
