r"""Text-analysis operators over `documents` (north star): n-gram
language identification and winnowing document fingerprints.

Companions: token stats q33, quality score q31 (queries/llm.py),
top-tokens q22 (queries/strings_json.py).

Scale notes:
- q30 trains the per-language trigram profiles from the corpus itself in
  two aggregations (explode -> count -> top-N window). The profile table
  is tiny (langs x 20 rows) and is broadcast into the scoring join, so
  the corpus is shuffled once (the explode's groupBy) and the scoring
  pass is map-side.
- q32 is per-row array arithmetic — no shuffle at all. Fingerprints are
  md5 hex strings (cross-engine deterministic, SURVEY §2b rules).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from kinesyslog_spark.operators.text import char_grams, winnow_fingerprints
from kinesyslog_spark.queries import query
from kinesyslog_spark.tables import artifact, hot_table

PROFILE_TOP_N = 20
TRIGRAM_N = 3
WINNOW_K = 8
WINNOW_W = 4


# ---------------------------------------------------------------------------
# Q30 — language ID: per-lang character-trigram profile, overlap scoring
# ---------------------------------------------------------------------------

def _q30_oracle() -> str:
    return f"""
    WITH d AS (
      SELECT doc_id, lang,
             list_distinct(list_transform(range(1, length(lower(text)) - {TRIGRAM_N - 2}),
                 i -> lower(text)[i:i+{TRIGRAM_N - 1}])) AS tg
      FROM documents WHERE length(text) >= {TRIGRAM_N}
    ), dt AS (
      SELECT doc_id, lang, unnest(tg) AS g FROM d
    ), prof AS (
      SELECT lang AS plang, g FROM (
        SELECT lang, g, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY count(*) DESC, g) AS rn
        FROM dt GROUP BY lang, g
      ) WHERE rn <= {PROFILE_TOP_N}
    ), scores AS (
      SELECT dt.doc_id, prof.plang, count(*) AS score
      FROM dt JOIN prof ON dt.g = prof.g
      GROUP BY dt.doc_id, prof.plang
    ), best AS (
      SELECT doc_id, plang, score FROM (
        SELECT doc_id, plang, score,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, plang) AS rn
        FROM scores
      ) WHERE rn = 1
    )
    SELECT d.doc_id, d.lang AS true_lang,
           coalesce(b.plang, 'und') AS pred_lang,
           coalesce(b.score, 0) AS n_hits
    FROM d LEFT JOIN best b ON d.doc_id = b.doc_id
    ORDER BY d.doc_id
    """


@query("q30_language_id", oracle=_q30_oracle())
def q30_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = hot_table(spark, sf_dir, "documents").filter(F.length("text") >= TRIGRAM_N)
    d = docs.select(
        "doc_id", "lang", char_grams(F.lower(F.col("text")), TRIGRAM_N).alias("tg")
    )
    # Materialized: the exploded trigram stream feeds profile building AND
    # per-doc scoring; recomputing it doubles the interpreted HOF cost.
    dt = artifact(
        spark, sf_dir, "q30_trigrams",
        lambda keep: d.select("doc_id", "lang", F.explode("tg").alias("g")),
    )

    prof = (
        dt.groupBy("lang", "g")
        .agg(F.count("*").alias("cnt"))
        .withColumn(
            "rn",
            F.row_number().over(W.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("g"))),
        )
        .filter(F.col("rn") <= PROFILE_TOP_N)
        .select(F.col("lang").alias("plang"), "g")
    )

    scores = (
        dt.join(F.broadcast(prof), "g")
        .groupBy("doc_id", "plang")
        .agg(F.count("*").alias("score"))
    )
    # Per-doc argmax as a hash aggregate, not a ranking window: min over
    # struct(-score, plang) is lexicographically "highest score, then
    # first language" — same rn=1 semantics, but HashAggregate with
    # map-side partial combine instead of a shuffle + per-partition sort.
    best = (
        scores.groupBy("doc_id")
        .agg(
            F.min(
                F.struct((-F.col("score")).alias("ns"), F.col("plang").alias("plang"))
            ).alias("m")
        )
        .select("doc_id", F.col("m.plang").alias("plang"), (-F.col("m.ns")).alias("score"))
    )
    return (
        d.select("doc_id", F.col("lang").alias("true_lang"))
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            "true_lang",
            F.coalesce(F.col("plang"), F.lit("und")).alias("pred_lang"),
            F.coalesce(F.col("score"), F.lit(0)).cast("long").alias("n_hits"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Q32 — winnowing fingerprints (Schleimer et al. 2003, the MOSS scheme)
# ---------------------------------------------------------------------------

def _q32_oracle() -> str:
    min_len = WINNOW_K + WINNOW_W - 1
    return f"""
    WITH g AS (
      SELECT doc_id,
             list_transform(range(1, length(text) - {WINNOW_K - 2}),
                 i -> md5(text[i:i+{WINNOW_K - 1}])) AS hs
      FROM documents WHERE length(text) >= {min_len}
    ), sel AS (
      SELECT doc_id, len(hs) AS n_grams,
             list_distinct(list_transform(range(1, len(hs) - {WINNOW_W - 2}),
                 i -> list_min(hs[i:i+{WINNOW_W - 1}]))) AS fps
      FROM g
    )
    SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
           CAST(len(fps) AS BIGINT) AS n_fps,
           list_min(fps) AS min_fp, list_max(fps) AS max_fp
    FROM sel ORDER BY doc_id
    """


@query("q32_fingerprint_winnow", oracle=_q32_oracle())
def q32_fingerprint_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    min_len = WINNOW_K + WINNOW_W - 1
    docs = hot_table(spark, sf_dir, "documents").filter(F.length("text") >= min_len)
    sel = docs.select(
        "doc_id",
        (F.length("text") - (WINNOW_K - 1)).cast("long").alias("n_grams"),
        winnow_fingerprints(F.col("text"), WINNOW_K, WINNOW_W).alias("fps"),
    )
    return sel.select(
        "doc_id",
        "n_grams",
        F.size("fps").cast("long").alias("n_fps"),
        F.array_min("fps").alias("min_fp"),
        F.array_max("fps").alias("max_fp"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Q45 — TF-IDF top terms per document (smooth idf, scikit-style)
# ---------------------------------------------------------------------------
# score(t, d) = tf(t, d) * (ln((N + 1) / (df(t) + 1)) + 1). Ranking uses
# the ROUNDED score so the cross-engine comparison (and the row_number
# tie-break on term) is insensitive to last-ulp libm differences.
#
# Scale notes: one shuffle builds (doc_id, term, tf) with map-side
# combine; the document-frequency table is vocabulary-sized and
# broadcasts into the scoring join (at web-corpus vocabularies, swap for
# a shuffle join on term — same plan otherwise). The per-doc top-k is a
# ranking window partitioned by doc_id — no global sort.

TFIDF_TOP_K = 3


def _q45_oracle() -> str:
    from kinesyslog_spark.operators.text import TOKEN_RE

    return f"""
    WITH tk AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM tk GROUP BY doc_id, term
    ), df AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), n AS (
      SELECT COUNT(DISTINCT doc_id) AS n FROM tf
    ), scored AS (
      SELECT tf.doc_id, tf.term, tf.tf,
             ROUND(tf.tf * (ln((n.n + 1) / CAST(df.df + 1 AS DOUBLE)) + 1), 4) AS score
      FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
    )
    SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, score FROM (
      SELECT doc_id, term, tf, score,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rn
      FROM scored
    ) WHERE rn <= {TFIDF_TOP_K}
    ORDER BY doc_id, term
    """


@query("q45_tfidf_top_terms", oracle=_q45_oracle())
def q45_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesyslog_spark.tables import hot_postings

    # the per-(doc, term) counts ARE the postings artifact (it feeds
    # df-counts, N, and the scoring join)
    tf = hot_postings(spark, sf_dir).select(
        "doc_id", F.col("token").alias("term"), "tf"
    )
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = tf.select(F.countDistinct("doc_id").alias("n"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            F.round(
                F.col("tf")
                * (F.log((F.col("n") + 1) / (F.col("df") + 1).cast("double")) + 1),
                4,
            ).alias("score"),
        )
    )
    return (
        scored.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
            ),
        )
        .filter(F.col("rn") <= TFIDF_TOP_K)
        .select("doc_id", "term", F.col("tf").cast("long").alias("tf"), "score")
        .orderBy("doc_id", "term")
    )
