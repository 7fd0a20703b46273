"""Corpus retrieval + information-theoretic quality scoring (round 2).

q68 — BM25 top-k retrieval (Robertson/Spärck Jones; the lexical-search
baseline every corpus pipeline keeps next to its ANN index). A fixed
multi-term query is scored against every document with BM25
(k1=1.2, b=0.75); top-20 docs by score.

q69 — token-entropy quality filter (Shannon entropy of the per-document
unigram distribution). Degenerate documents — one token repeated, tiny
vocabularies — score low and are dropped; used alongside the Gopher
repetition rules (q43) and the unigram-LM score (q55).

Cross-engine float determinism (the q55 pattern): every per-(doc,term)
float contribution is ROUND(x, 6) and cast to DECIMAL(18,6) BEFORE the
per-document sum, so the only float ops both engines must agree on are
per-distinct-term math on identical inputs; the aggregation itself is
exact decimal arithmetic, immune to summation order.

Scale notes (100 TB posture):
- q68: document frequencies + idf form a vocabulary-sized table (Heaps'
  law: orders of magnitude smaller than the corpus) broadcast into a
  map-side scoring join; per-doc aggregation combines map-side on
  doc_id; the only full shuffle is the final top-k (TakeOrderedAndProject,
  per-partition top-k then a 20-row merge at the driver).
- q69: per-(doc,token) counts aggregate with map-side combine on a key
  the tokenizer already co-locates; everything else is map-only.

Reference parity: north-star extensions; no reference analog (the
reference relay has no corpus surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesyslog_spark.operators.text import TOKEN_RE
from kinesyslog_spark.queries import query
from kinesyslog_spark.tables import artifact, hot_postings

# BM25 parameters (the standard Robertson defaults).
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 20
# Fixed query terms: frequent corpus words, so every SF returns a full
# top-k (no rand/current-time per the determinism contract).
BM25_QUERY = ("spark", "join", "window", "vector")

ENTROPY_MIN_BITS = 3.0  # keep docs whose unigram entropy >= 3 bits


# ---------------------------------------------------------------------------
# Q68 — BM25 top-k retrieval
# ---------------------------------------------------------------------------

def _q68_oracle() -> str:
    terms = ", ".join(f"'{t}'" for t in BM25_QUERY)
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS token
      FROM documents
    ), dl AS (
      SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id
    ), stats AS (
      SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl
    ), tf AS (
      SELECT doc_id, token, COUNT(*) AS tf FROM tok
      WHERE token IN ({terms}) GROUP BY doc_id, token
    ), df AS (
      SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok
      WHERE token IN ({terms}) GROUP BY token
    ), idf AS (
      SELECT token,
             CAST(ROUND(LN((((SELECT n_docs FROM stats) - df + 0.5) / (df + 0.5)) + 1.0), 6)
                  AS DECIMAL(12,6)) AS idf
      FROM df
    ), contrib AS (
      SELECT tf.doc_id,
             CAST(ROUND(
               CAST(idf.idf AS DOUBLE) * tf.tf * ({BM25_K1} + 1.0)
               / (tf.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl.dl / (SELECT avgdl FROM stats))),
               6) AS DECIMAL(18,6)) AS c
      FROM tf JOIN dl ON tf.doc_id = dl.doc_id
              JOIN idf ON tf.token = idf.token
    )
    SELECT doc_id, CAST(ROUND(SUM(c), 4) AS DOUBLE) AS bm25
    FROM contrib
    GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id
    LIMIT {BM25_TOPK}
    """


@query("q68_bm25_topk", oracle=_q68_oracle())
def q68_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The (doc_id, token, tf) postings artifact replaces the per-query
    # token-stream explode: doc length == SUM(tf), term frequency is a
    # filter on the already-aggregated rows, and document frequency is
    # COUNT(*) per token (postings hold one row per (doc, token)).
    post = hot_postings(spark, sf_dir)
    dl = artifact(spark, sf_dir, "q68_doc_lengths",
                  lambda keep: post.groupBy("doc_id").agg(F.sum("tf").alias("dl")))
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = post.filter(F.col("token").isin(*BM25_QUERY))
    idf = (
        tf.groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(stats.select("n_docs")))
        .select(
            "token",
            F.round(
                F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0),
                6,
            ).cast("decimal(12,6)").alias("idf"),
        )
    )
    # idf and the corpus stats are vocabulary/scalar-sized: broadcast both
    # into a map-side scoring join; dl joins on the doc_id key tf already
    # carries.
    contrib = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(idf), "token")
        .crossJoin(F.broadcast(stats.select("avgdl")))
        .select(
            "doc_id",
            F.round(
                F.col("idf").cast("double") * F.col("tf") * (BM25_K1 + 1.0)
                / (
                    F.col("tf")
                    + BM25_K1
                    * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
                ),
                6,
            ).cast("decimal(18,6)").alias("c"),
        )
    )
    # Round the EXACT decimal sum, then cast — rounding after a cast to
    # double is engine-divergent (Spark's round(double) goes through the
    # shortest-decimal repr, DuckDB rounds the binary value).
    return (
        contrib.groupBy("doc_id")
        .agg(F.round(F.sum("c"), 4).cast("double").alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(BM25_TOPK)
    )


# ---------------------------------------------------------------------------
# Q69 — unigram-entropy quality filter
# ---------------------------------------------------------------------------

def _q69_oracle() -> str:
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS token
      FROM documents
    ), cnt AS (
      SELECT doc_id, token, COUNT(*) AS c FROM tok GROUP BY doc_id, token
    ), dl AS (
      SELECT doc_id, SUM(c) AS dl, COUNT(*) AS n_distinct FROM cnt GROUP BY doc_id
    ), contrib AS (
      SELECT cnt.doc_id,
             CAST(ROUND(-(cnt.c / CAST(dl.dl AS DOUBLE))
                        * LOG2(cnt.c / CAST(dl.dl AS DOUBLE)), 6)
                  AS DECIMAL(18,6)) AS h
      FROM cnt JOIN dl ON cnt.doc_id = dl.doc_id
    )
    SELECT dl.doc_id, CAST(dl.dl AS BIGINT) AS n_tokens, dl.n_distinct,
           CAST(ROUND(SUM(contrib.h), 4) AS DOUBLE) AS entropy_bits,
           CAST(CASE WHEN SUM(contrib.h) >= {ENTROPY_MIN_BITS}
                THEN 1 ELSE 0 END AS INT) AS keep
    FROM dl JOIN contrib ON dl.doc_id = contrib.doc_id
    GROUP BY dl.doc_id, dl.dl, dl.n_distinct
    ORDER BY dl.doc_id
    """


@query("q69_entropy_filter", oracle=_q69_oracle())
def q69_entropy_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-(doc, token) counts ARE the postings artifact — no per-query
    # token-stream pass.
    cnt = hot_postings(spark, sf_dir).select(
        "doc_id", "token", F.col("tf").alias("c")
    )
    dl = cnt.groupBy("doc_id").agg(
        F.sum("c").alias("dl"), F.count("*").alias("n_distinct")
    )
    p = F.col("c") / F.col("dl").cast("double")
    contrib = cnt.join(dl, "doc_id").select(
        "doc_id",
        F.round(-p * F.log2(p), 6).cast("decimal(18,6)").alias("h"),
    )
    # Round/compare on the EXACT decimal sum (see q68 note): the double
    # cast happens only on the already-rounded output.
    ent = F.sum("h")
    return (
        contrib.join(dl, "doc_id")
        .groupBy("doc_id", "dl", "n_distinct")
        .agg(
            F.round(ent, 4).cast("double").alias("entropy_bits"),
            F.when(ent >= ENTROPY_MIN_BITS, 1).otherwise(0).cast("int").alias("keep"),
        )
        .select(
            "doc_id",
            F.col("dl").alias("n_tokens"),
            "n_distinct",
            "entropy_bits",
            "keep",
        )
        .orderBy("doc_id")
    )
