r"""LLM-data-pipeline queries (north star): dedup, similarity search,
text analysis over `documents` / `embeddings` (SURVEY.md §2b Q20-Q22 + the
extended inventory).

Scale notes (the 100 TB posture):
- q21 broadcasts the probe set and computes cosine entirely with JVM array
  expressions (zip_with + aggregate) — per-row work, no shuffle until the
  per-probe top-k; at 1000 executors this is embarrassingly parallel.
- q20 dedup shuffles once on the dedup key; for near-dup at scale see
  operators/dedup.py (MinHash LSH: the shuffle key is the band bucket,
  never the full cross product).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from kinesyslog_spark.operators.topk import topk_per_key
from kinesyslog_spark.queries import query
from kinesyslog_spark.tables import hot_table, hot_vectors

EMB_DIM = 64
N_PROBES = 10
TOP_K = 5


# ---------------------------------------------------------------------------
# Q20 — exact dedup (hash-groupBy; keep min doc_id per text)
# ---------------------------------------------------------------------------

@query(
    "q20_dedup_exact",
    oracle="""
    SELECT doc_id, lang, source FROM (
      SELECT doc_id, lang, source,
             ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
      FROM documents
    ) WHERE rn = 1
    ORDER BY doc_id
    """,
)
def q20_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = hot_table(spark, sf_dir, "documents")
    w = W.partitionBy("text").orderBy("doc_id")
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Q21 — brute-force cosine top-k (similarity-search baseline)
# ---------------------------------------------------------------------------

@query(
    "q21_cosine_topk",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
    ), p AS (
      SELECT vec_id AS pid, emb AS pemb FROM e WHERE vec_id < {N_PROBES}
    ), pairs AS (
      SELECT p.pid, e.vec_id,
        list_sum(list_transform(range(1, {EMB_DIM + 1}), i -> p.pemb[i] * e.emb[i]))
          / (sqrt(list_sum(list_transform(range(1, {EMB_DIM + 1}), i -> p.pemb[i] * p.pemb[i])))
             * sqrt(list_sum(list_transform(range(1, {EMB_DIM + 1}), i -> e.emb[i] * e.emb[i])))) AS cos
      FROM p CROSS JOIN e
      WHERE p.pid <> e.vec_id
    )
    SELECT pid, vec_id, sim, rn FROM (
      SELECT pid, vec_id, ROUND(cos, 4) AS sim,
             ROW_NUMBER() OVER (PARTITION BY pid ORDER BY ROUND(cos, 4) DESC, vec_id) AS rn
      FROM pairs
    ) WHERE rn <= {TOP_K}
    ORDER BY pid, rn
    """,
)
def q21_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = hot_vectors(spark, sf_dir)
    probes = (
        emb.filter(F.col("vec_id") < N_PROBES)
        .select(
            F.col("vec_id").alias("pid"),
            F.col("emb").alias("pemb"),
            F.col("nrm").alias("pnorm"),
        )
    )
    base = emb.select("vec_id", "emb", F.col("nrm").alias("enorm"))
    dot = F.aggregate(
        F.zip_with("pemb", "emb", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pairs = (
        base.crossJoin(F.broadcast(probes))
        .filter(F.col("pid") != F.col("vec_id"))
        .select(
            "pid",
            "vec_id",
            F.round(dot / (F.col("pnorm") * F.col("enorm")), 4).alias("sim"),
        )
    )
    # Ranked via operators/topk.py — Spark 4's WindowGroupLimit makes
    # the plain window two-phase (per-partition top-k before the
    # exchange), so only O(k * partitions * probes) rows shuffle.
    return (
        topk_per_key(pairs, "pid", [F.desc("sim"), F.asc("vec_id")], TOP_K)
        .withColumn("rn", F.col("rn").cast("long"))
        .orderBy("pid", "rn")
    )


# ---------------------------------------------------------------------------
# Q31 — document quality scoring (length / punctuation / stopword /
# digit-ratio heuristics — the text-quality filter of a training pipeline)
# ---------------------------------------------------------------------------

_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

@query(
    "q31_quality_score",
    oracle=rf"""
    WITH feats AS (
      SELECT doc_id,
        CAST(length(text) AS BIGINT) AS n_chars_actual,
        CAST(length(regexp_extract_all(text, '[[:punct:]]')) AS BIGINT) AS n_punct,
        CAST(length(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digits,
        CAST(length(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        CAST(length(list_filter(string_split_regex(lower(trim(text)), '\s+'),
             t -> list_contains({list(_STOPWORDS)!r}, t))) AS BIGINT) AS n_stop
      FROM documents
    )
    SELECT doc_id, n_chars_actual, n_punct, n_digits, n_tokens, n_stop,
      ROUND(n_stop / CAST(n_tokens AS DOUBLE), 4) AS stopword_ratio,
      ROUND(n_punct / CAST(n_chars_actual AS DOUBLE), 4) AS punct_ratio,
      ROUND(
        0.4 * least(n_tokens / 100.0, 1.0)
        + 0.4 * least(n_stop / CAST(n_tokens AS DOUBLE) * 5.0, 1.0)
        + 0.2 * (1.0 - least(n_digits / CAST(n_chars_actual AS DOUBLE) * 10.0, 1.0)),
        4) AS quality
    FROM feats
    ORDER BY doc_id
    """,
)
def q31_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = hot_table(spark, sf_dir, "documents")
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    feats = docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_actual"),
        F.size(F.regexp_extract_all("text", F.lit(r"[\p{Punct}]"), 0)).cast("long").alias("n_punct"),
        F.size(F.regexp_extract_all("text", F.lit("[0-9]"), 0)).cast("long").alias("n_digits"),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n_tokens"),
        F.size(
            F.filter(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                lambda t: F.array_contains(stop_arr, t),
            )
        ).cast("long").alias("n_stop"),
    )
    n_tok_d = F.col("n_tokens").cast("double")
    n_chr_d = F.col("n_chars_actual").cast("double")
    return feats.select(
        "doc_id", "n_chars_actual", "n_punct", "n_digits", "n_tokens", "n_stop",
        F.round(F.col("n_stop") / n_tok_d, 4).alias("stopword_ratio"),
        F.round(F.col("n_punct") / n_chr_d, 4).alias("punct_ratio"),
        F.round(
            0.4 * F.least(F.col("n_tokens") / 100.0, F.lit(1.0))
            + 0.4 * F.least(F.col("n_stop") / n_tok_d * 5.0, F.lit(1.0))
            + 0.2 * (1.0 - F.least(F.col("n_digits") / n_chr_d * 10.0, F.lit(1.0))),
            4,
        ).alias("quality"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Q33 — per-document token statistics (token counting: whitespace + a
# BPE-ish word/number regex)
# ---------------------------------------------------------------------------

@query(
    "q33_token_stats",
    oracle=r"""
    SELECT doc_id,
      CAST(length(string_split_regex(trim(text), '\s+')) AS BIGINT) AS ws_tokens,
      CAST(length(regexp_extract_all(lower(text), '[a-z]+|[0-9]+')) AS BIGINT) AS re_tokens,
      CAST(length(list_distinct(regexp_extract_all(lower(text), '[a-z]+|[0-9]+'))) AS BIGINT) AS distinct_tokens,
      ROUND(list_sum(list_transform(regexp_extract_all(lower(text), '[a-z]+|[0-9]+'),
            t -> length(t))) / CAST(length(regexp_extract_all(lower(text), '[a-z]+|[0-9]+')) AS DOUBLE), 4) AS avg_token_len
    FROM documents
    ORDER BY doc_id
    """,
)
def q33_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = hot_table(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+|[0-9]+"), 0)
    return docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("ws_tokens"),
        F.size(toks).cast("long").alias("re_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("distinct_tokens"),
        F.round(
            F.aggregate(
                F.transform(toks, lambda t: F.length(t)),
                F.lit(0),
                lambda acc, x: acc + x,
            ).cast("double")
            / F.size(toks).cast("double"),
            4,
        ).alias("avg_token_len"),
    ).orderBy("doc_id")
