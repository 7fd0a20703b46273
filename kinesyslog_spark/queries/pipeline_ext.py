"""Training-pipeline extensions round 2: cross-document boilerplate
passage detection, unigram-LM log-probability scoring, and sequence
packing for training-batch assembly.

q54 — boilerplate passage detection (CCNet / RefinedWeb line-dedup
analog). The corpus has no newline structure, so the "passage" unit is
the word 5-gram: any 5-gram appearing in >= BOILER_DOCS distinct
documents is boilerplate (navigation chrome, license headers, templated
text at web scale). Per document: distinct-gram count, boilerplate-gram
count, the boilerplate fraction, and the keep decision.

q55 — unigram language-model quality score (the cheap stand-in for a
KenLM perplexity filter, as used by CCNet/RedPajama). Token
probabilities are trained on the corpus itself; each document is scored
by the mean log10 probability of its token stream. Cross-engine float
determinism: log10 is computed ONCE per distinct vocabulary token,
quantized to DECIMAL(12,6), and the per-document sum is exact decimal
arithmetic — the only float ops both engines must agree on are |vocab|
log10 calls and one final rounded division.

q56 — sequence packing (training-batch assembly). Documents are
concatenated in deterministic (source, doc_id) order and chunked into
fixed-capacity token bins ("waterfall" packing: a document belongs to
the bin where its first token lands). Per (source, bin): document
count, token sum, and the doc_id span. This is the map-side layout step
every pre-training pipeline runs before writing packed sequences.

Scale notes (100 TB posture):
- q54: the gram->doc-frequency aggregate shuffles (gram, doc_id) pairs
  once with map-side combine; the boilerplate set (df >= K) is tiny by
  Zipf's law and is BROADCAST back against the per-doc gram stream — the
  corpus never shuffles twice. At extreme scale, hash grams to int60
  (operators.text.md5_int60) and bucket-join instead of broadcasting.
- q55: the vocabulary table (distinct token + count) is orders of
  magnitude smaller than the corpus (Heaps' law) -> broadcast scoring
  join; per-doc aggregation combines map-side on doc_id.
- q56: packing is windowed per *source* (PARTITION BY source ORDER BY
  doc_id) — parallel across sources, sequential only within one, which
  matches how packed shards are written in practice (per input shard).
  No global sort, no single-partition window.

Reference parity: north-star extensions (BASELINE.json); no reference
analog (the reference relay has no corpus surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from kinesyslog_spark.operators.text import TOKEN_RE, tokens, word_shingles
from kinesyslog_spark.queries import query
from kinesyslog_spark.tables import (
    artifact,
    hot_postings,
    hot_table,
    hot_tokens,
    hot_vocab,
)

BOILER_N = 5        # word n-gram passage unit
BOILER_DOCS = 2     # gram in >= this many distinct docs -> boilerplate
BOILER_THR = 0.05   # drop docs whose boilerplate fraction >= 5%
PACK_CAP = 512      # tokens per packed training sequence


# ---------------------------------------------------------------------------
# Q54 — cross-document boilerplate passage detection
# ---------------------------------------------------------------------------

def _q54_oracle() -> str:
    n = BOILER_N
    return f"""
    WITH tk AS (
      SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks FROM documents
    ), g AS (
      SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - {n - 2}),
             i -> array_to_string(toks[i:i+{n - 1}], ' '))) AS grams
      FROM tk WHERE len(toks) >= {n}
    ), flat AS (
      SELECT doc_id, unnest(grams) AS gram FROM g
    ), boiler AS (
      SELECT gram FROM flat GROUP BY gram
      HAVING COUNT(DISTINCT doc_id) >= {BOILER_DOCS}
    ), hits AS (
      SELECT f.doc_id, COUNT(*) AS n_boiler
      FROM flat f JOIN boiler b ON f.gram = b.gram
      GROUP BY f.doc_id
    )
    SELECT g.doc_id, CAST(len(g.grams) AS BIGINT) AS n_grams,
           CAST(coalesce(h.n_boiler, 0) AS BIGINT) AS n_boiler,
           ROUND(coalesce(h.n_boiler, 0) / CAST(len(g.grams) AS DOUBLE), 4) AS boiler_frac,
           CAST(CASE WHEN coalesce(h.n_boiler, 0) / CAST(len(g.grams) AS DOUBLE)
                < {BOILER_THR} THEN 1 ELSE 0 END AS INT) AS keep
    FROM g LEFT JOIN hits h ON g.doc_id = h.doc_id
    ORDER BY g.doc_id
    """


@query("q54_boilerplate_passages", oracle=_q54_oracle())
def q54_boilerplate_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = hot_tokens(spark, sf_dir)
    grams = artifact(
        spark, sf_dir, "q54_grams",
        lambda keep: toks.filter(F.size("toks") >= BOILER_N)
        .select("doc_id", word_shingles(F.col("toks"), BOILER_N).alias("grams")),
    )
    flat = grams.select("doc_id", F.explode("grams").alias("gram"))
    boiler = (
        flat.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter(F.col("df") >= BOILER_DOCS)
        .select("gram")
    )
    hits = (
        flat.join(F.broadcast(boiler), "gram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_boiler"))
    )
    frac = F.coalesce(F.col("n_boiler"), F.lit(0)) / F.size("grams").cast("double")
    return (
        grams.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.size("grams").cast("bigint").alias("n_grams"),
            F.coalesce(F.col("n_boiler"), F.lit(0)).cast("bigint").alias("n_boiler"),
            F.round(frac, 4).alias("boiler_frac"),
            F.when(frac < BOILER_THR, 1).otherwise(0).cast("int").alias("keep"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Q55 — unigram-LM log-probability quality score
# ---------------------------------------------------------------------------

def _q55_oracle() -> str:
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS token
      FROM documents
    ), vocab AS (
      SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token
    ), lp AS (
      SELECT token,
             CAST(ROUND(LOG10(cnt / (SELECT CAST(SUM(cnt) AS DOUBLE) FROM vocab)), 6)
                  AS DECIMAL(12,6)) AS logp
      FROM vocab
    )
    SELECT t.doc_id, COUNT(*) AS n_tokens,
           ROUND(CAST(SUM(l.logp) AS DOUBLE) / COUNT(*), 4) AS mean_logp
    FROM tok t JOIN lp l ON t.token = l.token
    GROUP BY t.doc_id
    ORDER BY t.doc_id
    """


@query("q55_unigram_logprob", oracle=_q55_oracle())
def q55_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Postings/vocab artifacts replace the two per-query token-stream
    # passes. The per-doc sum over token INSTANCES of logp equals the
    # exact decimal sum over (doc, token) rows of tf * logp, and
    # n_tokens == SUM(tf) — same values, one aggregate over postings
    # instead of a full explode.
    post = hot_postings(spark, sf_dir)
    vocab = hot_vocab(spark, sf_dir)
    total = vocab.agg(F.sum("cnt").cast("double").alias("t"))
    lp = (
        vocab.crossJoin(F.broadcast(total))
        .select(
            "token",
            F.round(F.log10(F.col("cnt") / F.col("t")), 6)
            .cast("decimal(12,6)")
            .alias("logp"),
        )
    )
    return (
        post.join(F.broadcast(lp), "token")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.round(
                F.sum(F.col("tf") * F.col("logp")).cast("double")
                / F.sum("tf"),
                4,
            ).alias("mean_logp"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Q56 — sequence packing (waterfall chunking in (source, doc_id) order)
# ---------------------------------------------------------------------------

def _q56_oracle() -> str:
    return f"""
    WITH tk AS (
      SELECT doc_id, source,
             len(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS n_tokens
      FROM documents
    ), cum AS (
      SELECT doc_id, source, n_tokens,
             COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      FROM tk
    )
    SELECT source,
           CAST(FLOOR(cum_before / {PACK_CAP}) AS BIGINT) AS bin,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM cum
    GROUP BY source, bin
    ORDER BY source, bin
    """


@query("q56_sequence_packing", oracle=_q56_oracle())
def q56_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = hot_table(spark, sf_dir, "documents")
    tk = docs.select(
        "doc_id",
        "source",
        F.size(tokens(F.col("text"))).alias("n_tokens"),
    )
    w = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    cum = tk.withColumn("cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
    return (
        cum.groupBy(
            "source",
            F.floor(F.col("cum_before") / PACK_CAP).cast("bigint").alias("bin"),
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("bin_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("source", "bin")
    )


# ---------------------------------------------------------------------------
# Q66 — domain-mixing weights (the data-mixing step of corpus assembly:
# compute per-source sampling weights that move the token distribution
# toward a uniform target share, capped at 1.0 — sources can be
# down-sampled, never up-weighted past keeping everything). Exact
# integer/ratio arithmetic: weight = min(1, target_tokens/actual_tokens)
# with target = total/n_sources, evaluated as integer cross-products on
# both engines before the final rounded division.
# ---------------------------------------------------------------------------

def _q66_oracle() -> str:
    return f"""
    WITH per_source AS (
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(len(regexp_extract_all(lower(text), '{TOKEN_RE}'))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ), tot AS (
      SELECT SUM(n_tokens) AS total_tokens, COUNT(*) AS n_sources FROM per_source
    )
    SELECT source, n_docs, n_tokens,
           FLOOR(n_tokens / CAST(total_tokens AS DOUBLE) * 10000 + 0.5) / 10000
             AS actual_share,
           FLOOR(CASE WHEN n_tokens * n_sources <= total_tokens THEN 1.0
                 ELSE total_tokens / (CAST(n_sources AS DOUBLE) * n_tokens) END
                 * 10000 + 0.5) / 10000 AS mix_weight
    FROM per_source CROSS JOIN tot
    ORDER BY source
    """


@query("q66_domain_mixing", oracle=_q66_oracle())
def q66_domain_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = hot_table(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(tokens(F.col("text")))).alias("n_tokens"),
    )
    tot = per_source.agg(
        F.sum("n_tokens").alias("total_tokens"), F.count("*").alias("n_sources")
    )
    return (
        per_source.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            # Shared floor quantization on large-denominator int ratios
            # (q73 lesson): round(double) is engine-divergent at .00005
            # boundaries.
            (
                F.floor(
                    F.col("n_tokens") / F.col("total_tokens").cast("double")
                    * 10000 + F.lit(0.5)
                ) / 10000
            ).alias("actual_share"),
            (
                F.floor(
                    F.when(
                        F.col("n_tokens") * F.col("n_sources")
                        <= F.col("total_tokens"),
                        F.lit(1.0),
                    ).otherwise(
                        F.col("total_tokens")
                        / (F.col("n_sources").cast("double") * F.col("n_tokens"))
                    )
                    * 10000 + F.lit(0.5)
                ) / 10000
            ).alias("mix_weight"),
        )
        .orderBy("source")
    )
