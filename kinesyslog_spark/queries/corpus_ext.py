"""Round-3 corpus extensions — q95 bigram-LM scoring, q96 incremental
(cross-snapshot) near-dup detection.

q95 — bigram language-model quality score with add-k smoothing
(k=0.5): p(cur|prev) = (c(prev,cur) + k) / (c(prev) + k·V). The
conditional-LM upgrade of q55's unigram score — the KenLM-perplexity
stand-in CCNet-style pipelines threshold on. Per-doc mean log10
probability over the doc's bigrams.

q96 — incremental near-dup detection: a production pipeline doesn't
re-run all-pairs dedup per crawl; each INCOMING batch is checked
against the existing REFERENCE corpus only. Same MinHash-LSH blocking
as q26 (word-3-shingles, K=12 signatures, 4x3 bands), but candidates
come from a two-table band join (new x old) — never a self-join of the
full corpus — and each surviving new doc reports which old doc it
duplicates. Here "incoming batch" = doc_id % 4 == 3 (deterministic,
SF-independent); in production it's the new crawl partition.

Cross-engine float determinism (established patterns):
- q95: per-distinct-bigram log10 on identical integer-derived operands,
  ROUND(,6) -> DECIMAL(12,6), exact decimal per-doc sum, and the output
  mean uses the shared floor quantization floor(x*1e4+0.5)/1e4 (q73
  rule), not round(double).
- q96: md5-string MinHash scheme identical to q26's oracle; exact
  Jaccard verify on the shingle sets, ROUND(,4).

Scale notes (100 TB posture):
- q95: bigram count/context tables follow Heaps' law (far smaller than
  the corpus); the scoring join keys on (prev,cur) — at cluster scale a
  shuffle join on the bigram key (or a KenLM-style sharded model);
  AQE broadcasts when the model fits. Everything upstream is one
  map-side-combinable aggregate per table.
- q96: the reference side's banded signatures are exactly the artifact
  a production dedup service keeps materialized; per incoming batch the
  join touches only colliding band buckets, and the verify joins shingle
  arrays back by doc_id. The new batch is typically orders of magnitude
  smaller than the reference corpus — the join broadcasts the NEW side,
  never the corpus.

Reference parity: north-star extensions; no reference analog.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesyslog_spark.operators.text import (
    TOKEN_RE,
    jaccard,
    lsh_band_keys,
)
from kinesyslog_spark.queries import query
from kinesyslog_spark.queries.dedup import (
    JACCARD_THR,
    LSH_BANDS,
    LSH_ROWS,
    MINHASH_K,
    _mh_expr,
    _par,
    hot_shingle_sigs,
)
from kinesyslog_spark.tables import artifact, hot_tokens

LM_K = 0.5  # add-k smoothing constant

NEW_MOD = 4  # doc_id % NEW_MOD == NEW_REM -> incoming batch
NEW_REM = 3


# ---------------------------------------------------------------------------
# Q95 — bigram-LM score (add-k smoothed conditional log-probabilities)
# ---------------------------------------------------------------------------

def _q95_oracle() -> str:
    return f"""
    WITH tk AS (
      SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks
      FROM documents
    ), bi AS (
      SELECT doc_id, toks[i] AS prev, toks[i+1] AS cur
      FROM tk, UNNEST(range(1, len(toks))) t(i)
      WHERE len(toks) >= 2
    ), bc AS (
      SELECT prev, cur, COUNT(*) AS c FROM bi GROUP BY prev, cur
    ), pc AS (
      SELECT prev, SUM(c) AS cp FROM bc GROUP BY prev
    ), v AS (
      SELECT COUNT(DISTINCT tok) AS nv
      FROM (SELECT unnest(toks) AS tok FROM tk)
    ), lp AS (
      SELECT bc.prev, bc.cur,
             CAST(ROUND(LOG10((bc.c + {LM_K})
                  / (CAST(pc.cp AS DOUBLE) + {LM_K} * (SELECT nv FROM v))), 6)
                  AS DECIMAL(12,6)) AS logp
      FROM bc JOIN pc ON bc.prev = pc.prev
    )
    SELECT b.doc_id, COUNT(*) AS n_bigrams,
           FLOOR(CAST(SUM(l.logp) AS DOUBLE) / COUNT(*) * 10000 + 0.5) / 10000
             AS mean_logp
    FROM bi b JOIN lp l ON b.prev = l.prev AND b.cur = l.cur
    GROUP BY b.doc_id
    ORDER BY b.doc_id
    """


@query("q95_bigram_logprob", oracle=_q95_oracle())
def q95_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = hot_tokens(spark, sf_dir)
    bi = artifact(
        spark, sf_dir, "q95_bigrams",
        lambda keep: toks.filter(F.size("toks") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(toks) - 2),"
                    " i -> struct(toks[i] AS prev, toks[i+1] AS cur))"
                )
            ).alias("bg"),
        )
        .select("doc_id", "bg.prev", "bg.cur")
    )
    bc = bi.groupBy("prev", "cur").agg(F.count("*").alias("c"))
    pc = bc.groupBy("prev").agg(F.sum("c").alias("cp"))
    nv = toks.select(F.explode("toks").alias("tok")).agg(
        F.count_distinct("tok").alias("nv")
    )
    lp = (
        bc.join(pc, "prev")
        .crossJoin(F.broadcast(nv))
        .select(
            "prev", "cur",
            F.round(
                F.log10(
                    (F.col("c") + LM_K)
                    / (F.col("cp").cast("double") + LM_K * F.col("nv"))
                ),
                6,
            ).cast("decimal(12,6)").alias("logp"),
        )
    )
    mean = F.sum("logp").cast("double") / F.count("*")
    return (
        bi.join(lp, ["prev", "cur"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            (F.floor(mean * 10000 + F.lit(0.5)) / 10000).alias("mean_logp"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Q96 — incremental near-dup: incoming batch vs reference corpus
# ---------------------------------------------------------------------------

def _q96_oracle() -> str:
    sig = ",\n      ".join(_mh_expr(i) for i in range(MINHASH_K))
    bands = ", ".join(str(b) for b in range(LSH_BANDS))
    return f"""
    WITH tk AS (
      SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks FROM documents
    ), docs AS (
      SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
             i -> array_to_string(toks[i:i+2], ' '))) AS sh
      FROM tk WHERE len(toks) >= 3
    ), sigs AS (
      SELECT doc_id, [{sig}] AS sig FROM docs
    ), bands AS (
      SELECT doc_id, b.band_idx,
             md5(sig[{LSH_ROWS}*b.band_idx + 1]::VARCHAR || ',' || sig[{LSH_ROWS}*b.band_idx + 2]::VARCHAR
                 || ',' || sig[{LSH_ROWS}*b.band_idx + 3]::VARCHAR) AS band_key
      FROM sigs CROSS JOIN (SELECT unnest([{bands}]) AS band_idx) b
    ), cand AS (
      SELECT DISTINCT n.doc_id AS doc_new, o.doc_id AS doc_old
      FROM bands n JOIN bands o
        ON n.band_idx = o.band_idx AND n.band_key = o.band_key
      WHERE n.doc_id % {NEW_MOD} = {NEW_REM} AND o.doc_id % {NEW_MOD} <> {NEW_REM}
    )
    SELECT doc_new, doc_old, jaccard FROM (
      SELECT doc_new, doc_old,
        ROUND(len(list_intersect(a.sh, b.sh)) /
          CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE), 4) AS jaccard
      FROM cand JOIN docs a ON a.doc_id = cand.doc_new JOIN docs b ON b.doc_id = cand.doc_old
    ) WHERE jaccard >= {JACCARD_THR}
    ORDER BY doc_new, doc_old
    """


@query("q96_incremental_neardup", oracle=_q96_oracle())
def q96_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesyslog_spark.queries.dedup import LSH_MAX_BUCKET, cap_hot_buckets

    sh, sigs = hot_shingle_sigs(spark, sf_dir)
    bands = sigs.select(
        "doc_id",
        F.explode(
            lsh_band_keys([f"mh{i}" for i in range(MINHASH_K)], LSH_BANDS, LSH_ROWS)
        ).alias("bd"),
    ).select("doc_id", "bd.band_idx", "bd.band_key")
    # Hot-bucket skew guard (the q26 rule): even in the broadcast-probe
    # shape a boilerplate band bucket costs |new members| x |old
    # members| candidates, so buckets over the global cap are dropped —
    # their members still pair through their other bands. No bucket in
    # the tested corpora approaches the default cap, so oracle parity
    # is untouched (same contract as q26-q29).
    is_new = F.col("doc_id") % NEW_MOD == NEW_REM
    # Slot-budget fail-fast (the q26-q28 guard, asymmetric form): the
    # probe join emits exactly Σ n_new*n_old over band buckets; over
    # budget the query refuses to launch and names the scale dials.
    from kinesyslog_spark.queries.dedup import _lsh_slot_budget_check

    # family "minhash_bands:asym": same bands frame as q26/q163 but the
    # side-form estimate (n_new*n_old per bucket) is a DIFFERENT number
    # than the symmetric C(n,2) form — it must not share their memo.
    _lsh_slot_budget_check(
        "q96_incremental_neardup", bands, ["band_idx", "band_key"],
        LSH_MAX_BUCKET, side=is_new, cache_key=sf_dir.rstrip("/"),
        family="minhash_bands:asym",
    )
    bands = cap_hot_buckets(bands, ["band_idx", "band_key"], LSH_MAX_BUCKET)
    new_b = bands.filter(is_new).select(
        F.col("doc_id").alias("doc_new"), "band_idx", "band_key"
    )
    old_b = bands.filter(~is_new).select(
        F.col("doc_id").alias("doc_old"), "band_idx", "band_key"
    )
    # The incoming batch is the small side — broadcast it into the
    # reference corpus's banded signatures (the persisted dedup-service
    # artifact); only colliding band buckets produce candidates.
    cand = (
        old_b.join(F.broadcast(new_b), ["band_idx", "band_key"])
        .select("doc_new", "doc_old")
        .distinct()
    )
    a = sh.select(F.col("doc_id").alias("doc_new"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_old"), F.col("sh").alias("sh_b"))
    return (
        cand.repartition(_par(cand))
        .join(a, "doc_new").join(b, "doc_old")
        .select(
            "doc_new", "doc_old",
            F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_THR)
        .orderBy("doc_new", "doc_old")
    )
