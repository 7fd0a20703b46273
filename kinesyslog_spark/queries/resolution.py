"""Q107 — dedup resolution: one survivor per near-dup cluster (the step
after q40's clustering — keep the best-quality member, drop the rest).
Registered late so the frozen 50-query driver window is untouched
(tests/test_registry_window.py).
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from kinesyslog_spark.env import env_budget
from kinesyslog_spark.queries import query
from kinesyslog_spark.queries.cluster import q40_dedup_clusters


class CandidateBudgetExceeded(RuntimeError):
    """An exact similarity join's estimated candidate volume exceeds the
    configured budget — fail fast (one cheap aggregate) instead of
    launching an unbounded quadratic join. The message names the
    scalable probabilistic twin to use instead."""


# ---------------------------------------------------------------------------
# Q107 — dedup resolution: one survivor per near-dup cluster. The step
# AFTER clustering — each cluster keeps its best-quality member (q31's
# score; tie-break min doc_id) and reports how many copies it removed.
# Composed from the same component plans as its oracle is from the
# component oracles (the q71 composition pattern), so the pair graph,
# the clustering, and the quality scores are definitionally shared.
#
# Scale: adds one doc_id hash join (clustered docs x quality) and one
# window over cluster_id on top of q40 — both bounded by the CLUSTERED
# population, which is orders of magnitude below the corpus.
# ---------------------------------------------------------------------------


def _q107_oracle() -> str:
    from kinesyslog_spark.queries import ORACLE

    return f"""
    WITH clus AS (
      SELECT doc_id, cluster_id, cluster_size FROM ({ORACLE["q40_dedup_clusters"]})
    ), qual AS (
      SELECT doc_id, quality FROM ({ORACLE["q31_quality_score"]})
    )
    SELECT cluster_id, survivor_doc, survivor_quality, n_members, n_removed
    FROM (
      SELECT c.cluster_id, c.doc_id AS survivor_doc, q.quality AS survivor_quality,
             c.cluster_size AS n_members, c.cluster_size - 1 AS n_removed,
             ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                                ORDER BY q.quality DESC, c.doc_id) AS rn
      FROM clus c JOIN qual q USING (doc_id)
    ) WHERE rn = 1
    ORDER BY cluster_id
    """


@query("q107_dedup_survivors", oracle=_q107_oracle())
def q107_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesyslog_spark.queries.llm import q31_quality_score

    clusters = q40_dedup_clusters(spark, sf_dir)
    qual = q31_quality_score(spark, sf_dir).select("doc_id", "quality")
    w = W.partitionBy("cluster_id").orderBy(F.desc("quality"), "doc_id")
    return (
        clusters.join(qual, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("survivor_doc"),
            F.col("quality").alias("survivor_quality"),
            F.col("cluster_size").alias("n_members"),
            (F.col("cluster_size") - 1).alias("n_removed"),
        )
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------------------
# Q110 — token-budget mixture construction: allocate a global token
# budget across sources proportional to sqrt(source token mass) — the
# standard sub-linear upsampling of small domains — then fill each
# source's budget greedily in quality order (q31 DESC, doc_id
# tie-break) until the next document would exceed it. The final
# "assemble the training mix" step on top of weights + quality + token
# counts.
#
# Determinism: sqrt/div on identical doubles (IEEE, both engines),
# budget floored to BIGINT, running token sums exact integers, quality
# values 4-dp-identical by q31's own gate.
#
# Scale notes: two broadcastable aggregates (per-source totals ->
# budgets, |sources| rows) and ONE window over (source, quality order)
# — the same shuffle a per-source sort already costs; no corpus joins
# beyond doc_id-keyed quality/token lookups.
# ---------------------------------------------------------------------------

Q110_BUDGET = 50_000


def _q110_oracle() -> str:
    from kinesyslog_spark.queries import ORACLE

    return f"""
    WITH qual AS (
      SELECT doc_id, quality FROM ({ORACLE["q31_quality_score"]})
    ), tk AS (
      SELECT doc_id, source,
             CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT)
               AS n_tokens
      FROM documents
    ), tot AS (
      SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS st FROM tk GROUP BY source
    ), b AS (
      SELECT source,
             CAST(FLOOR({Q110_BUDGET} * sqrt(CAST(st AS DOUBLE))
                        / (SELECT SUM(sqrt(CAST(st AS DOUBLE))) FROM tot))
                  AS BIGINT) AS budget
      FROM tot
    ), ranked AS (
      SELECT tk.source, tk.doc_id, tk.n_tokens, q.quality,
             SUM(tk.n_tokens) OVER (PARTITION BY tk.source
               ORDER BY q.quality DESC, tk.doc_id
               ROWS UNBOUNDED PRECEDING) AS cum
      FROM tk JOIN qual q USING (doc_id)
    )
    SELECT r.source, b.budget,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(r.n_tokens) AS BIGINT) AS tokens_selected
    FROM ranked r JOIN b ON r.source = b.source
    WHERE r.cum <= b.budget
    GROUP BY r.source, b.budget
    ORDER BY r.source
    """


@query("q110_token_budget_mix", oracle=_q110_oracle())
def q110_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesyslog_spark.queries.llm import q31_quality_score
    from kinesyslog_spark.tables import hot_table, hot_tokens

    docs = hot_table(spark, sf_dir, "documents").select("doc_id", "source")
    tk = (
        hot_tokens(spark, sf_dir)
        .select("doc_id", F.size("toks").cast("long").alias("n_tokens"))
        .join(docs, "doc_id")
    )
    tot = tk.groupBy("source").agg(F.sum("n_tokens").alias("st"))
    wsum = tot.agg(
        F.sum(F.sqrt(F.col("st").cast("double"))).alias("wsum")
    )
    b = (
        tot.crossJoin(F.broadcast(wsum))
        .select(
            "source",
            F.floor(
                Q110_BUDGET * F.sqrt(F.col("st").cast("double")) / F.col("wsum")
            ).cast("long").alias("budget"),
        )
    )
    qual = q31_quality_score(spark, sf_dir).select("doc_id", "quality")
    w = (
        W.partitionBy("source")
        .orderBy(F.desc("quality"), F.asc("doc_id"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    ranked = (
        tk.join(qual, "doc_id")
        .withColumn("cum", F.sum("n_tokens").over(w))
    )
    return (
        ranked.join(F.broadcast(b), "source")
        .filter(F.col("cum") <= F.col("budget"))
        .groupBy("source", "budget")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("tokens_selected"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Q113 — skew diagnostics: the distribution report behind every
# partitioning decision in this repo (operators/skew.py's salted joins,
# the LSH bucket caps, AQE skew thresholds). Per-supplier lineitem
# counts summarized as max-share and a Gini coefficient — all integer
# arithmetic until the final quantized ratios, so both engines emit
# identical doubles.
#
#   gini = SUM((2i - n - 1) * x_i) / (n * SUM(x)),  x sorted ascending
#
# Scale: one count aggregate on the key (map-side combined); the
# |keys|-sized count table is ranked with the DISTRIBUTED global rank
# (operators/ranking.py) and the scalars ride a 1-row broadcast — never
# a window over the fact table, never a single-partition window.
# ---------------------------------------------------------------------------


def _q113_oracle() -> str:
    return """
    WITH c AS (
      SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY l_suppkey
    ), r AS (
      SELECT cnt,
             ROW_NUMBER() OVER (ORDER BY cnt, l_suppkey) AS i,
             COUNT(*) OVER () AS n,
             SUM(cnt) OVER () AS tot
      FROM c
    )
    SELECT 'l_suppkey' AS key_col,
           CAST(MAX(n) AS BIGINT) AS n_keys,
           CAST(MAX(tot) AS BIGINT) AS total_rows,
           CAST(MAX(cnt) AS BIGINT) AS max_count,
           FLOOR(CAST(MAX(cnt) AS DOUBLE) / MAX(tot) * 10000 + 0.5) / 10000
             AS max_share,
           FLOOR(CAST(SUM((2 * i - n - 1) * cnt) AS DOUBLE)
                 / (MAX(n) * MAX(tot)) * 10000 + 0.5) / 10000 AS gini
    FROM r
    """


@query("q113_skew_report", oracle=_q113_oracle())
def q113_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesyslog_spark.operators.ranking import with_global_rank
    from kinesyslog_spark.queries.relational import _t

    c = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(F.count("*").alias("cnt"))
    )
    # Gini needs the global ascending rank of every key's count — the
    # |keys|-sized table is data-dependent (millions of keys at 100 TB),
    # so the rank is the distributed operators/ranking.py form, and the
    # scalar n/tot ride a 1-row broadcast instead of unpartitioned
    # COUNT()/SUM() OVER () windows (round-5 sweep fix).
    ranked = with_global_rank(c, ["cnt", "l_suppkey"], "i")
    scal = c.agg(
        F.count(F.lit(1)).alias("n"), F.sum("cnt").alias("tot")
    )
    r = ranked.crossJoin(F.broadcast(scal))
    q4 = lambda x: F.floor(x * 10000 + F.lit(0.5)) / 10000  # noqa: E731
    num = F.sum((2 * F.col("i") - F.col("n") - 1) * F.col("cnt"))
    return r.agg(
        F.lit("l_suppkey").alias("key_col"),
        F.max("n").alias("n_keys"),
        F.max("tot").alias("total_rows"),
        F.max("cnt").alias("max_count"),
        q4(F.max("cnt").cast("double") / F.max("tot")).alias("max_share"),
        q4(num.cast("double") / (F.max("n") * F.max("tot"))).alias("gini"),
    )


# ---------------------------------------------------------------------------
# Q116 — event debounce (trailing/gap form): emit only the FIRST event
# of each burst per (user, event_type), where a burst is a maximal run
# of events whose consecutive gaps are all <= DEBOUNCE_S — i.e. a new
# event extends the suppression window (the debounce semantics of UI
# toolkits and alert dedupers; the fixed-anchor variant is what W17's
# stateful path would implement if quotas were time-based). Equivalent
# to emitting each session-window start under q10/W3's gap rule — the
# telemetry dedup every ingestion pipeline runs in front of counting.
#
# Plain-SQL form: LAG gap flag -> cumulative run id -> first row per
# run ((ts, event_id) tie-ordered), identical on both engines.
#
# Scale: one window per (user_id, event_type) partition — the same
# shuffle any per-user op costs; no joins.
# ---------------------------------------------------------------------------

DEBOUNCE_S = 30


def _q116_oracle() -> str:
    return f"""
    WITH ev AS (
      SELECT user_id, event_type, event_id, ts,
             LAG(ts) OVER w AS prev_ts
      FROM events
      WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
    ), runs AS (
      SELECT user_id, event_type, event_id, ts,
             CAST(SUM(CASE WHEN prev_ts IS NULL
                           OR ts > prev_ts + INTERVAL {DEBOUNCE_S} SECOND
                      THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id, event_type
                        ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
               AS BIGINT) AS gap_run
      FROM ev
    ), anchored AS (
      SELECT user_id, event_type, event_id, ts,
             MIN(ts) OVER (PARTITION BY user_id, event_type, gap_run)
               AS anchor_ts
      FROM runs
    )
    SELECT user_id, event_type, event_id, epoch_ms(ts) AS ts_ms
    FROM anchored
    WHERE ts = anchor_ts
    QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, event_type, anchor_ts
                               ORDER BY event_id) = 1
    ORDER BY event_id
    """


@query("q116_event_debounce", oracle=_q116_oracle())
def q116_event_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesyslog_spark.queries.relational import _t

    ev = _t(spark, sf_dir, "events")
    wo = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gap = F.when(
        F.col("prev_ts").isNull()
        | (F.col("ts") > F.col("prev_ts") + F.expr(f"INTERVAL {DEBOUNCE_S} SECONDS")),
        1,
    ).otherwise(0)
    runs = (
        ev.withColumn("prev_ts", F.lag("ts").over(wo))
        .withColumn("gap_run", F.sum(gap).over(
            wo.rowsBetween(W.unboundedPreceding, W.currentRow)
        ))
    )
    anchored = runs.withColumn(
        "anchor_ts",
        F.min("ts").over(W.partitionBy("user_id", "event_type", "gap_run")),
    )
    return (
        anchored.filter(F.col("ts") == F.col("anchor_ts"))
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("user_id", "event_type", "anchor_ts")
                .orderBy("event_id")
            ),
        )
        .filter(F.col("rn") == 1)
        .select(
            "user_id", "event_type", "event_id",
            F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# Q117 — edit-distance near-dup verify: the same candidate space as q28
# (shared blocking — queries/dedup.ngram_candidates / the
# _ngram_block_ctes oracle body) verified with LEVENSHTEIN instead of
# Jaccard. Edit distance catches transposition/typo-level duplication
# that set-based measures blur; the threshold compare is
# cross-multiplied into exact integers (4 * lev <= max_len, i.e.
# normalized distance <= 0.25), and both engines' levenshtein is the
# exact DP — bit-identical integers.
#
# Scale: identical blocking economics to q28 (band-bucket candidates,
# never all-pairs); the verify cost per pair is O(len^2) DP, which is
# why the candidate set — not the corpus — must pay it.
# ---------------------------------------------------------------------------

EDIT_RATIO_DEN = 4  # keep pairs with lev <= max_len / 4


def _q117_oracle() -> str:
    from kinesyslog_spark.queries.dedup import _ngram_block_ctes

    return f"""
    WITH {_ngram_block_ctes()}, txt AS (
      SELECT doc_id, text, length(text) AS n FROM documents
    )
    SELECT doc_a, doc_b, lev, edit_ratio FROM (
      SELECT cand.doc_a, cand.doc_b,
             CAST(levenshtein(a.text, b.text) AS BIGINT) AS lev,
             GREATEST(a.n, b.n) AS mx,
             FLOOR(CAST(levenshtein(a.text, b.text) AS DOUBLE)
                   / GREATEST(a.n, b.n) * 10000 + 0.5) / 10000 AS edit_ratio
      FROM cand
      JOIN txt a ON a.doc_id = cand.doc_a
      JOIN txt b ON b.doc_id = cand.doc_b
    ) WHERE {EDIT_RATIO_DEN} * lev <= mx
    ORDER BY doc_a, doc_b
    """


@query("q117_edit_distance_pairs", oracle=_q117_oracle())
def q117_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesyslog_spark.queries.dedup import LEN_BAND, ngram_candidates
    from kinesyslog_spark.tables import hot_table

    cand, _base = ngram_candidates(spark, sf_dir)
    txt = hot_table(spark, sf_dir, "documents").select(
        "doc_id", "text", F.length("text").alias("n")
    )
    a = txt.select(
        F.col("doc_id").alias("doc_a"), F.col("text").alias("ta"),
        F.col("n").alias("na"),
    )
    b = txt.select(
        F.col("doc_id").alias("doc_b"), F.col("text").alias("tb"),
        F.col("n").alias("nb"),
    )
    # THRESHOLDED levenshtein (Ukkonen band + early abort) with a
    # PER-PAIR threshold: the keep condition is lev <= mx/EDIT_RATIO_DEN
    # with mx = this pair's max length, so floor(mx/4) is the tightest
    # threshold that still returns the EXACT distance for every kept
    # pair (-1 only for pairs the filter rejects anyway — identical
    # output). The first cut used one global maxlen//4 threshold, which
    # banded every DP at the CORPUS max: per-pair banding measured 2.3x
    # faster on the 205k-candidate verify at sf0.1 (median doc is half
    # the max), and at scale the band tracks each pair, not the corpus
    # tail.
    lev = F.expr(
        f"levenshtein(ta, tb, cast(floor(greatest(na, nb) / {EDIT_RATIO_DEN})"
        " as int))"
    )
    mx = F.greatest("na", "nb")
    # cand arrives persisted and already hash-partitioned wide by the
    # ngram_candidates memo — no per-run repartition (see q28).
    return (
        cand
        .join(a, "doc_a").join(b, "doc_b")
        # Length-band refinement: bucket adjacency in the blocking admits
        # |na-nb| up to 2*LEN_BAND-1, but the oracle (and q28) keep only
        # pairs within LEN_BAND — apply the same refinement here.
        .filter(F.abs(F.col("na") - F.col("nb")) <= LEN_BAND)
        .select(
            "doc_a", "doc_b",
            lev.cast("long").alias("lev"),
            mx.alias("mx"),
        )
        .filter(
            (F.col("lev") >= 0) & (EDIT_RATIO_DEN * F.col("lev") <= F.col("mx"))
        )
        .select(
            "doc_a", "doc_b", "lev",
            (
                F.floor(F.col("lev").cast("double") / F.col("mx") * 10000 + F.lit(0.5))
                / 10000
            ).alias("edit_ratio"),
        )
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# Q121 — EXACT set-similarity join via prefix filtering (AllPairs /
# PPJoin, Bayardo et al. 2007 / Xiao et al. 2008): unlike the LSH
# family (q26-q28: probabilistic recall), prefix filtering finds EVERY
# pair with word-3-gram-set Jaccard >= t and no others (verified
# against the all-pairs brute force in tests). Shingle sets, not raw
# token sets: the synthetic corpus shares its vocabulary so heavily
# that token-set jaccard >= 0.6 holds for most random pairs — 3-gram
# sets keep the measure discriminative (q26's element choice).
#
# Principle: order each doc's distinct tokens by ascending global
# document frequency (rarest first, doc_id tiebreak); two sets with
# jaccard >= t MUST share a token within each other's first
# |s| - ceil(t*|s|) + 1 tokens (the prefix) — so candidates = pairs
# sharing ANY prefix token, generated by one join on the prefix token,
# then verified exactly. Rare-first ordering makes prefixes
# low-frequency keys, so the candidate join is naturally skew-light.
#
# Determinism: df ranks are exact integer counts; prefix length is
# integer ceiling arithmetic (l - ceil(t*l) + 1 with t = 6/10 done as
# (6*l + 9) / 10 integer division); verify is exact integer set
# intersection cross-multiplied (10*|A∩B| >= 6*|A∪B|).
#
# Scale: one df aggregate (map-side combined), one prefix-token join
# (shuffle on token), PPJoin length + positional pruning on the matched
# rows, exact verify on the surviving candidates only. HONEST LIMIT:
# on a template-saturated corpus even a doc's rarest prefix shingles
# have document frequency in the hundreds, so the exact join stays
# candidate-bound (sf1 probe: 41M prefix matches, ~2.4x cut by the
# PPJoin filters, ~70-110 s) — that cost is inherent to EXACT
# low-threshold set joins on such data, and is exactly why the
# probabilistic LSH twins (q26/q28) are the 100 TB path while this
# query is the exactness yardstick they are audited against. The
# PFJ_MAX_CANDIDATES guardrail makes that limit OPERATIONAL: the
# candidate volume is estimated exactly from prefix-token frequencies
# (one aggregate) and an over-budget corpus fails fast with the LSH
# alternative named, instead of launching the unbounded join.
# ---------------------------------------------------------------------------

PFJ_NUM, PFJ_DEN = 6, 10  # jaccard threshold t = 0.6

# Candidate-budget guardrail: before the prefix self-join runs, its
# candidate volume is estimated EXACTLY (sum over prefix tokens of
# C(df_prefix, 2) — one cheap aggregate over the prefix rows, an upper
# bound on prefix matches before the PPJoin filters). Over budget, the
# query raises CandidateBudgetExceeded naming the LSH twins instead of
# launching an unbounded quadratic join — an exactness yardstick should
# fail fast on a corpus it was never meant for. The default admits the
# sf1 probe (~41M) and rejects the next decade (~4B). Set to 0 to
# disable (unset keeps the default budget; malformed values fall back).
PFJ_MAX_CANDIDATES: int | None = env_budget(
    "SPARK_GRAFT_PFJ_MAX_CANDIDATES", 200_000_000
)


def _q121_oracle() -> str:
    return f"""
    WITH tk0 AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      FROM documents
    ), tk AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(toks) - 1),
                 i -> array_to_string(toks[i:i+2], ' '))) AS ts
      FROM tk0 WHERE len(toks) >= 3
    ), df AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS dfreq
      FROM (SELECT doc_id, unnest(ts) AS tok FROM tk) GROUP BY tok
    ), ranked AS (
      SELECT t.doc_id, t.tok,
             ROW_NUMBER() OVER (PARTITION BY t.doc_id
                                ORDER BY d.dfreq, t.tok) AS r,
             COUNT(*) OVER (PARTITION BY t.doc_id) AS l
      FROM (SELECT doc_id, unnest(ts) AS tok FROM tk) t
      JOIN df d ON d.tok = t.tok
    ), pref AS (
      SELECT doc_id, tok FROM ranked
      WHERE r <= l - ({PFJ_NUM} * l + {PFJ_DEN} - 1) // {PFJ_DEN} + 1
    ), cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM pref x JOIN pref y ON x.tok = y.tok AND x.doc_id < y.doc_id
    ), sets AS (
      SELECT doc_id, ts, len(ts) AS n FROM tk WHERE len(ts) > 0
    )
    SELECT doc_a, doc_b, jaccard FROM (
      SELECT c.doc_a, c.doc_b,
             len(list_intersect(a.ts, b.ts)) AS inter,
             a.n + b.n - len(list_intersect(a.ts, b.ts)) AS uni,
             ROUND(len(list_intersect(a.ts, b.ts))
                   / CAST(a.n + b.n - len(list_intersect(a.ts, b.ts)) AS DOUBLE),
                   4) AS jaccard
      FROM cand c
      JOIN sets a ON a.doc_id = c.doc_a
      JOIN sets b ON b.doc_id = c.doc_b
    ) WHERE {PFJ_DEN} * inter >= {PFJ_NUM} * uni
    ORDER BY doc_a, doc_b
    """


def hot_shingle_rank(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Session artifact shared by the prefix-filter joins (q121/q122):
    (tk, ranked) where tk = (doc_id, ts) word-3-gram shingle SETS and
    ranked = the exploded (doc_id, tok, dfreq, r, l) stream with r =
    rarity rank within the doc and l = set size. Both queries
    previously rebuilt this identical pipeline (document-frequency
    aggregate + two windows over the full shingle stream) per call and
    left the superseded persisted copies behind. When the MinHash
    family has already shingled the corpus this session, its persisted
    sh frame is reused (one corpus shingle pass for the whole MinHash +
    prefix-join family); an isolated prefix-join session builds the
    value-identical shingle-only frame instead of paying the K MinHash
    aggregates. Released by tables.release_hot."""
    import kinesyslog_spark.queries.dedup as dd
    from kinesyslog_spark.tables import artifact

    # One corpus shingle pass for the whole MinHash + prefix-join
    # family: dedup.hot_shingles is the session's shingle artifact
    # whichever family built it first; tk is a rename over it, never a
    # second persisted copy.
    tk = dd.hot_shingles(spark, sf_dir).select(
        "doc_id", F.col("sh").alias("ts")
    )

    def build(keep):
        toks = tk.select("doc_id", F.explode("ts").alias("tok"))
        df = toks.groupBy("tok").agg(F.count("*").alias("dfreq"))
        wr = W.partitionBy("doc_id").orderBy("dfreq", "tok")
        return (
            toks.join(df, "tok")
            .withColumn("r", F.row_number().over(wr))
            .withColumn("l", F.count("*").over(W.partitionBy("doc_id")))
        )

    return tk, artifact(spark, sf_dir, "shingle_rank", build)


@query("q121_prefix_filter_join", oracle=_q121_oracle())
def q121_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesyslog_spark.operators.text import jaccard
    from kinesyslog_spark.queries.dedup import _par

    tk, ranked = hot_shingle_rank(spark, sf_dir)
    # Integer FLOOR division on both engines (DuckDB `//`): a bare
    # int/int is real division there, and CAST(double AS BIGINT) ROUNDS
    # in DuckDB while .cast("long") truncates in Spark — the one-ulp
    # trap that would shorten one side's prefix and silently lose recall.
    plen = (
        F.col("l")
        - F.floor((PFJ_NUM * F.col("l") + PFJ_DEN - 1) / PFJ_DEN).cast("long")
        + 1
    )
    # A filter over the cached rank stream — no per-call persist (the
    # expensive windows live in the session artifact).
    pref = ranked.filter(F.col("r") <= plen).select("doc_id", "tok", "r", "l")
    if PFJ_MAX_CANDIDATES:
        est = (
            pref.groupBy("tok")
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(F.sum(F.col("c") * (F.col("c") - 1) / 2).alias("est"))
            .collect()[0]["est"]
        )
        if est is not None and est > PFJ_MAX_CANDIDATES:
            # Abort leaves nothing behind: tk/ranked are session
            # artifacts owned by tables.release_hot, and pref is a
            # plain filter over them.
            raise CandidateBudgetExceeded(
                f"q121 prefix join would generate ~{int(est):,} candidate "
                f"pairs (budget {PFJ_MAX_CANDIDATES:,}). An EXACT "
                "jaccard>=0.6 join is inherently superlinear on "
                "template-saturated corpora — use the probabilistic LSH "
                "twins (q26_minhash_lsh / q28_ngram_jaccard) at this "
                "scale, or raise SPARK_GRAFT_PFJ_MAX_CANDIDATES."
            )
    x = pref.select(
        "tok", F.col("doc_id").alias("doc_a"),
        F.col("r").alias("ra"), F.col("l").alias("la"),
    )
    y = pref.select(
        "tok", F.col("doc_id").alias("doc_b"),
        F.col("r").alias("rb"), F.col("l").alias("lb"),
    )
    # PPJoin pruning (Xiao et al. 2008) — both are NECESSARY conditions
    # of jaccard >= t, so the result set is untouched; they run as
    # integer compares on the matched prefix rows BEFORE the expensive
    # distinct + array-intersect verify. Without them the prefix join is
    # corpus-quadratic on a template-heavy corpus: the sf1 probe
    # measured 41M candidates (137x the sf0.1 count for 10x docs) and
    # 232 s end-to-end, almost all of it verifying chance pairs.
    # - length filter: jac <= min(l)/max(l), so require
    #   DEN*min >= NUM*max;
    # - positional filter: a match at prefix ranks (ra, rb) bounds the
    #   overlap by 1 + min(la-ra, lb-rb), which must reach
    #   alpha = ceil(t/(1+t) * (la+lb)), the overlap jaccard >= t needs.
    alpha = F.floor(
        (PFJ_NUM * (F.col("la") + F.col("lb")) + (PFJ_NUM + PFJ_DEN) - 1)
        / (PFJ_NUM + PFJ_DEN)
    ).cast("long")
    cand = (
        x.repartition(_par(x), "tok")
        .join(y, "tok")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(
            (PFJ_DEN * F.least("la", "lb") >= PFJ_NUM * F.greatest("la", "lb"))
            & (
                1 + F.least(F.col("la") - F.col("ra"), F.col("lb") - F.col("rb"))
                >= alpha
            )
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    sets = tk.filter(F.size("ts") > 0).select(
        "doc_id", "ts", F.size("ts").alias("n")
    )
    a = sets.select(
        F.col("doc_id").alias("doc_a"), F.col("ts").alias("ts_a"),
        F.col("n").alias("na"),
    )
    b = sets.select(
        F.col("doc_id").alias("doc_b"), F.col("ts").alias("ts_b"),
        F.col("n").alias("nb"),
    )
    inter = F.size(F.array_intersect("ts_a", "ts_b"))
    uni = F.col("na") + F.col("nb") - inter
    return (
        cand.repartition(_par(cand))
        .join(a, "doc_a").join(b, "doc_b")
        .select(
            "doc_a", "doc_b", inter.alias("inter"), uni.alias("uni"),
            F.round(jaccard(F.col("ts_a"), F.col("ts_b")), 4).alias("jaccard"),
        )
        .filter(PFJ_DEN * F.col("inter") >= PFJ_NUM * F.col("uni"))
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# Q122 — EXACT containment join (asymmetric set similarity):
# C(A,B) = |A∩B| / |A| >= t finds documents CONTAINED in others —
# quotes, excerpts, and supersede-style duplication that symmetric
# Jaccard blurs (a small doc inside a big one has low jaccard but
# containment ~1). Prefix filtering adapts to containment: if
# C(A,B) >= t then A's first l - ceil(t*l) + 1 rarest shingles MUST
# intersect B (otherwise A∩B fits inside A-minus-prefix, which has
# fewer than t*l elements) — so candidates come from joining A's
# prefix shingles against the FULL posting list, which rare-first
# ordering keeps near-singleton. Same shingle sets and floor-division
# discipline as q121; verify is the exact integer cross-multiplication
# 10*|A∩B| >= 9*|A|.
#
# Scale: prefix side is O(plen) rows/doc; the posting side is the
# exploded corpus, but the join key is a RARE shingle by construction
# — the standard containment-join economics (Melnik/Garcia-Molina
# style). Output is ordered pairs (contained, container).
# ---------------------------------------------------------------------------

CNT_NUM, CNT_DEN = 9, 10  # containment threshold t = 0.9


def _q122_oracle() -> str:
    return f"""
    WITH tk0 AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      FROM documents
    ), tk AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(toks) - 1),
                 i -> array_to_string(toks[i:i+2], ' '))) AS ts
      FROM tk0 WHERE len(toks) >= 3
    ), df AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS dfreq
      FROM (SELECT doc_id, unnest(ts) AS tok FROM tk) GROUP BY tok
    ), ranked AS (
      SELECT t.doc_id, t.tok,
             ROW_NUMBER() OVER (PARTITION BY t.doc_id
                                ORDER BY d.dfreq, t.tok) AS r,
             COUNT(*) OVER (PARTITION BY t.doc_id) AS l
      FROM (SELECT doc_id, unnest(ts) AS tok FROM tk) t
      JOIN df d ON d.tok = t.tok
    ), pref AS (
      SELECT doc_id, tok FROM ranked
      WHERE r <= l - ({CNT_NUM} * l + {CNT_DEN} - 1) // {CNT_DEN} + 1
    ), post AS (
      SELECT doc_id, unnest(ts) AS tok FROM tk
    ), cand AS (
      SELECT DISTINCT p.doc_id AS doc_a, q.doc_id AS doc_b
      FROM pref p JOIN post q ON p.tok = q.tok AND p.doc_id <> q.doc_id
    ), sets AS (
      SELECT doc_id, ts, len(ts) AS n FROM tk WHERE len(ts) > 0
    )
    SELECT doc_a, doc_b, containment FROM (
      SELECT c.doc_a, c.doc_b,
             len(list_intersect(a.ts, b.ts)) AS inter, a.n AS na,
             ROUND(len(list_intersect(a.ts, b.ts)) / CAST(a.n AS DOUBLE), 4)
               AS containment
      FROM cand c
      JOIN sets a ON a.doc_id = c.doc_a
      JOIN sets b ON b.doc_id = c.doc_b
    ) WHERE {CNT_DEN} * inter >= {CNT_NUM} * na
    ORDER BY doc_a, doc_b
    """


@query("q122_containment_join", oracle=_q122_oracle())
def q122_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesyslog_spark.queries.dedup import _par

    tk, ranked = hot_shingle_rank(spark, sf_dir)
    plen = (
        F.col("l")
        - F.floor((CNT_NUM * F.col("l") + CNT_DEN - 1) / CNT_DEN).cast("long")
        + 1
    )
    # Filter over the cached rank stream (see q121); dfreq rides each
    # prefix row, so the budget estimate below needs no re-join.
    pref = ranked.filter(F.col("r") <= plen).select(
        F.col("doc_id").alias("doc_a"), "tok", "dfreq"
    )
    # The q121 candidate-budget guardrail, adapted to the asymmetric
    # join: candidates = sum over prefix tokens of pf(tok) * df(tok)
    # (prefix occurrences x full posting list) == the plain SUM of
    # dfreq over prefix ROWS — one cheap aggregate, computed exactly,
    # before the unbounded join can launch.
    if PFJ_MAX_CANDIDATES:
        est = (
            pref.agg(F.sum("dfreq").alias("est")).collect()[0]["est"]
        )
        if est is not None and est > PFJ_MAX_CANDIDATES:
            # Abort leaves nothing behind: the frames are session
            # artifacts owned by tables.release_hot.
            raise CandidateBudgetExceeded(
                f"q122 containment join would generate ~{int(est):,} "
                f"candidate pairs (budget {PFJ_MAX_CANDIDATES:,}). An "
                "EXACT containment>=0.9 join is candidate-bound on "
                "template-saturated corpora — use the probabilistic LSH "
                "twins (q26_minhash_lsh / q28_ngram_jaccard) at this "
                "scale, or raise SPARK_GRAFT_PFJ_MAX_CANDIDATES."
            )
    post = ranked.select(F.col("doc_id").alias("doc_b"), "tok")
    cand = (
        pref.select("doc_a", "tok")
        .repartition(_par(pref), "tok")
        .join(post, "tok")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sets = tk.filter(F.size("ts") > 0).select(
        "doc_id", "ts", F.size("ts").alias("n")
    )
    a = sets.select(
        F.col("doc_id").alias("doc_a"), F.col("ts").alias("ts_a"),
        F.col("n").alias("na"),
    )
    b = sets.select(
        F.col("doc_id").alias("doc_b"), F.col("ts").alias("ts_b"),
    )
    inter = F.size(F.array_intersect("ts_a", "ts_b"))
    return (
        cand.repartition(_par(cand))
        .join(a, "doc_a").join(b, "doc_b")
        .select(
            "doc_a", "doc_b", inter.alias("inter"), F.col("na"),
            F.round(inter.cast("double") / F.col("na"), 4).alias("containment"),
        )
        .filter(CNT_DEN * F.col("inter") >= CNT_NUM * F.col("na"))
        .select("doc_a", "doc_b", "containment")
        .orderBy("doc_a", "doc_b")
    )
