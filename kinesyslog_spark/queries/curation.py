"""Corpus-curation statistics: Gopher repetition signals (q127),
cross-source vocabulary overlap (q128), the token frequency spectrum
with Good-Turing re-estimates (q129), per-source distribution
divergence (q130), the Zipf-law fit (q131), and token dispersion /
burstiness (q132).

q127 — per-document duplicate-n-gram fractions, the Gopher
("Scaling Language Models", Rae et al. 2021, §A1.1) repetition
filters: a document whose most-common 2-gram covers too much of the
text, or whose 3-gram stream is mostly duplicates, is boilerplate or
spam and gets dropped before training. All three signals are exact
rationals over integer gram counts (identical division both engines).

q128 — pairwise vocabulary Jaccard between corpus sources: the
overlap matrix a curation pipeline builds to spot mirrored / scraped-
twice sources before mixture weighting. Distinct (source, word) pairs
joined on word, so the expansion per word is bounded by #sources², and
set sizes join back from a #sources-row broadcast.

q129 — frequency-of-frequencies N_r ("how many tokens occur exactly
r times") plus the Good-Turing smoothed count r* = (r+1)·N_{r+1}/N_r —
the spectrum that drives unseen-mass estimates and tokenizer vocab
sizing. Every column is an exact integer or an exact rational of
integers.

Scale notes: q127 shuffles once on (doc_id, n, gram) then once on
doc_id — both keys are high-cardinality and unskewed. q128's word-join
fans out at most #sources rows per side per word (a per-word cap, not
a corpus cap); at 100 TB with thousands of sources you'd pre-aggregate
`(word, source_bitmap)` instead, which is the same single shuffle.
q129 is two cascaded map-side-combinable aggregations whose second
input (distinct frequencies) is tiny by Zipf's law.

Reference parity: north-star extensions (no reference analog — the
reference is a syslog relay, kinesyslog/message.py, with no corpus
analytics).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesyslog_spark.operators.ranking import small_frame_rank
from kinesyslog_spark.queries import query
from kinesyslog_spark.tables import hot_table, hot_tokens, hot_vocab

# DuckDB-side canonical tokenizer (identical stream to operators.text.tokens).
_TOK = "regexp_extract_all(lower(text), '[a-z0-9]+')"


def _grams(toks: Column, n: int) -> Column:
    """All word n-grams of a token array as space-joined strings.

    JVM-side: sequence + slice + concat_ws — no Python eval. Callers
    must guarantee size(toks) >= n (F.sequence(0, negative) would
    generate a DESCENDING sequence, not an empty one)."""
    return F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )


# ---------------------------------------------------------------------------
# Q127 — Gopher repetition signals (duplicate n-gram fractions per doc)
# ---------------------------------------------------------------------------

_Q127_ORACLE = f"""
WITH w AS (
  SELECT doc_id, {_TOK} AS ws FROM documents
  WHERE len({_TOK}) >= 3
), g AS (
  SELECT doc_id, 2 AS n,
         unnest(list_transform(range(1, len(ws)),
                i -> ws[i] || ' ' || ws[i+1])) AS gram
  FROM w
  UNION ALL
  SELECT doc_id, 3 AS n,
         unnest(list_transform(range(1, len(ws) - 1),
                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS gram
  FROM w
), c AS (
  SELECT doc_id, n, gram, COUNT(*) AS c FROM g GROUP BY 1, 2, 3
), d AS (
  SELECT doc_id, n,
         CAST(SUM(c) AS BIGINT) AS tot,
         CAST(MAX(c) AS BIGINT) AS mx,
         CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup
  FROM c GROUP BY 1, 2
)
SELECT doc_id,
       CAST(MAX(CASE WHEN n = 2 THEN tot END) AS BIGINT) AS n_grams2,
       ROUND(MAX(CASE WHEN n = 2 THEN mx END)
             / CAST(MAX(CASE WHEN n = 2 THEN tot END) AS DOUBLE), 4)
         AS top2_share,
       ROUND(MAX(CASE WHEN n = 2 THEN dup END)
             / CAST(MAX(CASE WHEN n = 2 THEN tot END) AS DOUBLE), 4)
         AS dup2_frac,
       ROUND(MAX(CASE WHEN n = 3 THEN dup END)
             / CAST(MAX(CASE WHEN n = 3 THEN tot END) AS DOUBLE), 4)
         AS dup3_frac
FROM d GROUP BY doc_id ORDER BY doc_id
"""


@query("q127_gopher_repetition", oracle=_Q127_ORACLE)
def q127_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc duplicate-gram stats: share of the most common 2-gram,
    and the fraction of 2-/3-gram positions whose gram occurs more
    than once in the same document. One (doc_id, n, gram) shuffle,
    one doc_id shuffle, conditional-agg pivot — no joins."""
    toks = hot_tokens(spark, sf_dir).filter(F.size("toks") >= 3)
    grams = toks.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(F.lit(2).alias("n"), _grams(F.col("toks"), 2).alias("gs")),
                F.struct(F.lit(3).alias("n"), _grams(F.col("toks"), 3).alias("gs")),
            )
        ).alias("e"),
    ).select("doc_id", F.col("e.n").alias("n"), F.explode("e.gs").alias("gram"))
    c = grams.groupBy("doc_id", "n", "gram").agg(F.count("*").alias("c"))
    d = c.groupBy("doc_id", "n").agg(
        F.sum("c").alias("tot"),
        F.max("c").alias("mx"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).alias("dup"),
    )

    def _only(n: int, col: str) -> Column:
        return F.max(F.when(F.col("n") == n, F.col(col)))

    return (
        d.groupBy("doc_id")
        .agg(
            _only(2, "tot").alias("n_grams2"),
            F.round(_only(2, "mx") / _only(2, "tot").cast("double"), 4).alias(
                "top2_share"
            ),
            F.round(_only(2, "dup") / _only(2, "tot").cast("double"), 4).alias(
                "dup2_frac"
            ),
            F.round(_only(3, "dup") / _only(3, "tot").cast("double"), 4).alias(
                "dup3_frac"
            ),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Q128 — cross-source vocabulary overlap (pairwise Jaccard matrix)
# ---------------------------------------------------------------------------

_Q128_ORACLE = f"""
WITH v AS (
  SELECT DISTINCT source, unnest({_TOK}) AS w FROM documents
), sizes AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM v GROUP BY source
), inter AS (
  SELECT a.source AS src_a, b.source AS src_b, CAST(COUNT(*) AS BIGINT) AS n_inter
  FROM v a JOIN v b ON a.w = b.w AND a.source < b.source
  GROUP BY 1, 2
)
SELECT src_a, src_b, n_inter, sa.n AS n_a, sb.n AS n_b,
       ROUND(n_inter / CAST(sa.n + sb.n - n_inter AS DOUBLE), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.source = src_a
JOIN sizes sb ON sb.source = src_b
ORDER BY src_a, src_b
"""


@query("q128_source_overlap", oracle=_Q128_ORACLE)
def q128_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary Jaccard for every source pair. distinct(source, word)
    → self-join on word (≤ #sources² rows per word) → pair counts;
    per-source set sizes broadcast back (a #sources-row table)."""
    docs = hot_table(spark, sf_dir, "documents")
    from kinesyslog_spark.operators.text import tokens

    v = docs.select(
        "source", F.explode(tokens(F.col("text"))).alias("w")
    ).distinct()
    sizes = v.groupBy("source").agg(F.count("*").alias("n"))
    a = v.alias("a")
    b = v.alias("b")
    inter = (
        a.join(b, (F.col("a.w") == F.col("b.w")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.join(
            F.broadcast(sizes.withColumnRenamed("n", "n_a")),
            F.col("source") == F.col("src_a"),
        )
        .drop("source")
        .join(
            F.broadcast(sizes.withColumnRenamed("n", "n_b")),
            F.col("source") == F.col("src_b"),
        )
        .drop("source")
        .select(
            "src_a", "src_b", "n_inter", "n_a", "n_b",
            F.round(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
                4,
            ).alias("jaccard"),
        )
        .orderBy("src_a", "src_b")
    )


# ---------------------------------------------------------------------------
# Q129 — token frequency spectrum + Good-Turing smoothed counts
# ---------------------------------------------------------------------------

_Q129_ORACLE = f"""
WITH tok AS (
  SELECT unnest({_TOK}) AS w FROM documents
), tf AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY w
), spec AS (
  SELECT c AS freq, CAST(COUNT(*) AS BIGINT) AS n_types FROM tf GROUP BY c
), tot AS (
  SELECT CAST(SUM(freq * n_types) AS BIGINT) AS corpus FROM spec
)
SELECT s.freq, s.n_types,
       CAST(s.freq * s.n_types AS BIGINT) AS mass,
       ROUND(s.freq * s.n_types / CAST(t.corpus AS DOUBLE), 4) AS corpus_share,
       ROUND((s.freq + 1) * nx.n_types / CAST(s.n_types AS DOUBLE), 4) AS gt_rstar
FROM spec s
CROSS JOIN tot t
LEFT JOIN spec nx ON nx.freq = s.freq + 1
ORDER BY s.freq
"""


@query("q129_freq_spectrum", oracle=_Q129_ORACLE)
def q129_freq_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N_r spectrum over the canonical token stream, with corpus-share
    and Good-Turing r* = (r+1)·N_{r+1}/N_r (null at spectrum gaps /
    the top frequency). Two cascaded map-side-combinable aggs; the
    spectrum self-join and the total are over the tiny N_r table."""
    # Global unigram counts come from the shared vocabulary artifact
    # (hot_vocab): instance COUNT == SUM(tf), no per-query token pass.
    tf = hot_vocab(spark, sf_dir).select(
        F.col("token").alias("w"), F.col("cnt").alias("c")
    )
    spec = tf.groupBy(F.col("c").alias("freq")).agg(
        F.count("*").alias("n_types")
    )
    # corpus total as a 1-row broadcast (an unpartitioned window over the
    # spectrum would single-task it; the spectrum is usually small but
    # its cardinality is data-dependent, so keep the invariant clean)
    tot = spec.agg(
        F.sum(F.col("freq") * F.col("n_types")).alias("corpus")
    )
    nxt = spec.select(
        (F.col("freq") - 1).alias("freq"), F.col("n_types").alias("n_next")
    )
    return (
        spec.join(F.broadcast(nxt), "freq", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "freq",
            "n_types",
            (F.col("freq") * F.col("n_types")).alias("mass"),
            F.round(
                (F.col("freq") * F.col("n_types")) / F.col("corpus").cast("double"),
                4,
            ).alias("corpus_share"),
            F.round(
                (F.col("freq") + 1) * F.col("n_next") / F.col("n_types").cast("double"),
                4,
            ).alias("gt_rstar"),
        )
        .orderBy("freq")
    )


# ---------------------------------------------------------------------------
# Q130 — per-source distribution divergence (TV / chi-square / KL)
# ---------------------------------------------------------------------------
#
# The domain-mixture diagnostic: how far each source's unigram
# distribution sits from the corpus distribution. Total variation is
# computed from EXACT cross-multiplied integer terms (|c_s*N_c -
# c_c*N_s| summed as DECIMAL(38,0) — no float accumulation at all);
# chi-square and KL quantize each per-word term to a 6-dp decimal
# before the sum (the q95 pattern: both engines add the SAME decimals,
# so summation order can't diverge). KL is in base-10 bans, only over
# words the source actually uses (0·log0 = 0). The (source × vocab)
# grid is |V|·|S| rows — fine while #sources is modest; at thousands
# of sources you'd keep the sparse (source, word) table and fold the
# missing-word mass analytically from the per-source totals.

_Q130_ORACLE = f"""
WITH tok AS (
  SELECT source, unnest({_TOK}) AS w FROM documents
), sc AS (
  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2
), st AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS ns FROM sc GROUP BY source
), cc AS (
  SELECT w, CAST(SUM(c) AS BIGINT) AS c_all FROM sc GROUP BY w
), nc AS (
  SELECT CAST(SUM(c_all) AS BIGINT) AS n_all FROM cc
), grid AS (
  SELECT st.source, st.ns, cc.w, cc.c_all, nc.n_all,
         COALESCE(sc.c, 0) AS c
  FROM st CROSS JOIN cc CROSS JOIN nc
  LEFT JOIN sc ON sc.source = st.source AND sc.w = cc.w
), terms AS (
  SELECT source, ns,
         CAST(ABS(c * n_all - c_all * ns) AS DECIMAL(38,0)) AS tv_num,
         CAST(ROUND(
           POWER(c / CAST(ns AS DOUBLE) - c_all / CAST(n_all AS DOUBLE), 2)
             / (c_all / CAST(n_all AS DOUBLE)), 6) AS DECIMAL(18,6)) AS chi2_t,
         CAST(ROUND(CASE WHEN c = 0 THEN 0.0 ELSE
           c / CAST(ns AS DOUBLE)
             * log10((c / CAST(ns AS DOUBLE)) / (c_all / CAST(n_all AS DOUBLE)))
           END, 6) AS DECIMAL(18,6)) AS kl_t,
         ns * (SELECT n_all FROM nc) AS denom
  FROM grid
)
SELECT source, ns AS n_tokens,
       FLOOR(CAST(SUM(tv_num) AS DOUBLE) / (2.0 * MAX(denom)) * 10000 + 0.5)
         / 10000 AS tv_dist,
       FLOOR(CAST(SUM(chi2_t) AS DOUBLE) * 10000 + 0.5) / 10000 AS chi2,
       FLOOR(CAST(SUM(kl_t) AS DOUBLE) * 10000 + 0.5) / 10000 AS kl_ban
FROM terms GROUP BY source, ns ORDER BY source
"""


@query("q130_source_divergence", oracle=_Q130_ORACLE)
def q130_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = hot_table(spark, sf_dir, "documents")
    from kinesyslog_spark.operators.text import tokens

    tok = docs.select("source", F.explode(tokens(F.col("text"))).alias("w"))
    sc = tok.groupBy("source", "w").agg(F.count("*").alias("c"))
    st = sc.groupBy("source").agg(F.sum("c").alias("ns"))
    cc = sc.groupBy("w").agg(F.sum("c").alias("c_all"))
    nc = cc.agg(F.sum("c_all").alias("n_all"))
    grid = (
        st.crossJoin(F.broadcast(cc))
        .crossJoin(F.broadcast(nc))
        .join(sc, ["source", "w"], "left")
        .fillna({"c": 0})
    )
    p_s = F.col("c") / F.col("ns").cast("double")
    p_c = F.col("c_all") / F.col("n_all").cast("double")
    terms = grid.select(
        "source", "ns",
        F.abs(
            F.col("c").cast("decimal(38,0)") * F.col("n_all")
            - F.col("c_all").cast("decimal(38,0)") * F.col("ns")
        ).alias("tv_num"),
        F.round(F.pow(p_s - p_c, F.lit(2)) / p_c, 6)
        .cast("decimal(18,6)").alias("chi2_t"),
        F.round(
            F.when(F.col("c") == 0, F.lit(0.0)).otherwise(
                p_s * F.log10(p_s / p_c)
            ),
            6,
        ).cast("decimal(18,6)").alias("kl_t"),
        (F.col("ns").cast("decimal(38,0)") * F.col("n_all")).alias("denom"),
    )
    q4 = lambda x: F.floor(x * 10000 + F.lit(0.5)) / 10000  # noqa: E731
    return (
        terms.groupBy("source", F.col("ns").alias("n_tokens"))
        .agg(
            q4(
                F.sum("tv_num").cast("double") / (2.0 * F.max("denom").cast("double"))
            ).alias("tv_dist"),
            q4(F.sum("chi2_t").cast("double")).alias("chi2"),
            q4(F.sum("kl_t").cast("double")).alias("kl_ban"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Q131 — Zipf law fit (log-log OLS over the token rank/frequency curve)
# ---------------------------------------------------------------------------
#
# alpha (the Zipf exponent) from an OLS of log10(freq) on log10(rank),
# ranks tie-broken deterministically (freq DESC, token ASC), capped at
# ZIPF_TOP ranks. Each log10 is quantized to a 6-dp decimal BEFORE the
# moment sums (q95's determinism pattern), so the five OLS moments are
# exact decimals on both engines and the final slope/r2 divide
# identical doubles.

ZIPF_TOP = 1000

_Q131_ORACLE = f"""
WITH tok AS (
  SELECT unnest({_TOK}) AS w FROM documents
), tf AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY w
), rk AS (
  SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, w ASC) AS r FROM tf
), pts AS (
  SELECT CAST(ROUND(log10(CAST(r AS DOUBLE)), 6) AS DECIMAL(12,6)) AS lx,
         CAST(ROUND(log10(CAST(c AS DOUBLE)), 6) AS DECIMAL(12,6)) AS ly
  FROM rk WHERE r <= {ZIPF_TOP}
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         SUM(lx) AS sx, SUM(ly) AS sy,
         SUM(lx * ly) AS sxy, SUM(lx * lx) AS sxx, SUM(ly * ly) AS syy
  FROM pts
)
SELECT n AS n_ranks,
       FLOOR(-(CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE)) * 10000 + 0.5) / 10000
         AS zipf_alpha,
       FLOOR((CAST(sy AS DOUBLE) / n
              - (CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE))
                * (CAST(sx AS DOUBLE) / n)) * 10000 + 0.5) / 10000
         AS intercept,
       FLOOR(CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE)
             / (CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE))
             * 10000 + 0.5) / 10000 AS r2
FROM m
"""


@query("q131_zipf_fit", oracle=_Q131_ORACLE)
def q131_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Shared vocabulary artifact (see q129).
    tf = hot_vocab(spark, sf_dir).select(
        F.col("token").alias("w"), F.col("cnt").alias("c")
    )
    # Top-K FIRST via TakeOrderedAndProject (the old form ranked the
    # entire vocabulary through a single-partition window — the same
    # scale hazard the round-4 verdict flagged on q84), then rank the
    # <= ZIPF_TOP survivors window-free (broadcast self-join).
    topk = tf.orderBy(F.col("c").desc(), F.col("w").asc()).limit(ZIPF_TOP)
    rk = small_frame_rank(
        topk, [("c", "desc"), ("w", "asc")], "r"
    ).select("c", "r")
    pts = rk.select(
        F.round(F.log10(F.col("r").cast("double")), 6)
        .cast("decimal(12,6)").alias("lx"),
        F.round(F.log10(F.col("c").cast("double")), 6)
        .cast("decimal(12,6)").alias("ly"),
    )
    m = pts.agg(
        F.count("*").alias("n"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(F.col("lx") * F.col("ly")).alias("sxy"),
        F.sum(F.col("lx") * F.col("lx")).alias("sxx"),
        F.sum(F.col("ly") * F.col("ly")).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    dxx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    dyy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    slope = num / dxx
    q4 = lambda x: F.floor(x * 10000 + F.lit(0.5)) / 10000  # noqa: E731
    return m.select(
        F.col("n").alias("n_ranks"),
        q4(-slope).alias("zipf_alpha"),
        q4(
            F.col("sy").cast("double") / F.col("n")
            - slope * (F.col("sx").cast("double") / F.col("n"))
        ).alias("intercept"),
        q4(num * num / (dxx * dyy)).alias("r2"),
    )


# ---------------------------------------------------------------------------
# Q132 — token dispersion: document frequency vs collection frequency,
# variance-to-mean burstiness
# ---------------------------------------------------------------------------
#
# For the top-K collection-frequency tokens: in how many documents the
# token appears (df), its total count (cf), and the variance-to-mean
# ratio of its per-document count (zeros included) — VMR > 1 = bursty
# (topical), VMR ≈ 1 = Poisson scatter (function word). The burstiness
# test behind stopword lists and keyword extraction. All moments are
# exact integers: VMR = (D·Σx² − cf²) / (D·cf) divides identical
# operands on both engines. Shape: one (doc, token) count shuffle, one
# token-moment shuffle, a top-K window over the token table, and a
# 1-row doc-count broadcast.

DISP_TOP = 20

_Q132_ORACLE = f"""
WITH dt AS (
  SELECT doc_id, unnest({_TOK}) AS w FROM documents
), dc AS (
  SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS x FROM dt GROUP BY 1, 2
), tm AS (
  SELECT w,
         CAST(COUNT(*) AS BIGINT) AS df,
         CAST(SUM(x) AS BIGINT) AS cf,
         CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM dc GROUP BY w
), nd AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS d FROM documents
), top AS (
  SELECT w, df, cf, sxx, ROW_NUMBER() OVER (ORDER BY cf DESC, w ASC) AS r
  FROM tm
)
SELECT w AS token, cf, df,
       ROUND(df / CAST(nd.d AS DOUBLE), 4) AS doc_frac,
       ROUND(CAST(nd.d * sxx - cf * cf AS DOUBLE) / (nd.d * cf), 4) AS vmr
FROM top CROSS JOIN nd
WHERE r <= {DISP_TOP}
ORDER BY cf DESC, token ASC
"""


@query("q132_token_dispersion", oracle=_Q132_ORACLE)
def q132_token_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-(doc, token) counts ARE the postings artifact (see q129).
    from kinesyslog_spark.tables import hot_postings

    dc = hot_postings(spark, sf_dir).select(
        "doc_id", F.col("token").alias("w"), F.col("tf").alias("x")
    )
    tm = dc.groupBy("w").agg(
        F.count("*").alias("df"),
        F.sum("x").alias("cf"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    nd = hot_table(spark, sf_dir, "documents").agg(F.count("*").alias("d"))
    # Top-K first (TakeOrderedAndProject) — never rank the whole
    # vocabulary through an unpartitioned window.
    top = tm.orderBy(F.col("cf").desc(), F.col("w").asc()).limit(DISP_TOP)
    return (
        top.crossJoin(F.broadcast(nd))
        .select(
            F.col("w").alias("token"),
            "cf",
            "df",
            F.round(F.col("df") / F.col("d").cast("double"), 4).alias("doc_frac"),
            F.round(
                (F.col("d") * F.col("sxx") - F.col("cf") * F.col("cf")).cast("double")
                / (F.col("d") * F.col("cf")),
                4,
            ).alias("vmr"),
        )
        .orderBy(F.col("cf").desc(), F.col("token").asc())
    )


# ---------------------------------------------------------------------------
# Q133 — tokenizer fertility per source (composes the trained BPE)
# ---------------------------------------------------------------------------
#
# Fertility (BPE tokens per whitespace word) and compression per
# source: the tokenizer-adequacy diagnostic — a source whose fertility
# is an outlier is in a script/domain the tokenizer was not trained
# for and will eat a disproportionate token budget. Both the plan and
# the oracle COMPOSE q109's encoder (queries/tokenizer.py) and add one
# source join + one per-source aggregate; fertility is an exact
# rational of the summed integer counts.


def _q133_oracle() -> str:
    from kinesyslog_spark.queries import ORACLE

    return f"""
    WITH enc AS (
      SELECT doc_id, n_words, n_tokens FROM ({ORACLE["q109_bpe_encode"]})
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(enc.n_words) AS BIGINT) AS n_words,
           CAST(SUM(enc.n_tokens) AS BIGINT) AS n_tokens,
           ROUND(SUM(enc.n_tokens) / CAST(SUM(enc.n_words) AS DOUBLE), 4)
             AS fertility
    FROM enc JOIN documents d USING (doc_id)
    GROUP BY d.source ORDER BY d.source
    """


def _register_q133_oracle() -> None:
    from kinesyslog_spark.queries import ORACLE

    ORACLE["q133_bpe_fertility"] = _q133_oracle()


@query("q133_bpe_fertility")
def q133_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesyslog_spark.queries import QUERIES

    enc = QUERIES["q109_bpe_encode"](spark, sf_dir).select(
        "doc_id", "n_words", "n_tokens"
    )
    src = hot_table(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        enc.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_words").alias("n_words"),
            F.sum("n_tokens").alias("n_tokens"),
            F.round(
                F.sum("n_tokens") / F.sum("n_words").cast("double"), 4
            ).alias("fertility"),
        )
        .orderBy("source")
    )


_register_q133_oracle()
