"""Cardinality and quantile estimators with exactly-checkable error:
HyperLogLog (q134) and an equi-width histogram quantile sketch (q135).

Both follow the sketch-family contract (queries/bloom.py): the sketch
is DETERMINISTIC (md5_int60 hashes / pure arithmetic bucketing), the
estimate AND the exact ground truth are both output columns, and the
error is an exactly-checked number, not a probability claim — so the
DuckDB oracle replays every value bit-for-bit and any estimator bug
changes the output.

q134 — HyperLogLog over distinct l_partkey (Flajolet et al. 2007,
m = 64 registers): register index = low 6 bits of the 60-bit md5
hash, rank = leading-zero count of the remaining 54 bits + 1 computed
EXACTLY via bit_length (length(bin(w))), and the harmonic mean kept in
integers — sum(1 << (55 - M_j)) fits a BIGINT (<= 64·2^55), so the
only float op is the final alpha·m²·2^55/Z division of identical
operands. Registers merge by MAX: the sketch is a 64-row table,
unionable across shards — the distributed count-distinct design.

q135 — 128-bucket equi-width histogram over l_extendedprice: a one-
pass mergeable sketch (bucket counts add cellwise); p50/p90/p99 read
off by in-bucket linear interpolation and compared against the exact
rank-interpolated quantiles. Exact ground truth needs a global order
(row_number over x — single-partition by nature); it exists here to
CHECK the sketch, the sketch itself is one map-side-combined
aggregate. All arithmetic is identical-operand double math.

Reference parity: north-star extensions (no reference analog).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesyslog_spark.operators.localframe import local_frame
from kinesyslog_spark.operators.ranking import exact_rank_values
from kinesyslog_spark.operators.text import md5_int60
from kinesyslog_spark.queries import query
from kinesyslog_spark.queries.relational import _t

HLL_M = 64          # registers (p = 6)
HLL_ALPHA = 0.709   # Flajolet alpha_64
N_BUCKETS = 128
Q_PROBS = (0.5, 0.9, 0.99)

# ---------------------------------------------------------------------------
# Q134 — HyperLogLog cardinality of l_partkey
# ---------------------------------------------------------------------------

_Q134_ORACLE = f"""
WITH h AS (
  SELECT CAST('0x' || substring(md5('hll:' || l_partkey), 1, 15) AS BIGINT) AS hv
  FROM lineitem
), jr AS (
  SELECT hv % {HLL_M} AS j,
         CASE WHEN hv >> 6 = 0 THEN 55
              ELSE 54 - length(bin(hv >> 6)) + 1 END AS r
  FROM h
), regs AS (
  SELECT g.j, COALESCE(MAX(jr.r), 0) AS m_j
  FROM (SELECT unnest(range(0, {HLL_M})) AS j) g
  LEFT JOIN jr ON jr.j = g.j
  GROUP BY g.j
), z AS (
  SELECT CAST(SUM(1::BIGINT << CAST(55 - m_j AS INTEGER)) AS BIGINT) AS zs
  FROM regs
), ex AS (
  SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_exact FROM lineitem
)
SELECT CAST({HLL_M} AS BIGINT) AS m, ex.n_exact,
       CAST(FLOOR({HLL_ALPHA} * {HLL_M} * {HLL_M}
                  * (1::BIGINT << 55) / CAST(zs AS DOUBLE)) AS BIGINT)
         AS est_raw,
       ROUND(ABS({HLL_ALPHA} * {HLL_M} * {HLL_M} * (1::BIGINT << 55)
                 / CAST(zs AS DOUBLE) - ex.n_exact)
             / ex.n_exact, 4) AS err_frac
FROM z CROSS JOIN ex
"""


@query("q134_hll_cardinality", oracle=_Q134_ORACLE)
def q134_hll_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_partkey")
    h = li.select(
        md5_int60(F.col("l_partkey").cast("string"), prefix="hll:").alias("hv")
    )
    jr = h.select(
        (F.col("hv") % HLL_M).alias("j"),
        F.when(F.expr("shiftright(hv, 6)") == 0, F.lit(55))
        .otherwise(55 - F.length(F.expr("bin(shiftright(hv, 6))")))
        .alias("r"),
    )
    grid = spark.range(HLL_M).select(F.col("id").alias("j"))
    regs = (
        grid.join(jr.groupBy("j").agg(F.max("r").alias("r")), "j", "left")
        .select("j", F.coalesce("r", F.lit(0)).alias("m_j"))
    )
    z = regs.agg(
        F.sum(F.expr("shiftleft(1L, cast(55 - m_j as int))")).alias("zs")
    )
    ex = li.agg(F.count_distinct("l_partkey").alias("n_exact"))
    est = (
        F.lit(HLL_ALPHA) * HLL_M * HLL_M * F.expr("shiftleft(1L, 55)")
        / F.col("zs").cast("double")
    )
    return (
        z.crossJoin(F.broadcast(ex))
        .select(
            F.lit(HLL_M).cast("long").alias("m"),
            "n_exact",
            F.floor(est).cast("long").alias("est_raw"),
            F.round(
                F.abs(est - F.col("n_exact")) / F.col("n_exact"), 4
            ).alias("err_frac"),
        )
    )


# ---------------------------------------------------------------------------
# Q135 — equi-width histogram quantile sketch over l_extendedprice
# ---------------------------------------------------------------------------

_PROBS_SQL = ", ".join(f"CAST({p} AS DOUBLE)" for p in Q_PROBS)

# CTEs referenced more than once are MATERIALIZED (the q83/q109
# lesson), and the two rank lookups join `rn` on PLAIN materialized
# columns — joining on an expression of a cross-joined scalar made
# DuckDB nested-loop the 600k-row rn table against itself at sf0.1.
_Q135_ORACLE = f"""
WITH v AS (
  SELECT l_extendedprice AS x FROM lineitem
), mm AS MATERIALIZED (
  SELECT MIN(x) AS lo, MAX(x) AS hi, CAST(COUNT(*) AS BIGINT) AS n FROM v
), b AS (
  SELECT LEAST(CAST(FLOOR((x - mm.lo) / (mm.hi - mm.lo) * {N_BUCKETS})
               AS BIGINT), {N_BUCKETS - 1}) AS bkt
  FROM v CROSS JOIN mm
), hist AS (
  SELECT bkt, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY bkt
), cum AS MATERIALIZED (
  SELECT bkt, c,
         SUM(c) OVER (ORDER BY bkt ROWS UNBOUNDED PRECEDING) AS cum,
         COALESCE(SUM(c) OVER (ORDER BY bkt
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
  FROM hist
), probs AS (
  SELECT unnest([{_PROBS_SQL}]) AS p
), pick AS (
  SELECT p.p, MIN(cum.bkt) AS bkt
  FROM probs p JOIN cum ON cum.cum >= p.p * (SELECT n FROM mm)
  GROUP BY p.p
), est AS (
  SELECT pk.p,
         mm.lo + (mm.hi - mm.lo)
           * (pk.bkt + (pk.p * mm.n - c2.cum_prev) / c2.c) / {N_BUCKETS} AS est_q
  FROM pick pk JOIN cum c2 ON c2.bkt = pk.bkt CROSS JOIN mm
), rn AS MATERIALIZED (
  SELECT x, ROW_NUMBER() OVER (ORDER BY x) AS rn FROM v
), pk2 AS MATERIALIZED (
  SELECT p.p,
         CAST(FLOOR(p.p * (mm.n - 1)) AS BIGINT) + 1 AS rlo,
         LEAST(CAST(FLOOR(p.p * (mm.n - 1)) AS BIGINT) + 2, mm.n) AS rhi,
         p.p * (mm.n - 1) - FLOOR(p.p * (mm.n - 1)) AS g
  FROM probs p CROSS JOIN mm
), exact AS (
  SELECT pk2.p, lo1.x + pk2.g * (hi1.x - lo1.x) AS exact_q
  FROM pk2
  JOIN rn lo1 ON lo1.rn = pk2.rlo
  JOIN rn hi1 ON hi1.rn = pk2.rhi
)
SELECT e.p, ROUND(e.est_q, 4) AS est_q, ROUND(x.exact_q, 4) AS exact_q,
       ROUND(ABS(e.est_q - x.exact_q) / x.exact_q, 4) AS err_frac
FROM est e JOIN exact x ON e.p = x.p
ORDER BY e.p
"""


@query("q135_histogram_quantiles", oracle=_Q135_ORACLE)
def q135_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Sketch + exact arms over ONE persisted pass of the pruned column
    # (OPTIMIZATION_r12, guide §1.2/§5): the first cut left `v`
    # unpersisted and composed mm/hist/cum as lazy subtrees referenced
    # from several branches — the executed plan held 20 parquet scans
    # and 28 exchanges (plans/r12/q135_..._before.txt) for 3 output
    # rows. Now: one cached scan, mm collected ONCE (it was already
    # collected for the exact arm), the <=128-row histogram collected
    # driver-side, and the cum/pick/est composition done on literals /
    # tiny local frames with the IDENTICAL expression arithmetic
    # (double throughout; cum/pick comparisons are exact — counts are
    # far below 2^53), so est_q is bit-identical to the broadcast-join
    # form and the oracle twin still hash-matches.
    from kinesyslog_spark.tables import scratch

    with scratch() as keep:
        v = keep(_t(spark, sf_dir, "lineitem").select(
            F.col("l_extendedprice").alias("x")
        ))
        mrow = v.agg(
            F.min("x").alias("lo"), F.max("x").alias("hi"), F.count("*").alias("n")
        ).collect()[0]
        lo_v, hi_v, n = float(mrow["lo"]), float(mrow["hi"]), int(mrow["n"])
        lo, hi = F.lit(lo_v), F.lit(hi_v)
        hist_rows = (
            v.groupBy(
                F.least(
                    F.floor((F.col("x") - lo) / (hi - lo) * N_BUCKETS),
                    F.lit(N_BUCKETS - 1).cast("long"),
                ).alias("bkt")
            )
            .agg(F.count("*").alias("c"))
            .collect()
        )
        # cum / cum_prev / pick on the driver: integer running sums over the
        # <=N_BUCKETS-row histogram; `cum >= p * n` in Python is the same
        # IEEE double product and exact integer comparison as the former
        # broadcast-join predicate.
        by_bkt = sorted((int(r["bkt"]), int(r["c"])) for r in hist_rows)
        cum_of: dict[int, tuple[int, int]] = {}
        run = 0
        for bkt, c in by_bkt:
            run += c
            cum_of[bkt] = (c, run - c)  # (c, cum_prev)
        pick_rows = []
        for p in Q_PROBS:
            bkt = min(b for b, c in by_bkt if cum_of[b][0] + cum_of[b][1] >= p * n)
            c, cum_prev = cum_of[bkt]
            pick_rows.append((p, bkt, c, cum_prev))
        est = local_frame(
            spark, pick_rows, "p double, bkt long, c long, cum_prev long"
        ).select(
            "p",
            (
                lo
                + (hi - lo)
                * (
                    F.col("bkt")
                    + (F.col("p") * F.lit(n) - F.col("cum_prev")) / F.col("c")
                )
                / N_BUCKETS
            ).alias("est_q"),
        )
        # Exact-verify arm: histogram-selection rank lookup
        # (operators/ranking.py exact_rank_values) — the first cut ranked
        # the WHOLE corpus with with_global_rank (sampling pass + full
        # range exchange + per-bucket sorts) to read back six rows; the
        # rewrite needs only bucket-count aggregates over the pruned x
        # column, so nothing corpus-sized ever shuffles. The interpolation
        # arithmetic is unchanged (decimal(12,2) -> double is exact here),
        # so the oracle twin still hash-matches.
        import math

        rank_of: dict[int, float] = {}
        pk_rows = []
        for p in Q_PROBS:
            k = math.floor(p * (n - 1))
            rlo, rhi = k + 1, min(k + 2, n)
            pk_rows.append((p, rlo, rhi, p * (n - 1) - k))
            rank_of[rlo] = rank_of[rhi] = 0.0
        ranks = sorted(rank_of)
        got = exact_rank_values(
            v, "x", ranks, bounds=(lo_v, hi_v), total=n
        )
        rank_of = dict(zip(ranks, got))
    exact = local_frame(
        spark,
        [
            (p, rank_of[rlo] + g * (rank_of[rhi] - rank_of[rlo]))
            for p, rlo, rhi, g in pk_rows
        ],
        "p double, exact_q double",
    )
    return (
        est.join(exact, "p")
        .select(
            "p",
            F.round("est_q", 4).alias("est_q"),
            F.round("exact_q", 4).alias("exact_q"),
            F.round(
                F.abs(F.col("est_q") - F.col("exact_q")) / F.col("exact_q"), 4
            ).alias("err_frac"),
        )
        .orderBy("p")
    )


# ---------------------------------------------------------------------------
# Q136 — label-centroid cosine similarity matrix (cluster separation)
# ---------------------------------------------------------------------------
#
# Pairwise cosine between per-label centroid vectors — the cluster-
# separation report a curation pipeline reads before trusting label-
# based mixing or SemDeDup-style pruning. Components are quantized to
# scaled integers (floor(x·1e6), the queries/semantic.py convention)
# BEFORE the per-(label, dim) sum, so centroid sums are exact BIGINTs
# and the n's cancel out of the cosine — the only float math is the
# final dot/(|a||b|) of identical integer operands. At web scale the
# Σ(sa·sb) products outgrow BIGINT — switch the two dot aggregates to
# DECIMAL(38,0); the shape (one (label, dim) shuffle, a dim-aligned
# self-join over #labels·dim rows, a #labels-row norm broadcast) is
# unchanged.

_CQ = 1_000_000  # component quantization scale

_Q136_ORACLE = f"""
WITH comp AS (
  SELECT label, i.i AS dim,
         CAST(SUM(CAST(FLOOR(CAST(embedding[i.i] AS DOUBLE) * {_CQ}) AS BIGINT))
              AS BIGINT) AS s
  FROM embeddings, (SELECT unnest(range(1, 65)) AS i) i
  GROUP BY label, i.i
), nrm AS (
  SELECT label, CAST(SUM(s * s) AS BIGINT) AS n2 FROM comp GROUP BY label
), cnt AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS n FROM embeddings GROUP BY label
), dots AS (
  SELECT a.label AS label_a, b.label AS label_b,
         CAST(SUM(a.s * b.s) AS BIGINT) AS dot
  FROM comp a JOIN comp b ON a.dim = b.dim AND a.label < b.label
  GROUP BY a.label, b.label
)
SELECT label_a, label_b, ca.n AS n_a, cb.n AS n_b,
       ROUND(dot / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))), 4)
         AS cos_sim
FROM dots
JOIN nrm na ON na.label = label_a
JOIN nrm nb ON nb.label = label_b
JOIN cnt ca ON ca.label = label_a
JOIN cnt cb ON cb.label = label_b
ORDER BY label_a, label_b
"""


@query("q136_label_centroid_sim", oracle=_Q136_ORACLE)
def q136_label_centroid_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesyslog_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    comp = (
        emb.select(
            "label", F.posexplode(F.col("embedding").cast("array<double>"))
        )
        .select(
            "label",
            (F.col("pos") + 1).alias("dim"),
            F.floor(F.col("col") * _CQ).cast("long").alias("q"),
        )
        .groupBy("label", "dim")
        .agg(F.sum("q").alias("s"))
    )
    nrm = comp.groupBy("label").agg(
        F.sum(F.col("s") * F.col("s")).alias("n2")
    )
    cnt = emb.groupBy("label").agg(F.count("*").alias("n"))
    a = comp.alias("a")
    b = comp.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.dim") == F.col("b.dim"))
            & (F.col("a.label") < F.col("b.label")),
        )
        .groupBy(
            F.col("a.label").alias("label_a"), F.col("b.label").alias("label_b")
        )
        .agg(F.sum(F.col("a.s") * F.col("b.s")).alias("dot"))
    )
    return (
        dots.join(
            F.broadcast(nrm.select(F.col("label").alias("label_a"),
                                   F.col("n2").alias("n2a"))), "label_a")
        .join(
            F.broadcast(nrm.select(F.col("label").alias("label_b"),
                                   F.col("n2").alias("n2b"))), "label_b")
        .join(
            F.broadcast(cnt.select(F.col("label").alias("label_a"),
                                   F.col("n").alias("n_a"))), "label_a")
        .join(
            F.broadcast(cnt.select(F.col("label").alias("label_b"),
                                   F.col("n").alias("n_b"))), "label_b")
        .select(
            "label_a", "label_b", "n_a", "n_b",
            F.round(
                F.col("dot")
                / (F.sqrt(F.col("n2a").cast("double"))
                   * F.sqrt(F.col("n2b").cast("double"))),
                4,
            ).alias("cos_sim"),
        )
        .orderBy("label_a", "label_b")
    )
