"""Round-3 retrieval/prep extensions — q89 hybrid-retrieval RRF fusion,
q90 interval-overlap range join, q91 sliding-window document chunking.

q89 — Reciprocal Rank Fusion (Cormack/Clarke/Buettcher, SIGIR'09) of the
engine's two retrieval baselines: the BM25 lexical top-k (q68) and a
dense cosine top-k against a fixed probe embedding. RRF(d) =
Σ_lists 1/(K + rank_list(d)) with the standard K=60 — the fusion every
hybrid (lexical+vector) RAG stack runs.

q90 — interval-overlap range join: count of "in-flight" lineitems per
calendar week (ordered but not yet shipped: the [o_orderdate, l_shipdate]
interval overlaps the week). Spark has no native range join; the
scale-correct plan is BIN REPLICATION — each interval explodes to the
(bounded, small) set of week bins it spans, then a plain hash aggregate
on the bin key. Never builds the point×interval theta join.

q91 — sliding-window token chunking (size 64, stride 48 → 16-token
overlap): the context-window chunker of a RAG / pretraining pipeline.
Per (doc, chunk): token count + md5 content fingerprint.

Cross-engine determinism: ranks are ROW_NUMBER over (rounded score,
id) — integer outputs; the RRF double is the shared floor-quantization
`floor(x*1e4 + 0.5)/1e4` on BOTH engines (q73 lesson — Spark round(double)
goes through shortest-decimal repr, DuckDB rounds the binary value).
Chunk content compares as an md5 hex STRING (operators/text.py rule).

Scale notes (100 TB posture):
- q89: both input rankings are already global top-k (per-partition top-k
  + tiny driver merge); the fusion join touches ≤2k rows. Rank
  assignment over the ≤top-k sets is the window-free broadcast
  self-join (small_frame_rank) — zero unpartitioned window nodes.
- q90: the orderkey join co-partitions two big tables on their join key
  (one shuffle each); bin expansion is per-row and bounded by the
  fulfillment window (weeks spanned), then the week aggregate combines
  map-side; the week-spine prefix sums are a broadcast self-join over
  the calendar-bounded spine (a few hundred rows).
- q91: map-only over the tokenized corpus (hot_tokens); expansion factor
  is ceil(doc_len/stride) rows per doc, each a bounded slice. No shuffle
  at all beyond the output ordering.

Reference parity: north-star extensions; no reference analog (the
reference relay has no retrieval/corpus surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesyslog_spark.operators.ranking import small_frame_rank
from kinesyslog_spark.queries import query
from kinesyslog_spark.queries.llm import EMB_DIM
from kinesyslog_spark.queries.retrieval import _q68_oracle, q68_bm25_topk
from kinesyslog_spark.operators.text import TOKEN_RE
from kinesyslog_spark.tables import hot_tokens, hot_vectors, load_table

RRF_K = 60          # the standard reciprocal-rank-fusion constant
RRF_PROBE = 0       # dense query = embedding of vec_id 0 (excluded from hits)
RRF_DENSE_TOPK = 20
RRF_OUT = 20

CHUNK_SIZE = 64
CHUNK_STRIDE = 48


def _fq(col):
    """Shared 4-dp floor quantization (q73 rule) — identical on DuckDB."""
    return F.floor(col * 10000.0 + 0.5) / 10000.0


# ---------------------------------------------------------------------------
# Q89 — hybrid retrieval: RRF fusion of BM25 and dense cosine rankings
# ---------------------------------------------------------------------------

def _q89_oracle() -> str:
    return f"""
    WITH lex AS ({_q68_oracle()}),
    lexr AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank
      FROM lex
    ),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    p AS (SELECT emb AS pemb FROM e WHERE vec_id = {RRF_PROBE}),
    sim AS (
      SELECT e.vec_id AS doc_id,
        ROUND(
          list_sum(list_transform(range(1, {EMB_DIM + 1}), i -> p.pemb[i] * e.emb[i]))
          / (sqrt(list_sum(list_transform(range(1, {EMB_DIM + 1}), i -> p.pemb[i] * p.pemb[i])))
             * sqrt(list_sum(list_transform(range(1, {EMB_DIM + 1}), i -> e.emb[i] * e.emb[i])))),
          4) AS cos
      FROM p CROSS JOIN e
      WHERE e.vec_id <> {RRF_PROBE}
    ),
    denser AS (
      SELECT doc_id, dense_rank FROM (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS dense_rank
        FROM sim
      ) WHERE dense_rank <= {RRF_DENSE_TOPK}
    ),
    fused AS (
      SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
             l.lex_rank, d.dense_rank,
             FLOOR((COALESCE(1.0 / ({RRF_K} + l.lex_rank), 0.0)
                    + COALESCE(1.0 / ({RRF_K} + d.dense_rank), 0.0)) * 10000 + 0.5)
               / 10000 AS rrf
      FROM lexr l FULL OUTER JOIN denser d ON l.doc_id = d.doc_id
    )
    SELECT doc_id, lex_rank, dense_rank, rrf
    FROM fused
    ORDER BY rrf DESC, doc_id
    LIMIT {RRF_OUT}
    """


@query("q89_hybrid_rrf", oracle=_q89_oracle())
def q89_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Lexical list: the q68 BM25 top-k plan, re-ranked 1..k. Both rank
    # assignments below run over already-top-k-bounded sets (<= 20
    # rows); they use the window-free broadcast self-join rank so the
    # engine-wide "zero unpartitioned window nodes" invariant holds
    # (tests/test_plans.py::test_registry_has_no_unpartitioned_windows).
    lex = q68_bm25_topk(spark, sf_dir)
    lexr = small_frame_rank(
        lex.select("doc_id", "bm25"),
        [("bm25", "desc"), ("doc_id", "asc")],
        "lex_rank",
    ).select("doc_id", F.col("lex_rank").cast("long").alias("lex_rank"))

    # Dense list: brute-force cosine vs one broadcast probe (q21 shape).
    emb = hot_vectors(spark, sf_dir)
    probe = emb.filter(F.col("vec_id") == RRF_PROBE).select(
        F.col("emb").alias("pemb"), F.col("nrm").alias("pnorm")
    )
    dot = F.aggregate(
        F.zip_with("pemb", "emb", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    sim = (
        emb.filter(F.col("vec_id") != RRF_PROBE)
        .crossJoin(F.broadcast(probe))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(dot / (F.col("pnorm") * F.col("nrm")), 4).alias("cos"),
        )
    )
    denser = small_frame_rank(
        sim.orderBy(F.desc("cos"), F.asc("doc_id")).limit(RRF_DENSE_TOPK),
        [("cos", "desc"), ("doc_id", "asc")],
        "dense_rank",
    ).select("doc_id", F.col("dense_rank").cast("long").alias("dense_rank"))

    rrf = _fq(
        F.coalesce(1.0 / (RRF_K + F.col("lex_rank")), F.lit(0.0))
        + F.coalesce(1.0 / (RRF_K + F.col("dense_rank")), F.lit(0.0))
    )
    return (
        lexr.join(denser, "doc_id", "full_outer")
        .select("doc_id", "lex_rank", "dense_rank", rrf.alias("rrf"))
        .orderBy(F.desc("rrf"), "doc_id")
        .limit(RRF_OUT)
    )


# ---------------------------------------------------------------------------
# Q90 — interval-overlap range join via bin replication
# ---------------------------------------------------------------------------

@query(
    "q90_range_join_inflight",
    oracle="""
    WITH j AS (
      SELECT l.l_orderkey,
             date_trunc('week', o.o_orderdate) AS ws,
             date_trunc('week', l.l_shipdate) AS we
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE date_trunc('week', o.o_orderdate) <= date_trunc('week', l.l_shipdate)
    ), wk AS (
      SELECT l_orderkey, unnest(generate_series(ws, we, INTERVAL 7 DAY)) AS week
      FROM j
    )
    SELECT epoch_ms(week) AS week_ms,
           COUNT(*) AS n_inflight,
           COUNT(DISTINCT l_orderkey) AS n_orders
    FROM wk
    GROUP BY week
    ORDER BY week_ms
    """,
)
def q90_range_join_inflight(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DELTA SWEEP, not bin replication: each interval contributes exactly
    # two boundary events (+1 at its first week, -1 one week past its
    # last), the per-week deltas aggregate with map-side combine, and a
    # cumulative sum over the calendar-week spine reconstructs the
    # overlap count. Shuffled volume is O(#intervals), independent of
    # interval WIDTH — the synthetic data's multi-year outliers made the
    # explode form shuffle 37M expanded rows here (120 weeks/interval
    # avg); the sweep shuffles 2 deltas per interval and was measured 4x
    # faster at sf0.1. Distinct-order counts sweep exactly as well:
    # every lineitem of an order shares ws (= trunc(o_orderdate)), so a
    # per-order coverage union is the contiguous [ws, max(we)].
    # The final prefix sum runs over the week spine — calendar-sized
    # (one row per week of history), not data-sized — as a forward
    # explode + hash aggregate (never an unpartitioned window).
    week = 7 * 24 * 3600 * 1000  # one week in ms
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            "l_orderkey",
            F.unix_millis(F.date_trunc("week", "o_orderdate")).alias("ws"),
            F.unix_millis(F.date_trunc("week", "l_shipdate")).alias("we"),
        )
        .filter(F.col("ws") <= F.col("we"))
    )

    def deltas(iv: DataFrame) -> DataFrame:
        ev = iv.select(
            F.explode(
                F.array(
                    F.struct(F.col("ws").alias("wk"), F.lit(1).alias("d")),
                    F.struct((F.col("we") + week).alias("wk"), F.lit(-1).alias("d")),
                )
            ).alias("e")
        )
        return ev.groupBy(F.col("e.wk").alias("wk")).agg(F.sum("e.d").alias("d"))

    li_d = deltas(j)
    ord_d = deltas(
        j.groupBy("l_orderkey").agg(F.min("ws").alias("ws"), F.max("we").alias("we"))
    )
    bounds = j.agg(F.min("ws").alias("mn"), F.max("we").alias("mx"))
    spine = bounds.select(
        F.explode(F.sequence("mn", "mx", F.lit(week).cast("long"))).alias(
            "week_ms"
        ),
        "mx",  # carried so the forward explode needs no extra join
    )
    # Running prefix sums by the SAME bin-replication strategy as the
    # join itself: every delta row explodes forward to all weeks it
    # affects (bounded by the calendar span, a few hundred bins), then
    # one hash aggregate on the week — no unpartitioned window, no
    # nested-loop join anywhere in the plan.
    deltas_wk = (
        spine.join(
            li_d.withColumnRenamed("d", "dl"), spine.week_ms == li_d.wk, "left"
        ).drop("wk")
        .join(
            ord_d.withColumnRenamed("d", "do"), spine.week_ms == ord_d.wk, "left"
        ).drop("wk")
        .select(
            "week_ms",
            "mx",
            F.coalesce("dl", F.lit(0)).alias("dl"),
            F.coalesce("do", F.lit(0)).alias("do"),
        )
    )
    fwd = deltas_wk.select(
        F.explode(
            F.sequence("week_ms", "mx", F.lit(week).cast("long"))
        ).alias("wk_out"),
        "dl",
        "do",
    )
    return (
        fwd.groupBy(F.col("wk_out").alias("week_ms"))
        .agg(
            F.sum("dl").alias("n_inflight"),
            F.sum("do").alias("n_orders"),
        )
        .filter(F.col("n_inflight") > 0)
        .orderBy("week_ms")
    )


# ---------------------------------------------------------------------------
# Q91 — sliding-window token chunking (RAG / context-window prep)
# ---------------------------------------------------------------------------

@query(
    "q91_doc_chunks",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks
      FROM documents
    ), sized AS (
      SELECT doc_id, toks, len(toks) AS n,
             CASE WHEN len(toks) <= {CHUNK_SIZE} THEN 1
                  ELSE CAST(CEIL((len(toks) - {CHUNK_SIZE}) / {CHUNK_STRIDE}.0) AS BIGINT) + 1
             END AS n_chunks
      FROM tok
    ), ex AS (
      SELECT doc_id, toks, n, unnest(generate_series(0, n_chunks - 1)) AS k
      FROM sized
    ), ch AS (
      SELECT doc_id, k AS chunk_idx,
             list_slice(toks, 1 + k * {CHUNK_STRIDE},
                        LEAST(k * {CHUNK_STRIDE} + {CHUNK_SIZE}, n)) AS chunk
      FROM ex
    )
    SELECT doc_id, chunk_idx,
           CAST(len(chunk) AS BIGINT) AS n_tokens,
           md5(array_to_string(chunk, ' ')) AS chunk_hash
    FROM ch
    ORDER BY doc_id, chunk_idx
    """,
)
def q91_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = hot_tokens(spark, sf_dir)
    n = F.size("toks")
    n_chunks = (
        F.when(n <= CHUNK_SIZE, F.lit(1).cast("long"))
        .otherwise(F.ceil((n - CHUNK_SIZE) / F.lit(float(CHUNK_STRIDE))) + 1)
    )
    ex = tok.select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias("k"),
    )
    start = (F.lit(1) + F.col("k") * CHUNK_STRIDE).cast("int")
    chunk = F.slice("toks", start, CHUNK_SIZE)
    return (
        ex.select(
            "doc_id",
            F.col("k").alias("chunk_idx"),
            F.size(chunk).cast("long").alias("n_tokens"),
            F.md5(F.concat_ws(" ", chunk)).alias("chunk_hash"),
        )
        .orderBy("doc_id", "chunk_idx")
    )
