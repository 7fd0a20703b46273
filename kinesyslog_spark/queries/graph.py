"""Q72 — weighted PageRank over the customer↔supplier revenue graph
(fixed-iteration numeric propagation, the classic iterative workload).

Graph: undirected bipartite edges (customer c, supplier s) weighted by
their total lineitem revenue (lineitem ⋈ orders, the same money-decimal
arithmetic as Q02/Q03). PageRank with damping 0.85, exactly
`PR_ITERATIONS` iterations from a uniform start — complementing q40's
convergence-loop connected components with the fixed-step form (no
driver-side convergence check; the plan is a static 5-deep join chain
Catalyst optimizes as a whole).

Cross-engine float determinism (the established pattern, three layers):
- per-edge contribution `rank * w / tw` is computed in DOUBLE on
  identical operands (all decimal operands are few enough digits to be
  exactly representable), then ROUND(,12) -> DECIMAL(28,12);
- the per-node sum runs in exact decimal (order-independent);
- the new rank is ROUND((1-d)/n + d*acc, 9) -> DECIMAL(10,9) (ranks are
  < 1, so 9 decimals stay exactly double-representable for the next
  iteration's multiply).
The oracle unrolls the same 5 iterations as chained CTEs from the same
expressions, so both engines walk bit-identical intermediate ranks.

Scale notes: each iteration is one shuffle on dst (map-side partial
sums) plus a join of ranks — ranks and out-weights are node-cardinality
tables, orders of magnitude smaller than edges. The rank-frame
broadcast is COUNT-GATED (`_PR_BROADCAST_MAX_NODES`, the q140 pattern):
while the node table fits, each iteration broadcasts it; past the cap
the edge table persists hash-partitioned on src and nodes on node, so
every iteration's joins reuse that partitioning and exchange only the
node-sized frames (the local analogue of bucketing both sides by node
id). Both plan shapes are pinned by
tests/test_plans.py:test_q72_pagerank_broadcast_gate_both_shapes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesyslog_spark.queries import query
from kinesyslog_spark.queries.relational import _t, dec
from kinesyslog_spark.tables import artifact

PR_ITERATIONS = 5
PR_DAMPING = 0.85
PR_TOPK = 20

# Rank rows are (long node, decimal(10,9)) ≈ 24 B each in the unrolled
# broadcast build. A fixed node cap can't protect every deployment: 20M
# nodes is a ~480 MB build, fine on a 128 GiB local JVM but past the
# broadcast-timeout/memory-pressure line on a default 1-4 GiB executor.
# So the EFFECTIVE cap is derived at call time from the session's own
# executor memory (~10% of it for the build, the planner's classic
# broadcast headroom), and this module variable is an OVERRIDE: set it
# to an int (tests pin 0 to force the co-partitioned shape) or leave it
# None to take the derived value. Same count-gated pattern as q140's
# _ADJ_BROADCAST_MAX_EDGES: the gate is driven by a REAL node count
# (already materialized for the 1/n base rank), not Catalyst's
# estimate, which demonstrably degrades through the iteration chain.
_PR_BROADCAST_MAX_NODES: int | None = None
_PR_RANK_ROW_BYTES = 24
_PR_BROADCAST_MEM_FRACTION = 0.10


def _mem_bytes(s: str) -> int:
    s = s.strip().lower()
    mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    for suf, m in mult.items():
        if s.endswith(suf + "b"):
            return int(float(s[:-2]) * m)
        if s.endswith(suf):
            return int(float(s[:-1]) * m)
    return int(float(s))


def _pr_broadcast_cap(spark: SparkSession) -> int:
    """Max node count whose rank frame this session should broadcast.

    Explicit override wins; otherwise ~10% of the configured executor
    memory (driver memory in local mode, Spark's own 1g default last)
    divided by the 24 B/row build cost."""
    if _PR_BROADCAST_MAX_NODES is not None:
        return _PR_BROADCAST_MAX_NODES
    mem = "1g"
    for key in ("spark.executor.memory", "spark.driver.memory"):
        try:
            mem = spark.conf.get(key)
            break
        except Exception:
            continue
    try:
        budget = _PR_BROADCAST_MEM_FRACTION * _mem_bytes(mem)
    except ValueError:
        budget = _PR_BROADCAST_MEM_FRACTION * (1 << 30)
    return int(budget / _PR_RANK_ROW_BYTES)


def _q72_oracle() -> str:
    d = PR_DAMPING
    edges = """
    e0 AS (
      SELECT o_custkey AS c, l_suppkey AS s,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS w_dec
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_custkey, l_suppkey
    ),
    edges AS (
      SELECT 'c' || CAST(c AS VARCHAR) AS src, 's' || CAST(s AS VARCHAR) AS dst,
             CAST(w_dec AS DOUBLE) AS w, w_dec FROM e0
      UNION ALL
      SELECT 's' || CAST(s AS VARCHAR), 'c' || CAST(c AS VARCHAR),
             CAST(w_dec AS DOUBLE), w_dec FROM e0
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    outw AS (
      SELECT src AS node, CAST(SUM(w_dec) AS DOUBLE) AS tw
      FROM edges GROUP BY src
    ),
    en AS (
      SELECT e.src, e.dst, e.w / o.tw AS nw
      FROM edges e JOIN outw o ON e.src = o.node
    ),
    r0 AS (
      SELECT node, CAST(ROUND(1.0 / (SELECT n FROM nn), 9) AS DECIMAL(10,9)) AS rank
      FROM nodes
    )"""
    steps = []
    for i in range(1, PR_ITERATIONS + 1):
        steps.append(f"""
    acc{i} AS (
      SELECT e.dst AS node,
             SUM(CAST(ROUND(CAST(r.rank AS DOUBLE) * e.nw, 12)
                 AS DECIMAL(28,12))) AS acc
      FROM en e
      JOIN r{i - 1} r ON e.src = r.node
      GROUP BY e.dst
    ),
    r{i} AS (
      SELECT n.node,
             CAST(ROUND((1.0 - {d}) / (SELECT n FROM nn)
                  + {d} * CAST(COALESCE(a.acc, 0) AS DOUBLE), 9)
                  AS DECIMAL(10,9)) AS rank
      FROM nodes n LEFT JOIN acc{i} a ON n.node = a.node
    )""")
    return f"""
    WITH {edges},{",".join(steps)}
    SELECT node, CAST(rank AS DOUBLE) AS rank
    FROM r{PR_ITERATIONS}
    ORDER BY rank DESC, node
    LIMIT {PR_TOPK}
    """


def _pr_graph(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, int, DataFrame]:
    """(nodes, n, en): distinct node frame, node count, and the
    normalized (src, dst, nw) edge table — persisted in the shape the
    session's broadcast cap selects (see q72_pagerank's shape note).

    A session artifact: the normalized edge table is iteration- AND
    call-invariant (pure function of the corpus), yet every q72 call
    once re-ran the lineitem ⋈ orders aggregate and leaked a fresh
    persisted copy of edges/nodes/en. Keyed on the EFFECTIVE broadcast
    cap so a re-tuned cap (the plan-shape tests pin 0) rebuilds under
    the right shape instead of returning frames persisted for the other
    one (the hot_minhash_pairs budget-knob pattern)."""
    cap = _pr_broadcast_cap(spark)
    return artifact(spark, sf_dir, "pagerank_graph",
                    lambda keep: _pr_build(spark, sf_dir, cap, keep),
                    knobs=(cap,))


def _pr_build(spark, sf_dir, cap, keep):
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    e0 = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey", "l_suppkey")
        .agg(
            F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
            .alias("w_dec")
        )
    )
    # Internal node ids are INTEGERS (customer 2k, supplier 2k+1): every
    # shuffle/join below keys on a long instead of a 'c123' string — same
    # grouping sets, same summed values, so oracle parity is untouched;
    # only the final projection renders the 'c'/'s' label. The symmetric
    # edge pair is produced by a single explode pass over e0 (a union of
    # two selects recomputes the join+aggregate TWICE).
    c_node = F.col("o_custkey") * 2
    s_node = F.col("l_suppkey") * 2 + 1
    edges = keep(
        e0.select(
            F.explode(
                F.array(
                    F.struct(c_node.alias("src"), s_node.alias("dst")),
                    F.struct(s_node.alias("src"), c_node.alias("dst")),
                )
            ).alias("e"),
            "w_dec",
        ).select(
            F.col("e.src").alias("src"),
            F.col("e.dst").alias("dst"),
            F.col("w_dec").cast("double").alias("w"),
            "w_dec",
        )
    )
    nodes = keep(edges.select(F.col("src").alias("node")).distinct())
    n = keep.count(nodes)  # driver scalar (graph size), like q40's convergence check
    outw = (
        edges.groupBy("src")
        .agg(F.sum("w_dec").cast("double").alias("tw"))
        .withColumnRenamed("src", "node")
    )
    # Fold the out-weight normalization into the edge table ONCE: the
    # normalized weight nw = w / tw is iteration-invariant, so each of
    # the PR_ITERATIONS rounds joins one table fewer. nw is the same
    # double on both engines (w and tw are doubles cast from exact
    # decimal sums), so rank*nw stays bit-identical to the oracle.
    en = edges.join(outw, edges.src == outw.node).select(
        "src", "dst", (F.col("w") / F.col("tw")).alias("nw")
    )
    # Broadcast the node-sized rank/contribution frames only while the
    # REAL node count says they fit (over the cap, the hint would OOM
    # every executor's broadcast build). Past the cap, fall back to
    # co-partitioned shuffle joins: en persists hash-partitioned on src
    # and nodes on node, so each iteration exchanges ONLY the node-sized
    # rank/contribution frames — the edge table's persisted partitioning
    # is reused and it is never reshuffled (the local analogue of
    # bucketing both join sides by node id on a cluster).
    # edges (and, past the cap, the plain node frame superseded by the
    # co-partitioned copy) are build-only: the registry drops them once
    # the returned frames are materialized.
    if n > cap:
        en = en.repartition("src")
        nodes = keep(nodes.repartition("node"))
    return nodes, n, en


@query("q72_pagerank", oracle=_q72_oracle())
def q72_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes, n, en = _pr_graph(spark, sf_dir)
    if n <= _pr_broadcast_cap(spark):
        hint = F.broadcast
    else:
        def hint(df: DataFrame) -> DataFrame:
            return df

    base = (1.0 - PR_DAMPING) / n
    # The rank lineage is LINEAR (each r is consumed exactly once by the
    # next iteration), so no per-iteration persist is needed: one final
    # action runs all PR_ITERATIONS shuffles in a single job, saving an
    # action+materialization round-trip per iteration (measured ~2x at
    # sf0.1). edges/nodes/outw stay persisted — they fan out.
    r = nodes.select(
        "node",
        F.round(F.lit(1.0) / n, 9).cast("decimal(10,9)").alias("rank"),
    )
    # Ranks and contributions are NODE-cardinality frames; broadcast
    # them explicitly while small — Catalyst's size estimate degrades
    # through the 5-deep iteration chain, and without the hint the
    # en-side join fell to SortMergeJoin, range-shuffling the EDGE table
    # once per iteration (the executed plan showed 5 SortMergeJoins).
    # With the hint each iteration is: broadcast ranks -> map over
    # persisted edges -> one dst-keyed exchange for the partial-summed
    # aggregate. Over _PR_BROADCAST_MAX_NODES, `hint` is identity and
    # the co-partitioned persists above carry the joins instead.
    for _ in range(PR_ITERATIONS):
        contrib = (
            en.join(hint(r), en.src == r.node)
            .select(
                "dst",
                F.round(
                    F.col("rank").cast("double") * F.col("nw"), 12
                ).cast("decimal(28,12)").alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("acc"))
        )
        r = nodes.join(
            hint(contrib), nodes.node == contrib.dst, "left"
        ).select(
            "node",
            F.round(
                F.lit(base)
                + PR_DAMPING * F.coalesce(F.col("acc"), F.lit(0)).cast("double"),
                9,
            ).cast("decimal(10,9)").alias("rank"),
        )
    label = F.when(
        F.col("node") % 2 == 0,
        F.concat(F.lit("c"), (F.col("node") / 2).cast("long").cast("string")),
    ).otherwise(
        F.concat(F.lit("s"), ((F.col("node") - 1) / 2).cast("long").cast("string"))
    )
    return (
        r.select(label.alias("node"), F.col("rank").cast("double").alias("rank"))
        .orderBy(F.desc("rank"), "node")
        .limit(PR_TOPK)
    )
