"""Q140 — degree-oriented triangle counting over the co-ordered-parts
graph.

The third classic graph workload next to q40's connected components
and q72's PageRank. Graph: parts are nodes; an undirected edge links
two parts that appear in the same order (distinct pairs within
l_orderkey — per-order pair expansion is bounded by the max basket
size, 7 for TPC-H-shaped data, so the explode is O(|lineitem|)).

Algorithm: orient every edge from the lower to the higher endpoint in
the total order by (degree, id) (Suri & Vassilvitskii's "last reducer"
degree ordering, WWW'11), then count by EDGE ITERATION with oriented
adjacency intersection (Latapy's compact-forward family): for each
oriented edge (u, v), every z in N+(u) ∩ N+(v) closes the triangle
{u, v, z}, and the degree ordering makes (u, v) the unique base edge —
each triangle is found exactly once, as `match == True` against the
wedge-join formulation and the brute-force pin both attest.

Why edge iteration and not a wedge self-join: the wedge formulation
MATERIALIZES sum-over-u C(outdeg(u), 2) rows and shuffles them into the
closing equi-join — 41M shuffled wedge rows against 1.9M triangles at
sf0.1, and measured 2.6x slower on identical persisted inputs. Here
wedges exist only as in-memory hash probes inside array_intersect: the
only rows ever shuffled are the E oriented edges and the 3T triangle
corners (map-side-combined into per-node counts).

Scale notes: the (node -> sorted out-neighbors) adjacency table carries
exactly E array cells; the broadcast hint is applied ONLY when a real
edge count (one count over the persisted oriented-edge frame) says it
fits under _ADJ_BROADCAST_MAX_EDGES —
past that the two adjacency joins genuinely run as E-keyed shuffle
joins, never a wedge-count-sized exchange. (A mandatory F.broadcast
would NOT fall back — it fails the job past the broadcast limit — so
the hint is conditional, not forced; round-5 ADVICE.)
`edges`, `deg`, and `eo` are persisted because Spark does NOT reuse
exchanges across self-referencing subtrees (the operators/ranking.py
lesson): unpersisted, the edge build re-executed three times (once per
degree broadcast + once for the orientation join).

Everything is integer arithmetic — bit-exact on both engines; the
DuckDB oracle keeps the wedge-join formulation (its optimal plan at
this scale), which is exactly the point of an oracle: same triangles,
independently derived. CTEs read more than once are MATERIALIZED (the
q83/q109 re-inlining lesson).

Reference parity: none (graph analytics are a Spark-side extension;
the reference has no query layer).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesyslog_spark.queries import query
from kinesyslog_spark.queries.relational import _t
from kinesyslog_spark.tables import artifact

TRI_TOPK = 20

_Q140_ORACLE = f"""
WITH items AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
),
edges0 AS MATERIALIZED (
  SELECT DISTINCT a.pk AS pa, b.pk AS pb
  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
),
deg AS MATERIALIZED (
  SELECT node, COUNT(*) AS d FROM (
    SELECT pa AS node FROM edges0
    UNION ALL
    SELECT pb AS node FROM edges0
  ) GROUP BY node
),
eo AS MATERIALIZED (
  SELECT CASE WHEN (da.d, e.pa) < (db.d, e.pb) THEN e.pa ELSE e.pb END AS u,
         CASE WHEN (da.d, e.pa) < (db.d, e.pb) THEN e.pb ELSE e.pa END AS v,
         CASE WHEN (da.d, e.pa) < (db.d, e.pb) THEN db.d ELSE da.d END AS dv
  FROM edges0 e
  JOIN deg da ON e.pa = da.node
  JOIN deg db ON e.pb = db.node
),
tri AS MATERIALIZED (
  SELECT a.u AS x, a.v AS y, b.v AS z
  FROM eo a
  JOIN eo b ON a.u = b.u AND (a.dv, a.v) < (b.dv, b.v)
  JOIN eo c ON c.u = a.v AND c.v = b.v
),
pern AS (
  SELECT node, COUNT(*) AS n_triangles FROM (
    SELECT x AS node FROM tri
    UNION ALL SELECT y FROM tri
    UNION ALL SELECT z FROM tri
  ) GROUP BY node
)
SELECT CAST(node AS BIGINT) AS partkey,
       CAST(n_triangles AS BIGINT) AS n_triangles
FROM pern
ORDER BY n_triangles DESC, partkey
LIMIT {TRI_TOPK}
"""


# ~64 bytes/edge in the collected adjacency arrays -> ~3 GiB at this
# cap, the upper end of what a per-executor broadcast table should be.
_ADJ_BROADCAST_MAX_EDGES = 50_000_000


def _lex_lt(d1, n1, d2, n2):
    """(d1, n1) < (d2, n2) lexicographically."""
    return (d1 < d2) | ((d1 == d2) & (n1 < n2))


def _tri_graph(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame, int]:
    """(eo, adj, n_edges): degree-oriented edges, oriented adjacency
    arrays, and the real edge count that gates the adjacency broadcast.

    A session artifact: eo and adj are pure functions of the corpus,
    yet every q140 call once re-ran the lineitem self-join + degree
    orientation AND leaked a fresh persisted copy of items/edges/deg.
    One build per session: the per-call cost becomes the triangle
    enumeration itself (the declared computation). items/edges/deg are
    build-only intermediates the registry drops once eo and adj are
    materialized."""
    return artifact(spark, sf_dir, "triangle_graph",
                    lambda keep: _tri_build(spark, sf_dir, keep))


def _tri_build(spark, sf_dir, keep):
    # items, edges and deg are each read from two subtrees of the next
    # plan (self-join, the degree union, two degree broadcasts): count
    # each before that plan runs
    items = keep(
        _t(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .distinct()
    )
    items.count()
    b = items.select(F.col("ok"), F.col("pk").alias("pk_b"))
    edges = keep(
        items.join(b, "ok")
        .filter(F.col("pk") < F.col("pk_b"))
        .select(F.col("pk").alias("pa"), F.col("pk_b").alias("pb"))
        .distinct()
    )
    edges.count()
    deg = keep(
        edges.select(F.col("pa").alias("node"))
        .unionAll(edges.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    deg.count()
    # (node, degree) is node-cardinality — tiny next to edges; broadcast.
    dega = F.broadcast(deg.select(F.col("node").alias("pa"), F.col("d").alias("da")))
    degb = F.broadcast(deg.select(F.col("node").alias("pb"), F.col("d").alias("db")))
    a_low = _lex_lt(F.col("da"), F.col("pa"), F.col("db"), F.col("pb"))
    # Oriented adjacency: one array row per node, E cells total. The
    # broadcast decision is driven by a real size (one count over the
    # cached frame): hint only while the whole adjacency fits.
    eo = keep(
        edges.join(dega, "pa")
        .join(degb, "pb")
        .select(
            F.when(a_low, F.col("pa")).otherwise(F.col("pb")).alias("u"),
            F.when(a_low, F.col("pb")).otherwise(F.col("pa")).alias("v"),
        )
    )
    n_edges = keep.count(eo)
    adj = eo.groupBy("u").agg(F.array_sort(F.collect_list("v")).alias("nb"))
    return eo, adj, n_edges


@query("q140_triangle_count", oracle=_Q140_ORACLE)
def q140_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    eo, adj, n_edges = _tri_graph(spark, sf_dir)
    hint = F.broadcast if n_edges <= _ADJ_BROADCAST_MAX_EDGES else (lambda d: d)
    adj_u = hint(adj.select("u", F.col("nb").alias("nbu")))
    adj_v = hint(
        adj.select(F.col("u").alias("v"), F.col("nb").alias("nbv"))
    )
    tri = (
        eo.join(adj_u, "u")
        .join(adj_v, "v")
        .select(
            F.col("u").alias("x"),
            F.col("v").alias("y"),
            F.explode(F.array_intersect("nbu", "nbv")).alias("z"),
        )
    )
    # ONE pass over the triangle stream: each (x, y, z) contributes its
    # three vertices via a single explode feeding the map-side-combined
    # count. The previous 3-way unionAll of tri.select(x/y/z)
    # re-executed the whole enumeration subtree per branch (Spark does
    # not reuse exchanges across union arms — the established lesson),
    # i.e. 3x the intersect probes and 3x the spill; at sf10 that
    # tripled a multi-billion-row stage.
    pern = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        pern.select(
            F.col("node").cast("long").alias("partkey"),
            F.col("n_triangles").cast("long").alias("n_triangles"),
        )
        .orderBy(F.col("n_triangles").desc(), "partkey")
        .limit(TRI_TOPK)
    )
