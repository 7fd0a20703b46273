"""Q183/Q184 — giant-component governance for the dedup survivor
queries: star-verify refinement of the threshold-graph closure.

Round 11's q182 exposed the known transitive-chaining property of
hamming-threshold closure on a template corpus: at sf1 ONE connected
component holds 29,253 of 30,920 clustered members. Min-id survivorship
applied to that component would drop ~95% of flagged docs even though
most pairs in the chain are NOT mutual near-dups (A~B and B~C do not
imply A~C). q182's diagnostics see the hazard; this module acts on it.

Refinement semantics (deterministic, two stages + singleton fallout):

1. comp = connected components over the pair graph (as q182);
   candidate survivor = component min id.
2. STAR-VERIFY: a member stays with the survivor iff it is the
   survivor or the pair graph holds a DIRECT edge (member, survivor) —
   i.e. the member really is within the hamming/similarity threshold
   of the doc it would be deduped against. q27/q175's recall is EXACT,
   so pair-graph adjacency IS the threshold predicate; no fingerprints
   are re-read.
3. Members that fail stage 1 re-cluster among THEMSELVES: connected
   components over the evicted-induced subgraph, then the same
   star-verify against each sub-component's min. Members failing the
   second verify become SINGLETON clusters (survive untouched).

The result: every cluster is a STAR — each removed doc is certified
within-threshold of the doc that replaces it. A planted A–B–C chain
(A~B, B~C, A!~C) keeps both A and C ({A,B} + {C}); a giant chained
component fragments into verified stars + singletons instead of
mass-dropping under one min-id. Two levels bound the work: the
worst-case residue (a long path) degrades to singletons — the SAFE
direction for a dedup pipeline (keep, don't drop).

Output: one row per FINAL cluster with its originating q182 component
(orig_cluster_id / orig_n_members) and the stage that formed it
(1 = primary star, 2 = evicted-recluster star, 0 = singleton), so the
before/after drop-set arithmetic is one aggregate over this frame.

Scale: two CC loops over the PAIR graph (pointer-jumping, O(log d)
rounds) + adjacency semi-joins on (member, survivor) — all edge-scale,
orders of magnitude below the corpus; no new quadratic anywhere. The
pair stages inherit q27/q175's slot posture and fail-fasts.

Reference parity: none (the reference relay has no corpus surface);
SURVEY §2b LLM-pipeline extension, round-12 verdict task #1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesyslog_spark.queries import ORACLE, query
from kinesyslog_spark.queries.cluster import _local_checkpoint, connected_components
from kinesyslog_spark.queries.imageresolve import (
    hot_image_components,
    hot_image_pairs,
)
from kinesyslog_spark.queries.simresolve import (
    hot_simhash_components,
    hot_simhash_pairs,
)
from kinesyslog_spark.tables import artifact


def refine_star_assignments(pairs: DataFrame,
                            comp: DataFrame | None = None,
                            keep=None) -> DataFrame:
    """Star-verified cluster assignments over a near-dup pair frame
    (doc_a, doc_b[, ...]) with doc_a < doc_b and exact-recall edges.

    Returns one row per node of the pair graph:
    (doc_id, cluster_id, orig_cluster_id, stage) where cluster_id is
    the final cluster's survivor (= its min member id by construction)
    and stage is 1 (primary star), 2 (evicted-recluster star) or
    0 (singleton fallout).

    `comp` (node, component) supplies precomputed closure labels — the
    registered queries pass the session-memoized hot_*_components so
    one CC run feeds the closure rollup and the refinement. `keep` (an
    artifact build's callback) owns the checkpoints, as in
    connected_components."""
    ckpt = keep.checkpoint if keep is not None else _local_checkpoint
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    # adjacency in both directions — (node, nbr) is unique because the
    # pair frame is distinct on (doc_a < doc_b). Eager localCheckpoint,
    # not persist: adj's logical tree embeds the whole pair pipeline
    # (q27's fingerprint/blocking plan) TWICE, and every downstream
    # consumer here (two star-verify semi-joins, edges2, the second CC
    # loop) would re-analyze and re-stringify it per execution —
    # checkpointing collapses it to a flat scan (guide §5: truncate
    # very large plans). This is what made q183's analysis take 136 s
    # and OOM a 1 GiB-driver vanilla session (OPTIMIZATION_r12).
    adj = ckpt(edges.unionByName(
        edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst")
        )
    ).select(
        F.col("src").alias("node"), F.col("dst").alias("nbr")
    ))
    # CC output is already materialized (localCheckpoint by the loop's
    # convergence action, or the caller's persisted hot frame) — no
    # extra persist (the default-heap vanilla session is the budget
    # here; q183 OOM'd a 1g driver when every intermediate was
    # persisted on top of 180 queries' session state)
    if comp is None:
        comp = connected_components(edges, keep)
    comp = comp.select("node", F.col("component").alias("orig_cluster_id"))
    # stage 1: member stays iff it IS the min or is directly adjacent
    # to it (left-semi on the adjacency — edge-scale, never quadratic)
    is_min = F.col("node") == F.col("orig_cluster_id")
    adj_min = comp.join(
        adj.withColumnRenamed("nbr", "orig_cluster_id"),
        ["node", "orig_cluster_id"],
        "left_semi",
    )
    kept1 = comp.filter(is_min).unionByName(adj_min).select(
        F.col("node").alias("doc_id"),
        F.col("orig_cluster_id").alias("cluster_id"),
        "orig_cluster_id",
        F.lit(1).cast("int").alias("stage"),
    )
    # evicted feeds four consumers (edges2 twice, kept2, singles) and
    # its tree nests comp + adj + kept1 — checkpoint for the same
    # flat-plan reason as adj.
    evicted = ckpt(comp.join(
        kept1.select(F.col("doc_id").alias("node")), "node", "left_anti"
    ))
    # stage 2: CC over the evicted-induced subgraph, star-verify again
    ev_nodes = evicted.select("node")
    edges2 = (
        edges.join(ev_nodes.withColumnRenamed("node", "src"), "src", "left_semi")
        .join(ev_nodes.withColumnRenamed("node", "dst"), "dst", "left_semi")
        .select("src", "dst")
    )
    comp2 = connected_components(edges2, keep).select(
        "node", F.col("component").alias("cluster_id")
    )
    is_min2 = F.col("node") == F.col("cluster_id")
    adj_min2 = comp2.join(
        adj.withColumnRenamed("nbr", "cluster_id"),
        ["node", "cluster_id"],
        "left_semi",
    )
    kept2 = (
        comp2.filter(is_min2).unionByName(adj_min2)
        .join(evicted, "node")
        .select(
            F.col("node").alias("doc_id"), "cluster_id",
            "orig_cluster_id", F.lit(2).cast("int").alias("stage"),
        )
    )
    # singleton fallout: evicted members failing the second verify
    # (including evicted nodes isolated in the induced subgraph, which
    # never enter comp2) survive as their own cluster
    singles = (
        evicted.join(
            kept2.select(F.col("doc_id").alias("node")), "node", "left_anti"
        )
        .select(
            F.col("node").alias("doc_id"),
            F.col("node").alias("cluster_id"),
            "orig_cluster_id",
            F.lit(0).cast("int").alias("stage"),
        )
    )
    # the two CC loops' checkpoint blocks and the adjacency/evicted
    # checkpoints become garbage once nothing references their lineage
    # (reclaimed by the ContextCleaner); the registered form persists
    # the (node-scale, narrow) assignment (hot_refined_assignments)
    return kept1.unionByName(kept2).unionByName(singles)


def hot_refined_assignments(spark: SparkSession, sf_dir: str,
                            family: str) -> DataFrame:
    """Session artifact: refine_star_assignments over a registered pair
    family ('simhash' or 'image'), sharing one refinement run across
    q183/q185 (sim) and q184 (image) — before, EACH ran the full
    pipeline (two CC loops + the star joins) per session."""
    if family == "simhash":
        pairs, comp = hot_simhash_pairs, hot_simhash_components
    elif family == "image":
        pairs, comp = hot_image_pairs, hot_image_components
    else:
        raise KeyError(f"unknown refine family {family!r}")
    return artifact(
        spark, sf_dir, f"refined_{family}",
        lambda keep: refine_star_assignments(
            pairs(spark, sf_dir), comp(spark, sf_dir), keep
        ),
    )


def survivor_rollup(asg: DataFrame) -> DataFrame:
    """Per-final-cluster governance rollup of a star-verify assignment
    frame: (cluster_id, survivor_doc, n_members, n_removed,
    orig_cluster_id, orig_n_members, stage). stage is constant within a
    final cluster by construction (stars are formed whole at one
    stage). Lazy — cluster-scale aggregates over the (persisted)
    assignment."""
    orig = asg.groupBy("orig_cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("orig_n_members")
    )
    cl = asg.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.min("orig_cluster_id").alias("orig_cluster_id"),
        F.min("stage").cast("int").alias("stage"),
    )
    return (
        cl.join(orig, "orig_cluster_id")
        .select(
            "cluster_id",
            F.col("cluster_id").alias("survivor_doc"),
            "n_members",
            (F.col("n_members") - 1).cast("long").alias("n_removed"),
            "orig_cluster_id",
            "orig_n_members",
            "stage",
        )
        .orderBy("cluster_id")
    )


def refined_survivor_frame(pairs: DataFrame,
                           comp: DataFrame | None = None) -> DataFrame:
    """survivor_rollup over a one-shot refine_star_assignments run —
    the un-memoized form kept for ad-hoc pair frames (tests, probes).
    Registered queries go through hot_refined_assignments instead so
    one refinement feeds every governance query of a family."""
    return survivor_rollup(refine_star_assignments(pairs, comp))


def _refine_ctes(pairs_sql: str) -> str:
    """WITH-body through `asg` — the refinement's assignment-level CTE
    chain, shared by the survivor rollup (q183/q184) and the
    governance savings report (q185). CTEs referenced more than once
    are MATERIALIZED (DuckDB re-inlines per reference; the q83/q109
    lesson)."""
    return f"""pairs AS MATERIALIZED ({pairs_sql}),
    edges AS MATERIALIZED (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach AS (
      SELECT src AS node, src AS label FROM edges
      UNION
      SELECT e.src AS node, r.label
      FROM reach r JOIN edges e ON e.dst = r.node
    ),
    comp AS MATERIALIZED (
      SELECT node, MIN(label) AS orig_cluster_id FROM reach GROUP BY node
    ),
    kept1 AS MATERIALIZED (
      SELECT c.node AS doc_id, c.orig_cluster_id AS cluster_id,
             c.orig_cluster_id, 1 AS stage
      FROM comp c
      WHERE c.node = c.orig_cluster_id
         OR EXISTS (SELECT 1 FROM edges e
                    WHERE e.src = c.node AND e.dst = c.orig_cluster_id)
    ),
    evicted AS MATERIALIZED (
      SELECT c.node, c.orig_cluster_id FROM comp c
      WHERE c.node NOT IN (SELECT doc_id FROM kept1)
    ),
    edges2 AS MATERIALIZED (
      SELECT e.src, e.dst FROM edges e
      WHERE e.src IN (SELECT node FROM evicted)
        AND e.dst IN (SELECT node FROM evicted)
    ),
    reach2 AS (
      SELECT src AS node, src AS label FROM edges2
      UNION
      SELECT e.src AS node, r.label
      FROM reach2 r JOIN edges2 e ON e.dst = r.node
    ),
    comp2 AS MATERIALIZED (
      SELECT node, MIN(label) AS cluster_id FROM reach2 GROUP BY node
    ),
    kept2 AS MATERIALIZED (
      SELECT c.node AS doc_id, c.cluster_id,
             ev.orig_cluster_id, 2 AS stage
      FROM comp2 c
      JOIN evicted ev ON ev.node = c.node
      WHERE c.node = c.cluster_id
         OR EXISTS (SELECT 1 FROM edges2 e
                    WHERE e.src = c.node AND e.dst = c.cluster_id)
    ),
    asg AS MATERIALIZED (
      SELECT doc_id, cluster_id, orig_cluster_id, stage FROM kept1
      UNION ALL
      SELECT doc_id, cluster_id, orig_cluster_id, stage FROM kept2
      UNION ALL
      SELECT ev.node AS doc_id, ev.node AS cluster_id,
             ev.orig_cluster_id, 0 AS stage
      FROM evicted ev
      WHERE ev.node NOT IN (SELECT doc_id FROM kept2)
    )"""


def _refine_oracle(pairs_sql: str) -> str:
    """DuckDB twin of refine_star_assignments + refined_survivor_frame
    over a pairs SQL producing (doc_a, doc_b, ...)."""
    return f"""
    WITH RECURSIVE {_refine_ctes(pairs_sql)},
    orig AS (
      SELECT orig_cluster_id, CAST(COUNT(*) AS BIGINT) AS orig_n_members
      FROM asg GROUP BY orig_cluster_id
    ),
    cl AS (
      SELECT cluster_id,
             CAST(COUNT(*) AS BIGINT) AS n_members,
             MIN(orig_cluster_id) AS orig_cluster_id,
             CAST(MIN(stage) AS INTEGER) AS stage
      FROM asg GROUP BY cluster_id
    )
    SELECT cl.cluster_id,
           cl.cluster_id AS survivor_doc,
           cl.n_members,
           cl.n_members - 1 AS n_removed,
           cl.orig_cluster_id,
           orig.orig_n_members,
           cl.stage
    FROM cl JOIN orig USING (orig_cluster_id)
    ORDER BY cl.cluster_id
    """


def _q183_oracle() -> str:
    return _refine_oracle(ORACLE["q27_simhash_pairs"])


def _q184_oracle() -> str:
    return _refine_oracle(ORACLE["q175_image_projhash_neardup"])


@query("q183_simhash_refined_survivors", oracle=_q183_oracle())
def q183_simhash_refined_survivors(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q182's routing with giant-component governance: every drop is
    certified by a direct within-threshold edge to its survivor."""
    return survivor_rollup(
        hot_refined_assignments(spark, sf_dir, "simhash")
    )


@query("q184_image_refined_survivors", oracle=_q184_oracle())
def q184_image_refined_survivors(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q176's image routing under the same star-verify governance —
    the q175 projection-hash pair graph has the identical closure
    hazard (hamming-threshold transitive chains)."""
    return survivor_rollup(
        hot_refined_assignments(spark, sf_dir, "image")
    )


def _q185_oracle() -> str:
    return f"""
    WITH RECURSIVE {_refine_ctes(ORACLE["q27_simhash_pairs"])},
    tk AS (
      SELECT doc_id, source,
             CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
                  AS BIGINT) AS n_tokens
      FROM documents
    ),
    cdrop AS (
      SELECT doc_id FROM asg WHERE doc_id <> orig_cluster_id
    ),
    gdrop AS (
      SELECT doc_id FROM asg WHERE doc_id <> cluster_id
    )
    SELECT t.source,
           CAST(COUNT(c.doc_id) AS BIGINT) AS docs_closure,
           CAST(COALESCE(SUM(CASE WHEN c.doc_id IS NOT NULL
                                  THEN t.n_tokens END), 0) AS BIGINT)
             AS tokens_closure,
           CAST(COUNT(g.doc_id) AS BIGINT) AS docs_governed,
           CAST(COALESCE(SUM(CASE WHEN g.doc_id IS NOT NULL
                                  THEN t.n_tokens END), 0) AS BIGINT)
             AS tokens_governed,
           CAST(SUM(t.n_tokens) AS BIGINT) AS tokens_total
    FROM tk t
    LEFT JOIN cdrop c ON c.doc_id = t.doc_id
    LEFT JOIN gdrop g ON g.doc_id = t.doc_id
    GROUP BY t.source
    ORDER BY t.source
    """


@query("q185_governed_token_savings", oracle=_q185_oracle())
def q185_governed_token_savings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source governance report: what min-id survivorship over the
    raw closure WOULD remove (docs + tokens) vs what the star-verify
    refinement actually certifies for removal — the q178 token-savings
    shape with the before/after column a 100 TB dedup deployment signs
    off on. At sf10 the gap is 397,225 vs 5,028 docs (SCALING_R12 §1),
    which is the difference between a data-destroying bug and a dedup
    pass.

    One refinement pass feeds both columns: the assignment frame
    carries orig_cluster_id (closure label) next to cluster_id
    (governed label), so closure drop = doc != orig min and governed
    drop = doc != star survivor. Token counts ride the session
    hot_tokens frame; the drop frames are pair-graph-NODE-scale, which
    a boilerplate-heavy corpus makes corpus-scale — no forced
    broadcast (the r11 q182 lesson), AQE picks the strategy when they
    are actually small."""
    from kinesyslog_spark.tables import hot_table, hot_tokens

    asg = hot_refined_assignments(spark, sf_dir, "simhash")
    cdrop = asg.filter(F.col("doc_id") != F.col("orig_cluster_id")).select(
        "doc_id", F.lit(1).alias("_c")
    )
    gdrop = asg.filter(F.col("doc_id") != F.col("cluster_id")).select(
        "doc_id", F.lit(1).alias("_g")
    )
    docs = hot_table(spark, sf_dir, "documents").select("doc_id", "source")
    tk = (
        hot_tokens(spark, sf_dir)
        .select("doc_id", F.size("toks").cast("long").alias("n_tokens"))
        .join(docs, "doc_id")
        .join(cdrop, "doc_id", "left")
        .join(gdrop, "doc_id", "left")
    )
    return (
        tk.groupBy("source")
        .agg(
            F.count(F.col("_c")).cast("long").alias("docs_closure"),
            F.coalesce(
                F.sum(F.when(F.col("_c").isNotNull(), F.col("n_tokens"))),
                F.lit(0),
            ).cast("long").alias("tokens_closure"),
            F.count(F.col("_g")).cast("long").alias("docs_governed"),
            F.coalesce(
                F.sum(F.when(F.col("_g").isNotNull(), F.col("n_tokens"))),
                F.lit(0),
            ).cast("long").alias("tokens_governed"),
            F.sum("n_tokens").cast("long").alias("tokens_total"),
        )
        .orderBy("source")
    )
