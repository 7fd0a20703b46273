"""Q181 — SimHash near-dup recall audit on a deterministic sample.

Round-10 verdict #2: q27's former 5x13 blocking silently dropped 10.4B
cap-excluded slots at sf10 with NO instrument measuring what fraction
of true hamming<=4 pairs that cost — q172's recall audit covered the
MinHash family only. This is the same sample-bounded design pointed at
the SimHash family, against the round-11 combo blocking:

- deterministic hash sample of documents (modulus DERIVED from the
  corpus count as ceil(n/TARGET_SAMPLE), so the all-pairs ground truth
  is <= TARGET_SAMPLE^2/2 hamming evaluations at ANY corpus size);
- exact all-pairs sign-hamming<=4 ground truth on the sample (the
  declared q27 measure, xor+popcount on the hi/lo halves);
- found = q27's actual output restricted to the sample;
- missed pairs ATTRIBUTED: `missed_by_cap` counts missed pairs whose
  fingerprint groups DO share a pre-cap combo key (the hot-bucket cap
  dropped every shared bucket), `missed_by_blocking` counts pairs
  sharing no key at all. The C(10,6) generalized pigeonhole makes the
  latter structurally ZERO for hamming<=4 (4 errors leave >= 6 clean
  blocks), and this audit is the running proof — a future change to
  the block/combo counts that breaks the guarantee turns this column
  nonzero.

Output: one row — sample size, true pairs, found pairs, recall (1e-6
quantized), missed_by_cap, missed_by_blocking.

Plan shape: the sample predicate is a map-side hash filter; ground
truth is an m^2/2 expansion of the SAMPLED (doc, hi, lo) rows only;
found reuses q27's full machinery (session-memoized family artifacts)
and semi-joins to the sample; attribution joins the (tiny) missed set
against the combo-key frame. Nothing corpus-quadratic anywhere.

Reference parity: none (dedup-quality family; audits q27, composes
hot_simhash_groups).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesyslog_spark.operators.localframe import local_frame
from kinesyslog_spark.operators.text import hamming_from_halves, md5_int60
from kinesyslog_spark.queries import query
from kinesyslog_spark.queries.dedup import (
    HAMMING_THR,
    combo_keyed,
    hot_simhash_groups,

    simhash_ham_sql,
    simhash_pairs_ctes,
)
from kinesyslog_spark.queries.lshaudit import TARGET_SAMPLE, sample_mod

# The oracle derives the same modulus in-plan: a scalar subquery over
# the same `fps` CTE (documents with >= 1 token) the sample reads.
_MOD_SQL = (
    "(SELECT GREATEST(1, CAST(CEIL(COUNT(*) / "
    f"CAST({TARGET_SAMPLE} AS DOUBLE)) AS BIGINT)) FROM fps)"
)

_Q181_ORACLE = f"""
WITH {simhash_pairs_ctes()},
samp AS MATERIALIZED (
  SELECT doc_id, fp FROM fps
  WHERE CAST('0x' || substring(md5('sh:' || CAST(doc_id AS VARCHAR)), 1, 15)
        AS BIGINT) % {_MOD_SQL} = 0
),
truth AS MATERIALIZED (
  SELECT doc_a, doc_b FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           ({simhash_ham_sql("a.fp", "b.fp")}) AS hamming
    FROM samp a JOIN samp b ON a.doc_id < b.doc_id
  ) WHERE hamming <= {HAMMING_THR}
),
found AS MATERIALIZED (
  SELECT p.doc_a, p.doc_b FROM allpairs p
  JOIN samp sa ON sa.doc_id = p.doc_a
  JOIN samp sb ON sb.doc_id = p.doc_b
),
missed AS MATERIALIZED (
  SELECT t.doc_a, t.doc_b FROM truth t
  WHERE NOT EXISTS (
    SELECT 1 FROM found f
    WHERE f.doc_a = t.doc_a AND f.doc_b = t.doc_b
  )
),
msd AS MATERIALIZED (
  SELECT m.doc_a, m.doc_b, ga.rep AS rep_a, gb.rep AS rep_b
  FROM missed m
  JOIN fps fa ON fa.doc_id = m.doc_a JOIN grp ga ON ga.fp = fa.fp
  JOIN fps fb ON fb.doc_id = m.doc_b JOIN grp gb ON gb.fp = fb.fp
),
shared AS (
  SELECT DISTINCT m.doc_a, m.doc_b
  FROM msd m
  JOIN ckeys xa ON xa.rep = m.rep_a
  JOIN ckeys xb ON xb.rep = m.rep_b
    AND xb.cid = xa.cid AND xb.ckey = xa.ckey
),
agg AS (
  SELECT
    (SELECT CAST(COUNT(*) AS BIGINT) FROM samp) AS n_sample_docs,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_true_pairs,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM truth t
      JOIN found f ON f.doc_a = t.doc_a AND f.doc_b = t.doc_b)
      AS n_found_pairs,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM shared) AS missed_by_cap,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM missed)
      - (SELECT CAST(COUNT(*) AS BIGINT) FROM shared)
      AS missed_by_blocking
)
SELECT n_sample_docs, n_true_pairs, n_found_pairs,
       CASE WHEN n_true_pairs = 0 THEN 1.0
            ELSE FLOOR(CAST(n_found_pairs AS DOUBLE) / n_true_pairs
                       * 1000000 + 0.5) / 1000000 END AS recall,
       missed_by_cap, missed_by_blocking
FROM agg
"""


@query("q181_simhash_recall_audit", oracle=_Q181_ORACLE)
def q181_simhash_recall_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from kinesyslog_spark.tables import scratch

    grp, blk = hot_simhash_groups(spark, sf_dir)
    # per-doc fingerprint halves from the family artifact (one row per
    # doc; group hi/lo applies to every member)
    mem = grp.select(
        F.explode("members").alias("doc_id"), "rep", "hi", "lo"
    )
    mod = sample_mod(mem.count())
    with scratch() as keep:
        samp = keep(
            mem.filter(
                md5_int60(F.col("doc_id").cast("string"), "sh:") % mod == 0
            )
        )
        a = samp.select(
            F.col("doc_id").alias("doc_a"), F.col("rep").alias("rep_a"),
            F.col("hi").alias("hi_a"), F.col("lo").alias("lo_a"),
        )
        b = samp.select(
            F.col("doc_id").alias("doc_b"), F.col("rep").alias("rep_b"),
            F.col("hi").alias("hi_b"), F.col("lo").alias("lo_b"),
        )
        truth = keep(
            a.join(b, F.col("doc_a") < F.col("doc_b"))
            .filter(
                hamming_from_halves(
                    F.col("hi_a"), F.col("lo_a"), F.col("hi_b"), F.col("lo_b")
                ) <= HAMMING_THR
            )
            .select("doc_a", "doc_b", "rep_a", "rep_b")
        )
        ids = samp.select("doc_id")
        # the PERSISTED family pair artifact (hot_simhash_pairs), not the
        # raw q27 plan: the audit reads `found` from three actions
        # (hit/missed/shared), and an unpersisted q27 re-executed its
        # whole combo-join tail per action — 5.3 s for the first count
        # alone at sf0.1 (OPTIMIZATION_r12)
        from kinesyslog_spark.queries.simresolve import hot_simhash_pairs

        found = (
            hot_simhash_pairs(spark, sf_dir)
            .join(ids.withColumnRenamed("doc_id", "doc_a"), "doc_a", "left_semi")
            .join(ids.withColumnRenamed("doc_id", "doc_b"), "doc_b", "left_semi")
            .select("doc_a", "doc_b")
        )
        hit = truth.join(found, ["doc_a", "doc_b"], "left_semi")
        missed = keep(
            truth.join(found, ["doc_a", "doc_b"], "left_anti")
        )
        # attribution: does the missed pair's rep pair share ANY pre-cap
        # combo key? (tiny set x combo frame — two hash joins)
        keyed = combo_keyed(blk).select("doc_id", "cid", "ckey")
        ka = keyed.select(
            F.col("doc_id").alias("rep_a"), "cid", "ckey"
        )
        kb = keyed.select(
            F.col("doc_id").alias("rep_b"), "cid", "ckey"
        )
        shared = (
            missed.join(ka, "rep_a")
            .join(kb, ["rep_b", "cid", "ckey"])
            .select("doc_a", "doc_b")
            .distinct()
        )
        n_samp = samp.count()
        n_true = truth.count()
        n_found = hit.count()
        n_missed = missed.count()
        # the attribution join drives the combo-key explode over the whole
        # block frame — skip it when there is nothing to attribute (the
        # recall-1.0 common case at every measured SF)
        n_shared = shared.count() if n_missed else 0
        recall = 1.0 if n_true == 0 else _fl6(n_found / n_true)
        return local_frame(
            spark,
            [(
                n_samp, n_true, n_found, recall,
                n_shared, n_missed - n_shared,
            )],
            "n_sample_docs long, n_true_pairs long, n_found_pairs long, "
            "recall double, missed_by_cap long, missed_by_blocking long",
        )


def _fl6(x: float) -> float:
    import math

    return math.floor(x * 1000000 + 0.5) / 1000000
