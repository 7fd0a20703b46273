"""Q172 — MinHash-LSH recall audit on a deterministic sample.

The dedup family's quality claim, measured IN the engine: q26's
banding (4 bands x 3 rows) finds a near-dup pair with probability
1 - (1 - j^3)^4 — meaning true pairs near the threshold CAN be missed,
and a production dedup service audits that recall continuously. The
audit takes a deterministic hash sample of documents (making the
all-pairs ground truth affordable: the quadratic runs on the SAMPLE,
never the corpus — the modulus is DERIVED from the corpus count as
ceil(n_docs / TARGET_SAMPLE), so the expected sample size n_docs/mod
is <= TARGET_SAMPLE and the ground truth is <= TARGET_SAMPLE^2/2 pairs
at ANY corpus size; `tests/test_lshaudit_bound.py` pins the bound),
computes exact all-pairs Jaccard over it, and reports what fraction of
the true >= threshold pairs q26's candidate generation actually
surfaced. The count that sizes the modulus is one action on the
session-hot shingle frame (already persisted by hot_shingle_sigs); the
oracle derives the identical modulus in-plan via a scalar subquery
over the same `docs` CTE.

Output: one row — sample size, true pairs, found pairs, recall — plus
the band-model expectation at the threshold for context (both
quantized 1e-6).

Plan shape: the sample predicate is a map-side hash filter (q44's
bucket idiom); ground truth is an m^2/2 pair expansion of the SAMPLED
shingle arrays only; the found side reuses q26's full machinery and
semi-joins to the sample. Nothing corpus-quadratic anywhere.

Reference parity: none (dedup-quality family; audits q26, composes
hot_shingle_sigs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesyslog_spark.operators.localframe import local_frame
from kinesyslog_spark.operators.text import jaccard, md5_int60
from kinesyslog_spark.queries import query
from kinesyslog_spark.queries.dedup import (
    JACCARD_THR,
    LSH_BANDS,
    LSH_ROWS,
    hot_shingle_sigs,
    minhash_vpairs_cte,
    hot_minhash_pairs,
)

# Expected ground-truth sample size cap.  mod = ceil(n_docs / TARGET)
# gives n_docs / mod <= TARGET docs in expectation, so the all-pairs
# ground truth is <= TARGET^2/2 Jaccard evaluations no matter how big
# the corpus is (1e9 docs -> mod ~2e6 -> still ~512 sampled docs).
TARGET_SAMPLE = 512


def sample_mod(n_docs: int) -> int:
    """Corpus-count-derived sampling modulus: smallest mod with
    n_docs / mod <= TARGET_SAMPLE (and >= 1 for tiny corpora)."""
    import math

    return max(1, math.ceil(n_docs / TARGET_SAMPLE))


# The oracle derives the same modulus in-plan: a scalar subquery over
# the same `docs` CTE the sample reads.
_MOD_SQL = (
    "(SELECT GREATEST(1, CAST(CEIL(COUNT(*) / "
    f"CAST({TARGET_SAMPLE} AS DOUBLE)) AS BIGINT)) FROM docs)"
)

_SAMPLE_SQL = (
    "CAST('0x' || substring(md5('rs:' || CAST(doc_id AS VARCHAR)), 1, 15) "
    f"AS BIGINT) % {_MOD_SQL} = 0"
)

# band-model expected recall at exactly the threshold:
# 1 - (1 - t^rows)^bands
_EXPECT = 1.0 - (1.0 - JACCARD_THR ** LSH_ROWS) ** LSH_BANDS

_Q172_ORACLE = f"""
WITH {minhash_vpairs_cte()},
samp AS MATERIALIZED (
  SELECT d.doc_id, d.sh FROM docs d
  WHERE {_SAMPLE_SQL.replace("doc_id", "d.doc_id")}
),
truth AS MATERIALIZED (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM samp a JOIN samp b ON a.doc_id < b.doc_id
  WHERE ROUND(len(list_intersect(a.sh, b.sh)) /
        CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))
             AS DOUBLE), 4) >= {JACCARD_THR}
),
found AS (
  SELECT v.doc_a, v.doc_b
  FROM vpairs v
  JOIN samp sa ON sa.doc_id = v.doc_a
  JOIN samp sb ON sb.doc_id = v.doc_b
),
agg AS (
  SELECT
    (SELECT CAST(COUNT(*) AS BIGINT) FROM samp) AS n_sample_docs,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_true_pairs,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM truth t
      JOIN found f ON f.doc_a = t.doc_a AND f.doc_b = t.doc_b)
      AS n_found_pairs
)
SELECT n_sample_docs, n_true_pairs, n_found_pairs,
       CASE WHEN n_true_pairs = 0 THEN 1.0
            ELSE FLOOR(CAST(n_found_pairs AS DOUBLE) / n_true_pairs
                       * 1000000 + 0.5) / 1000000 END AS recall,
       FLOOR({_EXPECT} * 1000000 + 0.5) / 1000000
         AS band_model_at_threshold
FROM agg
"""


@query("q172_lsh_recall_audit", oracle=_Q172_ORACLE)
def q172_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesyslog_spark.tables import scratch

    sh, _sigs = hot_shingle_sigs(spark, sf_dir)
    # One cheap action on the already-persisted shingle frame sizes the
    # modulus; the quadratic below then touches <= TARGET_SAMPLE docs in
    # expectation regardless of corpus size.
    mod = sample_mod(sh.count())
    with scratch() as keep:
        samp = keep(
            sh.filter(
                md5_int60(F.col("doc_id").cast("string"), "rs:") % mod == 0
            )
        )
        a = samp.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
        b = samp.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
        truth = keep(
            a.join(b, F.col("doc_a") < F.col("doc_b"))
            .filter(
                F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 4) >= JACCARD_THR
            )
            .select("doc_a", "doc_b")
        )
        ids = samp.select("doc_id")
        found = (
            hot_minhash_pairs(spark, sf_dir)
            .join(ids.withColumnRenamed("doc_id", "doc_a"), "doc_a", "left_semi")
            .join(ids.withColumnRenamed("doc_id", "doc_b"), "doc_b", "left_semi")
            .select("doc_a", "doc_b")
        )
        hit = truth.join(found, ["doc_a", "doc_b"], "left_semi")
        n_samp = samp.count()
        n_true = truth.count()
        n_found = hit.count()
        recall = (
            1.0 if n_true == 0
            else _fl6(n_found / n_true)
        )
        return local_frame(
            spark,
            [(n_samp, n_true, n_found, recall, _fl6(_EXPECT))],
            "n_sample_docs long, n_true_pairs long, n_found_pairs long, "
            "recall double, band_model_at_threshold double",
        )


def _fl6(x: float) -> float:
    import math

    return math.floor(x * 1000000 + 0.5) / 1000000
