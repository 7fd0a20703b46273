r"""Q41 — PII scrubbing / redaction battery (training-pipeline hygiene).

The fixture plants deterministic PII (an email, an IPv4, a phone-shaped
number derived from doc_id) into each document's text identically in both
engines; the operator redacts with typed placeholders and reports per-doc
redaction counts. All regexes are the RE2-compatible subset (run
identically under Java regex and DuckDB RE2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesyslog_spark.queries import query
from kinesyslog_spark.tables import hot_table

EMAIL_RE = r"[a-z0-9._]+@[a-z0-9.-]+\.[a-z]{2,}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"

# Identical string concat in both engines (no serializer drift).
_PLANT_SQL = """
    SELECT doc_id,
      concat(text, ' contact user', CAST(doc_id AS VARCHAR),
             '@example.com at 10.0.', CAST(doc_id % 256 AS VARCHAR), '.',
             CAST((doc_id * 7) % 256 AS VARCHAR), ' or ',
             CAST(200 + doc_id % 700 AS VARCHAR), '-555-',
             CAST(1000 + doc_id % 9000 AS VARCHAR)) AS text
    FROM documents
"""

_Q41_ORACLE = f"""
WITH planted AS ({_PLANT_SQL}),
scrubbed AS (
  SELECT doc_id,
    regexp_replace(
      regexp_replace(
        regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
        '{IPV4_RE}', '<IP>', 'g'),
      '{PHONE_RE}', '<PHONE>', 'g') AS clean,
    CAST(length(regexp_extract_all(text, '{EMAIL_RE}')) AS BIGINT) AS n_emails,
    CAST(length(regexp_extract_all(text, '{IPV4_RE}')) AS BIGINT) AS n_ips,
    CAST(length(regexp_extract_all(text, '{PHONE_RE}')) AS BIGINT) AS n_phones
  FROM planted
)
SELECT doc_id, n_emails, n_ips, n_phones, md5(clean) AS clean_md5
FROM scrubbed
ORDER BY doc_id
"""


@query("q41_pii_scrub", oracle=_Q41_ORACLE)
def q41_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = hot_table(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com at 10.0."), (F.col("doc_id") % 256).cast("string"),
            F.lit("."), ((F.col("doc_id") * 7) % 256).cast("string"),
            F.lit(" or "), (200 + F.col("doc_id") % 700).cast("string"),
            F.lit("-555-"), (1000 + F.col("doc_id") % 9000).cast("string"),
        ).alias("text"),
    )
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("text", EMAIL_RE, "<EMAIL>"),
            IPV4_RE, "<IP>"),
        PHONE_RE, "<PHONE>")
    return planted.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(EMAIL_RE), 0)).cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(IPV4_RE), 0)).cast("long").alias("n_ips"),
        F.size(F.regexp_extract_all("text", F.lit(PHONE_RE), 0)).cast("long").alias("n_phones"),
        F.md5(clean).alias("clean_md5"),
    ).orderBy("doc_id")
