r"""Framing-operator queries Q36/Q37 — oracle-checked via the round-trip
property.

Sequential byte-stream parsing (F2) and binary decompression (F5) are not
expressible in DuckDB SQL, so instead of porting the parser to SQL the
oracle checks the *round trip*: the fixture is synthesized
deterministically from `documents`, pushed through frame/compress +
reparse/decompress on the Spark side, and the oracle states the expected
fixed point directly from `documents`. Any framing bug (lost byte, bad
length arithmetic, chunk-order mistake) breaks the md5 match.
"""

from __future__ import annotations

import zlib as _zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesyslog_spark.operators.framing import (
    decompress_message,
    frame_octet_counted,
    gelf_format,
)
from kinesyslog_spark.queries import query
from kinesyslog_spark.tables import hot_table

N_CONNS = 50
CHUNK_BYTES = 64


# ---------------------------------------------------------------------------
# Q36 — octet-counted framing (F2/F3) round trip
# ---------------------------------------------------------------------------
# Fixture: each document becomes one octet-counted frame '<len> <text>';
# frames are concatenated per connection (conn = doc_id % 50, ordered by
# doc_id) and re-chunked at arbitrary 64-byte boundaries — exactly a TCP
# segmentation. Parsing it back must yield the original documents.

_Q36_ORACLE = f"""
SELECT doc_id % {N_CONNS} AS conn_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY doc_id % {N_CONNS} ORDER BY doc_id) - 1 AS BIGINT) AS msg_seq,
       CAST(strlen(text) AS BIGINT) AS n_bytes,
       md5(text) AS text_md5
FROM documents
ORDER BY conn_id, msg_seq
"""


@query("q36_octet_framing", oracle=_Q36_ORACLE)
def q36_octet_framing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = hot_table(spark, sf_dir, "documents")
    streams = (
        docs.select(
            (F.col("doc_id") % N_CONNS).alias("conn_id"),
            F.struct(
                "doc_id",
                F.concat(
                    F.octet_length("text").cast("string"), F.lit(" "), F.col("text")
                ).alias("frame"),
            ).alias("sf"),
        )
        .groupBy("conn_id")
        .agg(
            F.encode(
                F.array_join(F.transform(F.array_sort(F.collect_list("sf")), lambda s: s["frame"]), ""),
                "UTF-8",
            ).alias("stream")
        )
    )

    # Re-chunk each connection stream at CHUNK_BYTES boundaries (the
    # adversarial TCP segmentation) — then reframe statefully.
    def rechunk(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            rows = []
            for conn, stream in zip(pdf["conn_id"], pdf["stream"]):
                b = bytes(stream)
                for i in range(0, len(b), CHUNK_BYTES):
                    rows.append(
                        {"conn_id": conn, "chunk_seq": i // CHUNK_BYTES,
                         "payload": b[i:i + CHUNK_BYTES]}
                    )
            yield pd.DataFrame(rows, columns=["conn_id", "chunk_seq", "payload"])

    chunks = streams.mapInPandas(
        rechunk, schema="conn_id long, chunk_seq long, payload binary"
    )
    framed = frame_octet_counted(chunks)
    return framed.select(
        "conn_id",
        "msg_seq",
        F.octet_length("message").cast("long").alias("n_bytes"),
        F.md5(F.decode("message", "UTF-8")).alias("text_md5"),
    ).orderBy("conn_id", "msg_seq")


# ---------------------------------------------------------------------------
# Q37 — GELF dispatch + decompression (F4/F5) round trip
# ---------------------------------------------------------------------------
# Fixture: payload = raw '{...}'-style bytes / zlib / gzip of the document
# text by doc_id % 3; dispatch on magic bytes, decompress, md5-compare.

_Q37_ORACLE = """
SELECT doc_id,
  CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'json' WHEN 1 THEN 'zlib' ELSE 'gzip' END AS fmt,
  md5('{' || text) AS text_md5
FROM documents
ORDER BY doc_id
"""


@query("q37_gelf_decompress", oracle=_Q37_ORACLE)
def q37_gelf_decompress(spark: SparkSession, sf_dir: str) -> DataFrame:
    import gzip as _gzip

    docs = hot_table(spark, sf_dir, "documents")

    # '{' prefix makes the raw variant dispatch as GELF-JSON (F4) and is
    # part of the hashed payload on both sides.
    def compress(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            payloads = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                raw = ("{" + text).encode("utf-8")
                kind = doc_id % 3
                if kind == 1:
                    payloads.append(_zlib.compress(raw))
                elif kind == 2:
                    payloads.append(_gzip.compress(raw))
                else:
                    payloads.append(raw)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    blobs = docs.select("doc_id", "text").mapInPandas(
        compress, schema="doc_id long, payload binary"
    )
    return (
        blobs.select(
            "doc_id",
            gelf_format(F.col("payload")).alias("fmt"),
            decompress_message("payload", gelf_format(F.col("payload"))).alias("msg"),
        )
        .select("doc_id", "fmt", F.md5(F.decode("msg", "UTF-8")).alias("text_md5"))
        .orderBy("doc_id")
    )
