r"""E1-GELF — the live GELF relay: `--gelf` listen mode end-to-end.

The reference's `kinesyslog listen --gelf` swaps the message class
(init.py `--gelf`, message.py GelfMessage): UDP datagrams carry plain
JSON, zlib- or gzip-compressed JSON, or chunked-GELF packets
(magic `\x1e\x0f` + 8-byte id + seq + count + payload); event time is
the document's numeric `timestamp` field with receive-time fallback;
the logGroup becomes `<prefix>/gelf/<port>`.

Spark-side pipeline over the bridge's base64 spool rows
(GELF_LINE_SCHEMA; binary payloads can't ride a JSON line as text):

    unbase64 -> gelf_format magic dispatch (F4)
      ├─ json/zlib/gzip/unknown: decompress (F5, Arrow UDF) -> document
      └─ chunk: header parse (hex slicing, JVM-side) ->
                (msg_id, source, dest)-keyed stateful reassembly
                (W5/F6, 5-s timeout) -> the assembled bytes re-enter
                the SAME dispatch+decompress (chunked payloads are
                usually themselves compressed, gelf.py:47-50)
    -> lossy UTF-8 decode (P1) -> JSON field extraction (P5) with
       receive-time fallback -> deterministic event ids (P7) ->
       envelope-ready events (id, ts_ms, message, source, dest).

Two streaming branches (one stateless, one stateful) union AFTER their
terminal transformations — a single stateful operator per query, which
Structured Streaming supports in append mode.

Scale: dispatch/header-parse/id/json-extract are Catalyst expressions;
the only Python is the Arrow-batched decompress (bytes demand it) and
the keyed reassembly state body; state is sharded by message id and
bounded by the 5-s timeout exactly like the syslog relay's chunk path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from kinesyslog_spark.functions.ids import det_id
from kinesyslog_spark.operators.framing import (
    decode_utf8_lossy,
    decompress_message,
    gelf_format,
)
from kinesyslog_spark.streaming.relay import start_spool_sink, tail_lines
from kinesyslog_spark.streaming.state import (
    DEFAULT_TIMEOUT_MS,
    reassemble_chunks_stream_keyed,
)

# The bridge's GELF-mode spool shape (sources/bridge.py add_binary).
GELF_LINE_SCHEMA = "raw_b64 string, source string, dest int, recv_ts timestamp, seq long"


def read_gelf_stream(spark: SparkSession, input_dir: str,
                     max_files_per_trigger: int = 64) -> DataFrame:
    return tail_lines(spark, input_dir, GELF_LINE_SCHEMA, max_files_per_trigger)


def _documents(payloads: DataFrame) -> DataFrame:
    """(payload binary, source, dest, recv_us) -> decompressed document
    bytes (json/unknown pass through; zlib/gzip inflate; failures drop,
    protocol.py:250-260)."""
    kind = gelf_format(F.col("payload"))
    return (
        payloads.withColumn("message", decompress_message("payload", kind))
        .filter(F.col("message").isNotNull())
        .select("source", "dest", "recv_us", "message")
    )


def parse_gelf_stream(lines: DataFrame,
                      timeout_ms: int = DEFAULT_TIMEOUT_MS) -> DataFrame:
    """GELF spool rows -> envelope-ready events
    (id, ts_ms, message, source, dest)."""
    payloads = lines.select(
        F.unbase64("raw_b64").alias("payload"),
        "source",
        "dest",
        F.unix_micros("recv_ts").alias("recv_us"),
        "seq",
    )
    kind = gelf_format(F.col("payload"))

    direct = _documents(payloads.filter(kind != "chunk"))

    # Chunked packets: magic(2) id(8) seq(1) cnt(1) payload — sliced on
    # the hex string (JVM-side). The 64-bit id is keyed via its first 60
    # bits (conv() is unsigned; 60 bits keeps the long positive).
    # Truncated chunk datagrams (magic present but < 12-byte header) are
    # dropped like the reference (gelf.py parse_header's struct error is
    # swallowed by the event loop): without the length gate the empty hex
    # slices conv() to NULL and a single malformed UDP packet becomes a
    # permanent poison pill in the checkpointed stateful reassembly.
    hexed = payloads.filter(
        (kind == "chunk") & (F.length("payload") >= 12)
    ).select(
        F.conv(F.substring(F.hex("payload"), 5, 15), 16, 10)
        .cast("long").alias("msg_id"),
        "source",
        "dest",
        F.conv(F.substring(F.hex("payload"), 21, 2), 16, 10)
        .cast("int").alias("chunk_seq"),
        F.conv(F.substring(F.hex("payload"), 23, 2), 16, 10)
        .cast("int").alias("chunk_cnt"),
        F.unhex(F.expr("substring(hex(payload), 25)")).alias("payload"),
        "recv_us",
    ).filter(
        F.col("msg_id").isNotNull()
        & F.col("chunk_seq").isNotNull()
        & F.col("chunk_cnt").isNotNull()
    )
    assembled = reassemble_chunks_stream_keyed(hexed, timeout_ms).select(
        F.col("message").alias("payload"), "source", "dest", "recv_us"
    )
    # Assembled bytes re-enter dispatch: chunk payloads are themselves
    # plain or compressed GELF documents (gelf.py:47-50).
    docs = direct.unionByName(_documents(assembled))

    raw = decode_utf8_lossy(F.col("message"))
    ts_ms = F.coalesce(
        (F.get_json_object(raw, "$.timestamp").cast("double") * 1000).cast("long"),
        (F.col("recv_us") / 1000).cast("long"),
    )
    return docs.select(
        det_id(
            F.concat_ws(":", "source", "dest", F.sha2(raw, 256))
        ).alias("id"),
        ts_ms.alias("ts_ms"),
        raw.alias("message"),
        "source",
        "dest",
    )


def start_gelf_relay(
    spark: SparkSession,
    input_dir: str,
    spool_dir: str,
    checkpoint_dir: str,
    trigger_seconds: int = 10,
    **envelope_kw,
) -> StreamingQuery:
    """The `--gelf` twin of streaming/relay.py:start_relay; envelopes
    carry fmt='gelf' so the logGroup is `<prefix>/gelf/<port>`
    (message.py GelfMessage.LOG_GROUP_FORMAT analog)."""
    envelope_kw.setdefault("fmt", "gelf")
    events = parse_gelf_stream(read_gelf_stream(spark, input_dir))
    return start_spool_sink(events, spool_dir, checkpoint_dir,
                            trigger_seconds, envelope_kw)
