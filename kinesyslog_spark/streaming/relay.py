r"""W7 — the end-to-end streaming relay: file-drop source → P2-P8 parse →
G1-G5 record build → K1 atomic spool, on Structured Streaming triggers.

This is the reference's `kinesyslog listen` hot path (E1) as an
incremental view of the SAME column expressions the batch path uses:
`parse_syslog` is shared verbatim; only the source (readStream tailing
the ingest bridge's spool-in directory) and the sink (foreachBatch →
record spool) differ.

Trigger cadence stands in for the reference's size/age flush
(G2/G3, constant.py:13-16): each micro-batch flushes every group it saw,
like the reference's flush-all-on-trigger policy (sink.py:148-157);
at-least-once delivery semantics match K3 (foreachBatch may replay a
batch after failure; the downstream uploader acks per record).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from kinesyslog_spark.functions.syslog import parse_syslog
from kinesyslog_spark.sinks.records import spool_batch

# The ingest bridge (sources/bridge.py) writes JSON lines in this shape.
LINE_SCHEMA = "raw string, source string, dest int, recv_ts timestamp, seq long"


def tail_lines(spark: SparkSession, input_dir: str, schema: str,
               max_files_per_trigger: int) -> DataFrame:
    """Tail a bridge spool directory of JSON lines in `schema` (the
    syslog and GELF relays' shared reader). maxFilesPerTrigger is the
    source-side backpressure (T2/T3 analog)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(input_dir)
    )


def start_spool_sink(events: DataFrame, spool_dir: str, checkpoint_dir: str,
                     trigger_seconds: int, envelope_kw: dict) -> StreamingQuery:
    """Start `events` into the record spool (the syslog and GELF relays'
    shared sink): one `spool_batch` per trigger, progress checkpointed
    under `checkpoint_dir`."""

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        spool_batch(batch_df, spool_dir, **envelope_kw)

    return (
        events.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def read_line_stream(spark: SparkSession, input_dir: str,
                     max_files_per_trigger: int = 64) -> DataFrame:
    """Tail the bridge spool directory (S1/S2's Spark-side half)."""
    return tail_lines(spark, input_dir, LINE_SCHEMA, max_files_per_trigger)


def start_relay(
    spark: SparkSession,
    input_dir: str,
    spool_dir: str,
    checkpoint_dir: str,
    trigger_seconds: int = 10,
    **envelope_kw,
) -> StreamingQuery:
    """Wire source → parse → record sink and start the query.

    checkpointLocation gives exactly-once *source* progress; combined
    with the uploader's per-record ack (K3) the end-to-end contract is
    at-least-once, matching the reference (README.md:134-148).

    The O2 message count/byte observation rides the input stream, so a
    registered RelayMetricsListener accumulates per-stream metrics
    (reference constant.py:43-52 registry) with zero extra passes."""
    from kinesyslog_spark.observability import observe_messages

    events = parse_syslog(observe_messages(read_line_stream(spark, input_dir)))
    return start_spool_sink(events, spool_dir, checkpoint_dir,
                            trigger_seconds, envelope_kw)
