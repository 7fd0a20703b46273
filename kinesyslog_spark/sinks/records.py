r"""Record envelope build + spool sink + read-back (reference G1-G5, K1, E3).

Pipeline (sink.py:141-217 re-expressed Spark-first):

1. `spool_batch` — the relay sink: one groupBy (source, dest)
   `applyInArrow`, the reference's own grouping key as the only shuffle
   key. Per group, the kernel sorts the events by (ts_ms, id, message),
   builds the CloudWatch-Logs-subscription-shaped Record (sink.py:194-209,
   README.md:96-132) as a one-row Arrow envelope, serializes it with
   `record_payloads` and spools each part with `spool_write`, on the
   executor; the driver only sums the part counts. One Python worker
   per task, no RDD hop.
2. `build_envelopes` + `serialize_records` — the same envelopes as pure
   DataFrame ops (collect_list + array_sort + transform) and the same
   payloads as a mapInArrow over them: the reference path the sink's
   output is checked against, and a DataFrame-level view of records.
   `record_payloads` is the columnar codec: it encodes each event once,
   from the `logEvents` offsets and the id/timestamp/message child
   arrays, with json's C string encoder, into a JSON fragment; a record
   is its head + the joined fragments, byte-identical to json.dumps in
   the canonical key order, gzip'd at level 9 (sink.py:211-217).
   Records whose compressed size exceeds 1000 KB are split into
   ⌈size/max⌉ even event-slices and re-compressed (sink.py:167-183 —
   including its 'naively hopes' even-split policy); a slice re-joins
   fragments and never re-encodes. Every envelope→payload path (the
   sink kernel, `serialize_records`, the `kinesyslogspool` Arrow
   writers) goes through `record_payloads`, and every spool
   blob→envelope path (`read_spool`, `s3_read_spool`, the
   `kinesyslogspool` reader) through `envelope_rows`; the readers decode
   in `mapInArrow`, so this module never imports pandas.
3. `spool_write` — K1 atomic publish: write temp file, hard-link to the
   final name, unlink temp (spool.py:25-36); readers never observe a
   partial record.
4. `read_spool` / `iter_record_parts` — E3-compatible read-back: a spool
   file may hold *concatenated* gzip members; decode with a zlib
   decompressobj loop over `unused_data` (utils/kinesis-s3-dump.py:52-97).

The Firehose uploader itself (K2-K4, boto3) is an independent process by
design (keeps Spark jobs cloud-free); `pack_upload_batches` implements
its greedy ≤500-record / ≤4 MiB packing for tests.
"""

from __future__ import annotations

import gzip
import json
import os
import tempfile
import uuid
import zlib
from collections.abc import Iterable, Iterator
# JSON text of one string, exactly as json.dumps writes it (ensure_ascii:
# non-ASCII, C0 controls and DEL as \u escapes; '/' is never escaped —
# ujson escape_forward_slashes=False parity).
from json.encoder import encode_basestring_ascii as _json_str

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kinesyslog_spark.constants import (
    MAX_BATCH_COUNT,
    MAX_BATCH_SIZE,
    MAX_RECORD_SIZE,
    SPOOL_PREFIX,
    SPOOL_TEMP_PREFIX,
)

ENVELOPE_SCHEMA = (
    "owner string, logGroup string, logStream string, "
    "subscriptionFilters array<string>, messageType string, "
    "logEvents array<struct<id: string, timestamp: long, message: string>>"
)
# ENVELOPE_SCHEMA as Arrow, for record dicts turned into codec input.
ENVELOPE_ARROW = pa.schema([
    ("owner", pa.string()),
    ("logGroup", pa.string()),
    ("logStream", pa.string()),
    ("subscriptionFilters", pa.list_(pa.string())),
    ("messageType", pa.string()),
    ("logEvents", pa.list_(pa.struct([
        ("id", pa.string()),
        ("timestamp", pa.int64()),
        ("message", pa.string()),
    ]))),
])

# Canonical JSON key order of a record and of each of its events.
ENVELOPE_FIELDS = (
    "owner", "logGroup", "logStream", "subscriptionFilters", "messageType",
    "logEvents",
)
EVENT_FIELDS = ("id", "timestamp", "message")
# The event columns `spool_batch` reads, in EVENT_FIELDS order, and the
# (ts_ms, id, message) order that `build_envelopes` sorts events in.
_EVENT_COLS = ("id", "ts_ms", "message")
_EVENT_SORT = ("ts_ms", "id", "message")

SERIALIZED_SCHEMA = "logGroup string, logStream string, part int, payload binary"
_SERIALIZED_ARROW = pa.schema([
    ("logGroup", pa.string()),
    ("logStream", pa.string()),
    ("part", pa.int32()),
    ("payload", pa.binary()),
])


def build_envelopes(
    events: DataFrame,
    owner: str = "000000000000",
    group_prefix: str = "kinesyslog",
    fmt: str = "syslog",
) -> DataFrame:
    """G1 + G4 envelope assembly from parsed events
    (id, ts_ms, message, source, dest).

    logGroup = '<prefix>/<format>/<port>' (sink.py:162), logStream =
    source IP (sink.py:204-205), subscriptionFilters defaults to
    [logGroup] (sink.py:199-200). Events are ordered by event time then
    id within the record."""
    return (
        events.groupBy("source", "dest")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("ts_ms").alias("timestamp"), F.col("id"), F.col("message")))
            ).alias("evs")
        )
        .select(
            F.lit(owner).alias("owner"),
            F.concat(
                F.lit(f"{group_prefix}/{fmt}/"), F.col("dest").cast("string")
            ).alias("logGroup"),
            F.col("source").alias("logStream"),
            F.array(
                F.concat(F.lit(f"{group_prefix}/{fmt}/"), F.col("dest").cast("string"))
            ).alias("subscriptionFilters"),
            F.lit("DATA_MESSAGE").alias("messageType"),
            F.transform(
                "evs",
                lambda e: F.struct(
                    e["id"].alias("id"),
                    e["timestamp"].alias("timestamp"),
                    e["message"].alias("message"),
                ),
            ).alias("logEvents"),
        )
    )


def _value(v: str | None) -> str:
    return "null" if v is None else _json_str(v)


def _texts(arr: pa.Array, enc) -> list[str]:
    """JSON text of each value of `arr`: enc(value), or null."""
    vals = arr.to_pylist()
    if arr.null_count:
        return ["null" if v is None else enc(v) for v in vals]
    return list(map(enc, vals))


def _event_fragments(events: pa.StructArray) -> list[str]:
    """One JSON object per event, keys in EVENT_FIELDS order."""
    frags = [
        f'{{"id":{i},"timestamp":{t},"message":{m}}}'
        for i, t, m in zip(_texts(events.field("id"), _json_str),
                           _texts(events.field("timestamp"), str),
                           _texts(events.field("message"), _json_str))
    ]
    if events.null_count:
        frags = [f if ok else "null"
                 for f, ok in zip(frags, events.is_valid().to_pylist())]
    return frags


def _encoded_records(batch: pa.RecordBatch) -> Iterator[tuple]:
    """Envelope batch -> (logGroup, logStream, head, event fragments) per
    row. The record's JSON is head + ",".join(fragments) + "]}", keys in
    ENVELOPE_FIELDS order. Columns and event fields are read by name, so
    any column order encodes the same; a sliced batch is read through
    its own offsets. A null string or timestamp is null, a null
    subscriptionFilters or logEvents list is []."""
    logs = batch.column("logEvents")
    offs = logs.offsets.to_pylist()
    base = offs[0]
    frags = _event_fragments(logs.values.slice(base, offs[-1] - base))
    heads = zip(*(batch.column(f).to_pylist() for f in ENVELOPE_FIELDS[:-1]))
    has_events = logs.is_valid().to_pylist()
    for r, (owner, group, stream, filters, mtype) in enumerate(heads):
        head = "".join((
            '{"owner":', _value(owner), ',"logGroup":', _value(group),
            ',"logStream":', _value(stream), ',"subscriptionFilters":[',
            ",".join(map(_value, filters or ())), '],"messageType":',
            _value(mtype), ',"logEvents":[',
        ))
        lo, hi = (offs[r] - base, offs[r + 1] - base) if has_events[r] else (0, 0)
        yield group, stream, head, frags[lo:hi]


def _gzip(head: str, frags: list[str]) -> bytes:
    text = head + ",".join(frags) + "]}"
    return gzip.compress(text.encode("ascii"), compresslevel=9)


def _split(head: str, frags: list[str]) -> list[bytes]:
    """G4: gzip; if compressed > MAX_RECORD_SIZE split the events into
    ⌈size/max⌉ even slices along event boundaries and re-compress each
    (sink.py:167-183). Like the reference, slices are 'naively hoped' to
    fit; a still-oversize slice recurses. Slices re-join the events'
    JSON fragments; nothing is encoded twice."""
    blob = _gzip(head, frags)
    if len(blob) <= MAX_RECORD_SIZE:
        return [blob]
    n_parts = -(-len(blob) // MAX_RECORD_SIZE)
    per = -(-len(frags) // n_parts)
    out: list[bytes] = []
    for i in range(0, len(frags), per):
        part = frags[i:i + per]
        if len(part) == len(frags):  # cannot split further
            out.append(_gzip(head, part))
        else:
            out.extend(_split(head, part))
    return out


def record_payloads(
    batches: Iterable[pa.RecordBatch],
) -> Iterator[tuple[str, str, int, bytes]]:
    """The record codec: envelope Arrow batches -> (logGroup, logStream,
    part, payload), one tuple per gzip'd record part. The JSON text is
    byte-identical to json.dumps(record, separators=(",", ":")) with the
    keys in ENVELOPE_FIELDS / EVENT_FIELDS order, built column-wise:
    each event is encoded once, from the struct's child arrays."""
    for batch in batches:
        for group, stream, head, frags in _encoded_records(batch):
            for part, blob in enumerate(_split(head, frags)):
                yield group, stream, part, blob


def _record_batch(record: dict) -> pa.RecordBatch:
    return pa.RecordBatch.from_pylist([record], schema=ENVELOPE_ARROW)


def _split_serialize(record: dict) -> list[bytes]:
    """One record dict -> its gzip'd parts, through the codec."""
    return [blob for *_, blob in record_payloads([_record_batch(record)])]


def _compress(record: dict) -> bytes:
    """One record dict -> one gzip member, never split."""
    (_, _, head, frags), = _encoded_records(_record_batch(record))
    return _gzip(head, frags)


def serialize_records(envelopes: DataFrame) -> DataFrame:
    """Envelope rows -> one or more gzip'd JSON payloads each (G4/G5).
    A narrow map: each row is serialized on its own, so the envelopes'
    partitioning is kept and no shuffle is added."""

    def ser(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            yield pa.RecordBatch.from_pylist(
                [dict(zip(_SERIALIZED_ARROW.names, t))
                 for t in record_payloads([batch])],
                schema=_SERIALIZED_ARROW,
            )

    return envelopes.mapInArrow(ser, SERIALIZED_SCHEMA)


# ---------------------------------------------------------------------------
# K1 — atomic spool publish (temp + hard link + unlink)
# ---------------------------------------------------------------------------

def spool_write(payload: bytes, spool_dir: str) -> str:
    """Write one record payload atomically (spool.py:25-36)."""
    os.makedirs(spool_dir, exist_ok=True)
    name = f"{SPOOL_PREFIX}{uuid.uuid4().hex}"
    with tempfile.NamedTemporaryFile(
        dir=spool_dir, prefix=SPOOL_TEMP_PREFIX, delete=False
    ) as tmp:
        tmp.write(payload)
        tmp.flush()
        os.fsync(tmp.fileno())
    final = os.path.join(spool_dir, name)
    os.link(tmp.name, final)
    os.unlink(tmp.name)
    return final


def _spool_kernel(spool_dir: str, owner: str = "000000000000",
                  group_prefix: str = "kinesyslog", fmt: str = "syslog"):
    """applyInArrow kernel of `spool_batch`: one (source, dest) group of
    events -> its envelope, in `build_envelopes`' shape and event order
    -> gzip'd record parts through `record_payloads` -> spool files.
    Returns the group's part count as a one-row `records` table."""
    prefix = f"{group_prefix}/{fmt}/"

    def kernel(key: tuple, events: pa.Table) -> pa.Table:
        source, dest = (k.as_py() for k in key)
        group = None if dest is None else f"{prefix}{dest}"
        # array_sort's order of the (timestamp, id, message) structs:
        # field by field, a null field first.
        order = pc.sort_indices(
            events, sort_keys=[(c, "ascending") for c in _EVENT_SORT],
            null_placement="at_start")
        evs = events.take(order)
        logs = pa.StructArray.from_arrays(
            [evs.column(c).combine_chunks() for c in _EVENT_COLS],
            names=EVENT_FIELDS)
        envelope = pa.RecordBatch.from_pydict({
            "owner": [owner], "logGroup": [group], "logStream": [source],
            "subscriptionFilters": [[group]], "messageType": ["DATA_MESSAGE"],
            "logEvents": pa.ListArray.from_arrays([0, len(logs)], logs),
        }, schema=ENVELOPE_ARROW)
        n = 0
        for *_, blob in record_payloads([envelope]):
            spool_write(blob, spool_dir)
            n += 1
        return pa.table({"records": [n]})

    return kernel


def spool_batch(events: DataFrame, spool_dir: str, **envelope_kw) -> int:
    """foreachBatch body: parsed events -> envelopes -> gzip records ->
    atomic spool files. Returns the number of records written.

    One Python pass: a groupBy (source, dest) `applyInArrow` whose kernel
    builds each group's envelope, serializes and spools it on the
    executor, and returns its part count; the driver sums the counts and
    never holds record payloads. The payloads equal
    `serialize_records(build_envelopes(events, **envelope_kw))`.
    A count is collected only from successful tasks, so a retried task
    is counted once (a driver-side listdir could not see executor-local
    spool dirs, and would count earlier batches' files)."""
    counts = (
        events.select("source", "dest", *_EVENT_COLS)
        .groupBy("source", "dest")
        .applyInArrow(_spool_kernel(spool_dir, **envelope_kw), "records long")
        .collect()
    )
    return sum(r.records for r in counts)


# ---------------------------------------------------------------------------
# E3 — read-back (multi-member gzip decode, kinesis-s3-dump.py:52-97)
# ---------------------------------------------------------------------------

def iter_record_parts(blob: bytes) -> Iterator[dict]:
    """Decode possibly-concatenated gzip members into Record dicts."""
    pos = 0
    while pos < len(blob):
        d = zlib.decompressobj(32 + 15)  # gzip wrapper
        data = d.decompress(blob[pos:])
        yield json.loads(data.decode("utf-8"))
        consumed = len(blob) - pos - len(d.unused_data)
        if consumed <= 0:
            break
        pos += consumed


def envelope_rows(blob: bytes) -> Iterator[tuple]:
    """A spool blob -> one envelope tuple (ENVELOPE_FIELDS order) per
    record part it holds."""
    for rec in iter_record_parts(blob):
        yield tuple(rec[f] for f in ENVELOPE_FIELDS)


def _envelope_batch(rows: Iterable[tuple]) -> pa.RecordBatch:
    """Envelope tuples (ENVELOPE_FIELDS order) -> one ENVELOPE_ARROW batch."""
    return pa.RecordBatch.from_pylist(
        [dict(zip(ENVELOPE_FIELDS, r)) for r in rows], schema=ENVELOPE_ARROW)


def read_spool(spark, spool_dir: str) -> DataFrame:
    """Spool files -> envelope DataFrame (the engine's own output format
    round-trips through its reader).

    Object-store path (reference S5, utils/kinesis-s3-dump.py:41-49):
    this same code reads Firehose output from S3 unchanged — pass
    `s3a://bucket/prefix` as `spool_dir` on a cluster with hadoop-aws on
    the classpath (credentials via instance profile or
    `spark.hadoop.fs.s3a.*` confs). binaryFile splits per object, so a
    multi-TB prefix fans out one task per record blob; the
    multi-member-gzip decode (`iter_record_parts`) handles Firehose's
    concatenated-record objects exactly like the reference's
    `unused_data` loop. Untestable in this container (no S3 endpoint) —
    exercised against local files, which go through the identical
    Hadoop FileSystem API."""
    raw = spark.read.format("binaryFile").load(
        os.path.join(spool_dir, f"{SPOOL_PREFIX}*")
    )

    def decode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            yield _envelope_batch(
                r for c in batch.column("content").to_pylist() for r in envelope_rows(c))

    return raw.select("content").mapInArrow(decode, schema=ENVELOPE_SCHEMA)


def s3_read_spool(
    spark,
    bucket: str,
    prefix: str,
    client_factory=None,
    list_page_size: int | None = None,
) -> DataFrame:
    """S5's object-store path through an S3 API client instead of the
    Hadoop filesystem: list keys on the driver, fetch + decode on the
    executors.

    `client_factory` is a zero-arg callable returning a boto3-style
    client (`list_objects_v2` with ContinuationToken pagination,
    `get_object(...)["Body"].read()`); it defaults to
    `boto3.client("s3")` (import-gated — boto3 is absent in this
    container, so tests inject a fake). The factory, not a client, is
    what ships to executors: each Python worker builds its own
    connection, the standard pattern for non-picklable clients. The
    listing is driver-side but O(keys) METADATA only — the blobs
    themselves are fetched in parallel by `mapInArrow` over the
    key table, one task per key batch.

    Reference parity: utils/kinesis-s3-dump.py:41-49 (bucket listing +
    per-object multi-member gzip decode); same decode as `read_spool`
    (`envelope_rows`).
    """
    if client_factory is None:
        def client_factory():  # pragma: no cover - needs boto3
            import boto3

            return boto3.client("s3")

    client = client_factory()
    keys: list[str] = []
    token = None
    while True:
        kw = {"Bucket": bucket, "Prefix": prefix}
        if list_page_size is not None:
            kw["MaxKeys"] = list_page_size
        if token:
            kw["ContinuationToken"] = token
        resp = client.list_objects_v2(**kw)
        keys.extend(o["Key"] for o in resp.get("Contents", []))
        if not resp.get("IsTruncated"):
            break
        token = resp.get("NextContinuationToken")

    par = max(1, min(len(keys), spark.sparkContext.defaultParallelism))
    kdf = spark.createDataFrame([(k,) for k in keys], "key string").repartition(par)

    def fetch(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        c = client_factory()  # one client per Python worker
        for batch in batches:
            yield _envelope_batch(
                r for k in batch.column("key").to_pylist()
                for r in envelope_rows(c.get_object(Bucket=bucket, Key=k)["Body"].read()))

    return kdf.mapInArrow(fetch, schema=ENVELOPE_SCHEMA)


# ---------------------------------------------------------------------------
# K2 — greedy upload batch packing (spool.py:157-178), for the uploader
# ---------------------------------------------------------------------------

def pack_upload_batches(sizes: list[tuple[str, int]]) -> list[list[str]]:
    """Greedy ≤MAX_BATCH_COUNT / ≤MAX_BATCH_SIZE packing of spool files
    (name, size) into put_record_batch calls."""
    batches: list[list[str]] = []
    cur: list[str] = []
    cur_size = 0
    for name, size in sizes:
        if cur and (len(cur) >= MAX_BATCH_COUNT or cur_size + size > MAX_BATCH_SIZE):
            batches.append(cur)
            cur, cur_size = [], 0
        cur.append(name)
        cur_size += size
    if cur:
        batches.append(cur)
    return batches
