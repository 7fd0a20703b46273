"""The columnar record codec (`sinks.records.record_payloads`): its
decompressed bytes are json.dumps(record, separators=(",", ":")) with the
canonical key order, for hard text, null fields, sliced batches and
oversize splits, and the `kinesyslogspool` Arrow writer goes through it."""

from __future__ import annotations

import gzip
import json
import os
import random

import pyarrow as pa
import pytest

from kinesyslog_spark.constants import MAX_RECORD_SIZE
from kinesyslog_spark.sinks.records import (
    ENVELOPE_ARROW,
    _split_serialize,
    record_payloads,
)

# non-ASCII, astral plane (surrogate pairs in JSON), quote, backslash,
# slash, C0 controls, DEL
HARD = ["a", "é", "中", "😀", "𝄞", '"', "\\", "/", "\n", "\t", "\x00", "\x1f",
        "\x7f", " ", " ", "z"]


def _text(rng, n):
    return "".join(rng.choice(HARD) for _ in range(n))


def _record(events, **over):
    rec = {"owner": "000000000000", "logGroup": "kinesyslog/syslog/514",
           "logStream": "10.0.0.1", "subscriptionFilters": ["kinesyslog/syslog/514"],
           "messageType": "DATA_MESSAGE", "logEvents": events}
    rec.update(over)
    return rec


def _dumps(rec) -> bytes:
    return json.dumps(rec, separators=(",", ":")).encode()


def _decoded(batch):
    return [gzip.decompress(blob) for *_, blob in record_payloads([batch])]


def _batch(recs):
    return pa.RecordBatch.from_pylist(recs, schema=ENVELOPE_ARROW)


def _reference_parts(rec) -> list[bytes]:
    """Reference splitter over record dicts (sink.py:167-183): json.dumps
    + gzip-9, then ⌈size/max⌉ even event slices, recursing on an
    oversize slice."""
    blob = gzip.compress(_dumps(rec), compresslevel=9)
    if len(blob) <= MAX_RECORD_SIZE:
        return [blob]
    events = rec["logEvents"]
    per = -(-len(events) // -(-len(blob) // MAX_RECORD_SIZE))
    out = []
    for i in range(0, len(events), per):
        part = dict(rec, logEvents=events[i:i + per])
        if len(part["logEvents"]) == len(events):
            out.append(gzip.compress(_dumps(part), compresslevel=9))
        else:
            out.extend(_reference_parts(part))
    return out


def test_hard_text_matches_json_dumps():
    rng = random.Random(3)
    events = [{"id": _text(rng, 6), "timestamp": rng.randrange(-10**15, 10**15),
               "message": _text(rng, rng.randrange(0, 40))} for _ in range(3000)]
    rec = _record(events, logGroup="g/" + _text(rng, 8), logStream=_text(rng, 8),
                  subscriptionFilters=[_text(rng, 5), "a/b"])
    assert _decoded(_batch([rec])) == [_dumps(rec)]


def test_null_fields_encode_as_json_null():
    events = [{"id": None, "timestamp": 1, "message": "m"},
              {"id": "x", "timestamp": None, "message": "m"},
              {"id": "x", "timestamp": 2, "message": None},
              None]
    rec = _record(events, owner=None)
    assert _decoded(_batch([rec])) == [_dumps(rec)]
    assert b'"id":null' in _decoded(_batch([rec]))[0]


@pytest.mark.parametrize("field", ["subscriptionFilters", "logEvents"])
@pytest.mark.parametrize("value", [None, []])
def test_null_or_empty_lists_encode_as_empty_array(field, value):
    rec = _record([{"id": "1", "timestamp": 1, "message": "m"}], **{field: value})
    assert _decoded(_batch([rec])) == [_dumps(dict(rec, **{field: []}))]


def test_sliced_batch_reads_its_own_offsets():
    recs = [_record([{"id": f"{r}-{i}", "timestamp": i, "message": f"m{r}{i}"}
                     for i in range(r + 1)], logStream=f"10.0.0.{r}")
            for r in range(6)]
    batch = _batch(recs)
    for lo, n in ((2, 3), (5, 1), (0, 0)):
        assert _decoded(batch.slice(lo, n)) == [_dumps(r) for r in recs[lo:lo + n]]


def test_rows_and_event_fields_read_by_name():
    rec = _record([{"id": "1", "timestamp": 1, "message": "m"}])
    event = pa.struct([("message", pa.string()), ("timestamp", pa.int64()),
                       ("id", pa.string())])
    batch = pa.RecordBatch.from_pylist([rec], schema=pa.schema(
        [("logEvents", pa.list_(event))]
        + [f for f in ENVELOPE_ARROW if f.name != "logEvents"][::-1]))
    assert _decoded(batch) == [_dumps(rec)]


def test_oversize_split_matches_reference_boundaries():
    rng = random.Random(0)
    rec = _record([{"id": str(i), "timestamp": i,
                    "message": rng.randbytes(1024).hex()} for i in range(2000)])
    parts = _split_serialize(rec)
    assert len(parts) >= 2
    assert [gzip.decompress(p) for p in parts] == [
        gzip.decompress(p) for p in _reference_parts(rec)]
    assert _decoded(_batch([rec])) == [gzip.decompress(p) for p in parts]


def test_spool_writer_is_the_arrow_codec(spark, tmp_path):
    from pyspark.sql.datasource import (
        DataSourceArrowWriter,
        DataSourceStreamArrowWriter,
    )

    from kinesyslog_spark.sinks.records import ENVELOPE_SCHEMA
    from kinesyslog_spark.sources.spool_source import (
        _SpoolStreamWriter,
        _SpoolWriter,
        register_spool_source,
    )

    assert issubclass(_SpoolWriter, DataSourceArrowWriter)
    assert issubclass(_SpoolStreamWriter, DataSourceStreamArrowWriter)
    rng = random.Random(5)
    recs = [_record([{"id": _text(rng, 4), "timestamp": i, "message": _text(rng, 20)}
                     for i in range(50)], logStream=f"10.0.0.{k}")
            for k in range(3)]
    register_spool_source(spark)
    spool_dir = str(tmp_path / "arrow-spool")
    spark.createDataFrame(recs, ENVELOPE_SCHEMA).write.format(
        "kinesyslogspool").mode("append").save(spool_dir)
    got = sorted(gzip.decompress(open(os.path.join(spool_dir, n), "rb").read())
                 for n in os.listdir(spool_dir))
    assert got == sorted(_dumps(r) for r in recs)
    back = spark.read.format("kinesyslogspool").load(spool_dir).drop("src_file")
    assert sorted(_dumps(r.asDict(recursive=True)) for r in back.collect()) == sorted(
        _dumps(r) for r in recs)
