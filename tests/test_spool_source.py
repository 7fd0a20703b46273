"""S5 as a native Spark data source: `format("kinesyslogspool")`
batch + streaming reads over the engine's own spool output (Spark 4
Python Data Source API)."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

pytest.importorskip("pyspark.sql.datasource")

from kinesyslog_spark.sinks.records import (  # noqa: E402
    _compress,
    spool_batch,
    spool_write,
)
from kinesyslog_spark.sources.spool_source import (  # noqa: E402
    SpoolDataSource,
    register_spool_source,
)


def _events(spark):
    rows = [
        (f"{i:056d}", 1700000000000 + i, f"msg {i}", "10.0.0.1", 514)
        for i in range(6)
    ]
    return spark.createDataFrame(
        rows, "id string, ts_ms long, message string, source string, dest int"
    )


@pytest.fixture(scope="module")
def registered(spark):
    register_spool_source(spark)
    return spark


def test_batch_read_round_trips(registered, tmp_path):
    spark = registered
    spool_dir = str(tmp_path / "spool")
    spool_batch(_events(spark), spool_dir)
    # plus one file of two concatenated gzip members (a split record,
    # or a Firehose object): both members must decode
    members = [
        {"owner": "kinesyslog", "logGroup": "kinesyslog/syslog/514",
         "logStream": "10.0.0.9", "subscriptionFilters": [],
         "messageType": "DATA_MESSAGE",
         "logEvents": [{"id": f"{9000 + i:056d}", "timestamp": 1700000009000 + i,
                        "message": f"member {i}"}]}
        for i in range(2)
    ]
    spool_write(b"".join(_compress(m) for m in members), spool_dir)

    df = spark.read.format("kinesyslogspool").load(spool_dir)
    flat = df.select(F.explode("logEvents").alias("e")).select(
        F.col("e.id").alias("id"), F.col("e.timestamp").alias("ts_ms"),
        F.col("e.message").alias("message"),
    )
    got = {(r["id"], r["ts_ms"], r["message"]) for r in flat.collect()}
    want = {(r["id"], r["ts_ms"], r["message"]) for r in _events(spark).collect()}
    want |= {(e["id"], e["timestamp"], e["message"])
             for m in members for e in m["logEvents"]}
    assert got == want
    # provenance column present
    assert df.select("src_file").distinct().count() >= 1


def test_batch_read_empty_dir(registered, tmp_path):
    df = registered.read.format("kinesyslogspool").load(str(tmp_path / "nothing"))
    assert df.count() == 0


def test_stream_read_picks_up_new_files(registered, tmp_path):
    spark = registered
    spool_dir = str(tmp_path / "stream_spool")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    spool_batch(_events(spark), spool_dir)

    q = (
        spark.readStream.format("kinesyslogspool")
        .load(spool_dir)
        .select(F.explode("logEvents").alias("e"))
        .select(F.col("e.id").alias("id"), F.col("e.message").alias("message"))
        .writeStream.format("json")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + 60
        def rows():
            if not os.path.isdir(out_dir):
                return []
            import json as _json
            out = []
            for n in os.listdir(out_dir):
                if n.endswith(".json"):
                    with open(os.path.join(out_dir, n)) as f:
                        out += [_json.loads(line) for line in f if line.strip()]
            return out
        while len(rows()) < 6 and time.time() < deadline:
            time.sleep(0.5)
        assert len(rows()) == 6

        # late arrivals: a second spool batch lands mid-stream
        spool_batch(_events(spark), spool_dir)
        while len(rows()) < 12 and time.time() < deadline:
            time.sleep(0.5)
        got = rows()
        assert len(got) == 12, "stream must deliver newly-arrived spool files"
    finally:
        q.stop()


def test_source_name_and_schema():
    assert SpoolDataSource.name() == "kinesyslogspool"
    assert "logEvents" in SpoolDataSource(options={}).schema()


def test_writer_round_trips(registered, tmp_path):
    """df.write.format('kinesyslogspool') -> atomic spool files that the
    batch reader inverts exactly (same split/compress/link path as the
    relay sink)."""
    spark = registered
    spool_dir = str(tmp_path / "wspool")
    env = spark.createDataFrame(
        [
            ("me", "grp-a", "stream-1", ["all"], "DATA_MESSAGE",
             [(f"{i:056d}", 1700000000000 + i, f"w msg {i}")
              for i in range(4)]),
            ("me", "grp-b", "stream-2", [], "DATA_MESSAGE",
             [("x" * 56, 1700000009999, "solo")]),
        ],
        "owner string, logGroup string, logStream string, "
        "subscriptionFilters array<string>, messageType string, "
        "logEvents array<struct<id: string, timestamp: long, "
        "message: string>>",
    )
    env.write.format("kinesyslogspool").mode("append").save(spool_dir)
    back = spark.read.format("kinesyslogspool").load(spool_dir)
    got = {
        (r.owner, r.logGroup, r.logStream, tuple(r.subscriptionFilters),
         r.messageType, tuple((e.id, e.timestamp, e.message)
                              for e in r.logEvents))
        for r in back.collect()
    }
    want = {
        (r.owner, r.logGroup, r.logStream, tuple(r.subscriptionFilters),
         r.messageType, tuple((e.id, e.timestamp, e.message)
                              for e in r.logEvents))
        for r in env.collect()
    }
    assert got == want
    # every visible file is a complete record (no temp residue)
    assert all(
        n.startswith("firehose_event-") for n in os.listdir(spool_dir)
    )


def test_writer_rejects_overwrite(registered, tmp_path):
    spark = registered
    env = spark.createDataFrame(
        [("me", "g", "s", [], "DATA_MESSAGE", [])],
        "owner string, logGroup string, logStream string, "
        "subscriptionFilters array<string>, messageType string, "
        "logEvents array<struct<id: string, timestamp: long, "
        "message: string>>",
    )
    with pytest.raises(Exception, match="append-only"):
        env.write.format("kinesyslogspool").mode("overwrite").save(
            str(tmp_path / "ow")
        )


def test_stream_writer_spools_micro_batches(registered, tmp_path):
    """writeStream.format('kinesyslogspool'): each micro-batch's
    envelopes land as atomic spool files the batch reader inverts."""
    import json as _json

    spark = registered
    in_dir = str(tmp_path / "in")
    spool_dir = str(tmp_path / "sspool")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)

    def write_batch(name, k):
        tmp = os.path.join(in_dir, name + ".tmp")
        with open(tmp, "w") as f:
            f.write(_json.dumps({
                "owner": "me", "logGroup": f"g{k}", "logStream": "s",
                "subscriptionFilters": [], "messageType": "DATA_MESSAGE",
                "logEvents": [
                    {"id": f"{k:056d}", "timestamp": 1700000000000 + k,
                     "message": f"stream msg {k}"}
                ],
            }) + "\n")
        os.rename(tmp, os.path.join(in_dir, name))

    write_batch("b1.json", 1)
    stream = spark.readStream.schema(
        "owner string, logGroup string, logStream string, "
        "subscriptionFilters array<string>, messageType string, "
        "logEvents array<struct<id: string, timestamp: long, "
        "message: string>>"
    ).json(in_dir)
    q = (
        stream.writeStream.format("kinesyslogspool")
        .option("path", spool_dir)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + 60

        def groups():
            try:
                return {
                    r.logGroup for r in spark.read.format(
                        "kinesyslogspool"
                    ).load(spool_dir).collect()
                }
            except Exception:
                return set()

        while time.time() < deadline and groups() != {"g1"}:
            time.sleep(0.5)
        write_batch("b2.json", 2)
        while time.time() < deadline and groups() != {"g1", "g2"}:
            time.sleep(0.5)
        assert groups() == {"g1", "g2"}
    finally:
        q.stop()
    back = spark.read.format("kinesyslogspool").load(spool_dir)
    msgs = {
        e.message for r in back.collect() for e in r.logEvents
    }
    assert msgs == {"stream msg 1", "stream msg 2"}


def test_writer_crash_window_leaves_no_visible_partial(registered, tmp_path):
    """K1 crash-window proof (round-6 verdict #5): a writer that dies
    BETWEEN the temp write and the hard link (the only window where
    bytes exist on disk but the record is unpublished) must leave
    nothing a reader can observe — matching the reference spool's
    temp+link contract (spool.py:25-36) the way the uploader's retry
    tests pin K3."""
    from kinesyslog_spark.constants import SPOOL_PREFIX, SPOOL_TEMP_PREFIX
    from kinesyslog_spark.sinks import records as recmod
    from kinesyslog_spark.sinks.records import read_spool, spool_write
    from kinesyslog_spark.sources.spool_source import _spool_files

    spark = registered
    spool_dir = str(tmp_path / "cspool")

    # one complete record first, so "reader sees nothing new" is
    # distinguishable from "reader sees nothing at all"
    ok_payload = recmod._compress({
        "owner": "me", "logGroup": "g-ok", "logStream": "s",
        "subscriptionFilters": [], "messageType": "DATA_MESSAGE",
        "logEvents": [{"id": "1" * 56, "timestamp": 1700000000000,
                       "message": "published"}],
    })
    spool_write(ok_payload, spool_dir)

    # crash in the window: temp bytes fsynced, link never happens
    real_link = os.link

    def die_before_link(src, dst, **kw):
        raise OSError("simulated crash between temp write and link")

    crash_payload = recmod._compress({
        "owner": "me", "logGroup": "g-crash", "logStream": "s",
        "subscriptionFilters": [], "messageType": "DATA_MESSAGE",
        "logEvents": [{"id": "2" * 56, "timestamp": 1700000000001,
                       "message": "torn"}],
    })
    recmod.os.link = die_before_link
    try:
        with pytest.raises(OSError, match="simulated crash"):
            spool_write(crash_payload, spool_dir)
    finally:
        recmod.os.link = real_link

    names = sorted(os.listdir(spool_dir))
    # the torn write left ONLY temp residue; the published name set is
    # exactly the pre-crash record
    assert [n for n in names if n.startswith(SPOOL_TEMP_PREFIX)] != []
    assert len([n for n in names if n.startswith(SPOOL_PREFIX)]) == 1
    # the source's file listing never surfaces temps
    assert all(
        os.path.basename(p).startswith(SPOOL_PREFIX)
        for _, p in _spool_files(spool_dir)
    )
    # and every reader path agrees: exactly the published record
    for df in (
        spark.read.format("kinesyslogspool").load(spool_dir),
        read_spool(spark, spool_dir),
    ):
        assert [r.logGroup for r in df.collect()] == ["g-ok"]

    # second window: crash AFTER link, before unlink — the record is
    # published; the stale temp is invisible and not double-read
    real_unlink = os.unlink

    def die_before_unlink(path, **kw):
        raise OSError("simulated crash between link and unlink")

    recmod.os.unlink = die_before_unlink
    try:
        with pytest.raises(OSError, match="simulated crash"):
            spool_write(crash_payload, spool_dir)
    finally:
        recmod.os.unlink = real_unlink

    names = sorted(os.listdir(spool_dir))
    assert len([n for n in names if n.startswith(SPOOL_PREFIX)]) == 2
    back = spark.read.format("kinesyslogspool").load(spool_dir)
    assert sorted(r.logGroup for r in back.collect()) == ["g-crash", "g-ok"]
