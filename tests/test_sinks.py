"""Record envelope build → gzip/split → atomic spool → read-back round
trip (G1-G5, K1, E3), plus upload batch packing (K2)."""

from __future__ import annotations

import gzip
import json
import os
import random
import subprocess
import sys

from pyspark.sql import functions as F

from kinesyslog_spark.constants import MAX_BATCH_COUNT, MAX_RECORD_SIZE
from kinesyslog_spark.sinks.records import (
    _split_serialize,
    build_envelopes,
    iter_record_parts,
    pack_upload_batches,
    read_spool,
    serialize_records,
    spool_batch,
    spool_write,
)


def _events(spark, n=50):
    return spark.range(n).select(
        F.format_string("id-%04d", F.col("id")).alias("id"),
        (F.lit(1700000000000) + F.col("id") * 1000).alias("ts_ms"),
        F.format_string("msg %d", F.col("id")).alias("message"),
        F.concat(F.lit("10.0.0."), (F.col("id") % 3).cast("string")).alias("source"),
        F.when(F.col("id") % 2 == 0, 514).otherwise(6514).alias("dest"),
    )


def test_envelope_shape(spark):
    env = build_envelopes(_events(spark)).collect()
    assert len(env) == 6  # 3 sources x 2 ports
    row = next(r for r in env if r["logStream"] == "10.0.0.0" and r["logGroup"].endswith("/514"))
    assert row["messageType"] == "DATA_MESSAGE"
    assert row["subscriptionFilters"] == [row["logGroup"]]
    evs = row["logEvents"]
    # ordered by timestamp within the record
    assert [e["timestamp"] for e in evs] == sorted(e["timestamp"] for e in evs)
    assert evs[0]["id"].startswith("id-")


def test_split_oversize_record():
    rec = {
        "owner": "0", "logGroup": "g", "logStream": "s",
        "subscriptionFilters": ["g"], "messageType": "DATA_MESSAGE",
        # incompressible-ish payload to force a split
        "logEvents": [
            {"id": str(i), "timestamp": i, "message": os.urandom(1024).hex()}
            for i in range(2000)
        ],
    }
    parts = _split_serialize(rec)
    assert len(parts) >= 2
    assert all(len(p) <= MAX_RECORD_SIZE for p in parts)
    # no event lost or duplicated across the split
    ids = [
        e["id"]
        for p in parts
        for e in json.loads(gzip.decompress(p))["logEvents"]
    ]
    assert ids == [str(i) for i in range(2000)]


def test_dump_cli_filters(spark, tmp_path, capsys):
    """E3 reader CLI: U1 group-prefix, U2 min-length, U3 explode+trim."""
    from kinesyslog_spark.cli import main
    from kinesyslog_spark.sinks.records import spool_batch

    spool_dir = str(tmp_path / "spool")
    spool_batch(_events(spark, n=6), spool_dir)
    rc = main(["dump", spool_dir, "--group", "kinesyslog/syslog/514",
               "--min-length", "6", "--show-source"])
    assert rc == 0
    lines = [ln for ln in capsys.readouterr().out.splitlines() if ln]
    # port 514 = even ids 0,2,4; "msg 0".."msg 4" are 5 chars -> all pass
    # min-length 6? no: "msg 0" is 5 chars, filtered out entirely
    assert lines == []
    rc = main(["dump", spool_dir, "--group", "kinesyslog/syslog/514",
               "--min-length", "5", "--show-source"])
    lines = [ln for ln in capsys.readouterr().out.splitlines() if ln]
    assert [ln.split("\t")[1] for ln in lines] == ["msg 0", "msg 2", "msg 4"]
    assert all(ln.split("\t")[0].startswith("10.0.0.") for ln in lines)


def test_spool_write_atomic(tmp_path):
    path = spool_write(b"payload", str(tmp_path))
    assert os.path.basename(path).startswith("firehose_event-")
    assert not [n for n in os.listdir(tmp_path) if n.startswith("_temp")]
    assert open(path, "rb").read() == b"payload"


def test_multi_member_gzip_roundtrip():
    rec = {"owner": "0", "logGroup": "g", "logStream": "s",
           "subscriptionFilters": ["g"], "messageType": "DATA_MESSAGE",
           "logEvents": [{"id": "1", "timestamp": 1, "message": "m"}]}
    blob = gzip.compress(json.dumps(rec).encode()) * 3  # concatenated members
    parts = list(iter_record_parts(blob))
    assert len(parts) == 3 and all(p == rec for p in parts)


def test_spool_batch_roundtrip(spark, tmp_path):
    spool_dir = str(tmp_path / "spool")
    events = _events(spark)
    n = spool_batch(events, spool_dir)
    assert n == 6
    back = read_spool(spark, spool_dir)
    flat = back.select(F.explode("logEvents").alias("e")).select(
        F.col("e.id").alias("id"), F.col("e.timestamp").alias("ts_ms"),
        F.col("e.message").alias("message"),
    )
    orig = {(r["id"], r["ts_ms"], r["message"]) for r in events.collect()}
    got = {(r["id"], r["ts_ms"], r["message"]) for r in flat.collect()}
    assert got == orig


def test_pack_upload_batches():
    sizes = [(f"f{i}", 1) for i in range(MAX_BATCH_COUNT + 10)]
    batches = pack_upload_batches(sizes)
    assert [len(b) for b in batches] == [MAX_BATCH_COUNT, 10]
    big = [("a", 3 * 1024 * 1024), ("b", 3 * 1024 * 1024), ("c", 10)]
    assert pack_upload_batches(big) == [["a"], ["b", "c"]]


def test_spool_batch_count_ignores_preexisting_files(spark, tmp_path):
    """The return value counts records WRITTEN THIS BATCH (the part
    counts its tasks return), not whatever os.listdir sees — pre-existing and
    prior-batch spool files must not inflate it."""
    spool_dir = str(tmp_path / "spool2")
    events = _events(spark)
    assert spool_batch(events, spool_dir) == 6
    # second batch into the same dir: still 6, not 12
    assert spool_batch(events, spool_dir) == 6


def test_spool_batch_splits_oversize_group(spark, tmp_path):
    """One (source, dest) group whose gzip'd record exceeds
    MAX_RECORD_SIZE: spool_batch returns the number of files it wrote,
    every file fits, and the parts hold each event exactly once."""
    rng = random.Random(0)
    rows = [
        (f"{i:06d}", 1700000000000 + i, rng.randbytes(1024).hex(), "10.0.0.1", 514)
        for i in range(2000)
    ]
    events = spark.createDataFrame(
        rows, "id string, ts_ms long, message string, source string, dest int"
    )
    spool_dir = str(tmp_path / "big")
    n = spool_batch(events, spool_dir)
    paths = [os.path.join(spool_dir, f) for f in os.listdir(spool_dir)]
    assert n == len(paths) >= 2
    assert all(os.path.getsize(p) <= MAX_RECORD_SIZE for p in paths)
    ids = sorted(
        e["id"]
        for p in paths
        for rec in iter_record_parts(open(p, "rb").read())
        for e in rec["logEvents"]
    )
    assert ids == [r[0] for r in rows]


def test_serialize_plan_has_one_exchange(spark):
    """The sink shuffles once, on (source, dest) in build_envelopes;
    serializing is a narrow map over the envelope rows (no second
    Exchange, no Sort, no grouped pandas UDF)."""
    plan = (
        serialize_records(build_envelopes(_events(spark)))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 1, plan
    assert "Exchange hashpartitioning(source#" in plan, plan
    assert "FlatMapGroupsInPandas" not in plan, plan
    assert "Sort [" not in plan, plan
    assert "MapInArrow" in plan, plan


def _spool_bytes(spool_dir: str) -> list[bytes]:
    return sorted(
        gzip.decompress(open(os.path.join(spool_dir, f), "rb").read())
        for f in os.listdir(spool_dir)
    )


def test_spool_batch_matches_reference_path(spark, tmp_path):
    """The sink kernel writes, decompressed, exactly the payloads of
    serialize_records(build_envelopes(...)): several groups (one with a
    null dest), equal timestamps ordered by id then message (a null
    message first), an oversize group that splits, input columns in
    another order with an extra one, and non-default envelope fields."""
    rng = random.Random(7)
    rows = [
        (f"id-{i % 3}", 1700000000000 + i // 4, f"m{i % 2}", "10.0.0.1", 514)
        for i in range(24)
    ]
    rows += [("id-0", 1700000000000, None, "10.0.0.1", 514),
             ("b", 5, "x", "10.0.0.2", 514), ("a", 5, "y", "10.0.0.2", 514),
             ("c", 1, "z", "10.0.0.1", 6514), ("d", 2, "w", "10.0.0.3", None)]
    rows += [(f"{i:06d}", 1700000000000 - i, rng.randbytes(1024).hex(), "10.0.0.9", 514)
             for i in range(2000)]
    rng.shuffle(rows)
    events = spark.createDataFrame(
        rows, "id string, ts_ms long, message string, source string, dest int"
    ).select("message", "dest", F.lit(1).alias("extra"), "ts_ms", "source", "id")
    kw = {"owner": "123456789012", "group_prefix": "relay", "fmt": "gelf"}
    ref = sorted(
        gzip.decompress(bytes(r.payload))
        for r in serialize_records(build_envelopes(events, **kw)).collect()
    )
    spool_dir = str(tmp_path / "kernel")
    n = spool_batch(events, spool_dir, **kw)
    got = _spool_bytes(spool_dir)
    assert n == len(got) == len(ref) >= 7
    assert got == ref
    assert sum(json.loads(g)["logStream"] == "10.0.0.9" for g in got) >= 2


def test_records_module_does_not_import_pandas():
    """Importing the record module (what every sink worker does) loads
    no pandas: the readers decode through mapInArrow."""
    code = ("import sys, kinesyslog_spark.sinks.records; "
            "sys.exit('pandas' in sys.modules)")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    assert subprocess.run([sys.executable, "-c", code], cwd=root).returncode == 0
