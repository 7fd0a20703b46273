"""Streaming surface W1-W7 (SURVEY §2c): file-drop replay through real
Structured Streaming queries, stateful chunk reassembly, window shapes,
and the end-to-end streaming relay into the record spool."""

from __future__ import annotations

import json
import os
import re
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F

from kinesyslog_spark.sinks.records import read_spool
from kinesyslog_spark.streaming.relay import LINE_SCHEMA, start_relay
from kinesyslog_spark.streaming.state import (
    _ChunkAssembler,
    reassemble_chunks_stream,
)
from kinesyslog_spark.streaming.windows import (
    dedup_events,
    interval_join,
    session_windows,
    sliding_counts,
    tumbling_counts,
)


def _write_json(path, rows):
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    os.rename(tmp, path)


def _events_df(spark):
    rows = [
        (1, "2024-01-01 00:05:00", 7, "click", 1.0),
        (2, "2024-01-01 00:55:00", 7, "click", 2.0),
        (3, "2024-01-01 01:05:00", 8, "view", 3.0),
        (2, "2024-01-01 00:55:00", 7, "click", 2.0),  # duplicate id
    ]
    return spark.createDataFrame(
        rows, "id long, ts_s string, user_id long, event_type string, value double"
    ).select(
        F.col("id"), F.to_timestamp("ts_s").alias("ts"), "user_id", "event_type", "value"
    )


def test_tumbling_and_sliding_batch_twin(spark):
    ev = _events_df(spark)
    tumb = {(r["start"].hour, r["event_type"]): r["n"] for r in tumbling_counts(ev).collect()}
    assert tumb[(0, "click")] == 3 and tumb[(1, "view")] == 1
    slide = sliding_counts(ev, "10 minutes", "5 minutes").collect()
    # each event appears in exactly width/slide = 2 panes
    assert sum(r["n"] for r in slide if r["event_type"] == "view") == 2


def test_session_window_gap(spark):
    ev = _events_df(spark)
    sess = session_windows(ev, gap="30 minutes", key="user_id").collect()
    by_user = {}
    for r in sess:
        by_user.setdefault(r["user_id"], []).append(r["n"])
    # user 7: 00:05 | 00:55 x2 (incl. dup id) -> gap 50min > 30min -> 2 sessions
    assert sorted(by_user[7]) == [1, 2] and by_user[8] == [1]


def test_dedup_events_batch(spark):
    assert dedup_events(_events_df(spark)).count() == 3


def test_interval_join_batch_twin(spark):
    clicks = spark.createDataFrame(
        [(7, "2024-01-01 00:00:00", "c1"), (8, "2024-01-01 00:00:00", "c2")],
        "user_id long, ts_s string, click string",
    ).select("user_id", F.to_timestamp("ts_s").alias("ts"), "click")
    buys = spark.createDataFrame(
        [
            (7, "2024-01-01 00:05:00", "b1"),   # within 10 min -> match
            (7, "2024-01-01 00:20:00", "b2"),   # outside window
            (8, "2023-12-31 23:59:00", "b3"),   # before click
        ],
        "user_id long, ts_s string, buy string",
    ).select("user_id", F.to_timestamp("ts_s").alias("ts"), "buy")
    rows = interval_join(clicks, buys, within="10 minutes").collect()
    assert [(r["click"], r["r_buy"]) for r in rows] == [("c1", "b1")]
    # left_outer keeps the unmatched click with nulls
    outer = interval_join(clicks, buys, within="10 minutes", how="left_outer")
    got = {r["click"]: r["r_buy"] for r in outer.collect()}
    assert got == {"c1": "b1", "c2": None}


def test_interval_join_stream_stream(spark, tmp_path):
    ldir, rdir = str(tmp_path / "l"), str(tmp_path / "r")
    os.makedirs(ldir), os.makedirs(rdir)
    _write_json(os.path.join(ldir, "l1.json"), [
        {"user_id": 7, "ts": "2024-01-01 00:00:00", "click": "c1"},
    ])
    _write_json(os.path.join(rdir, "r1.json"), [
        {"user_id": 7, "ts": "2024-01-01 00:05:00", "buy": "b1"},
        {"user_id": 7, "ts": "2024-01-01 00:20:00", "buy": "b2"},
    ])
    schema_l = "user_id long, ts timestamp, click string"
    schema_r = "user_id long, ts timestamp, buy string"
    lt = spark.readStream.schema(schema_l).json(ldir)
    rt = spark.readStream.schema(schema_r).json(rdir)
    out = interval_join(lt, rt, within="10 minutes")
    q = (
        out.select("user_id", "click", "r_buy")
        .writeStream.format("memory").queryName("ivj").outputMode("append").start()
    )
    try:
        deadline = time.time() + 90
        got = []
        while time.time() < deadline:
            got = [(r["click"], r["r_buy"]) for r in spark.sql("SELECT * FROM ivj").collect()]
            if got:
                break
            time.sleep(0.5)
        assert got == [("c1", "b1")]
    finally:
        q.stop()


@pytest.mark.slow
def test_interval_join_stream_left_outer(spark, tmp_path):
    """Left-outer stream-stream join: the matched row emits promptly; the
    unmatched left row emits with nulls only after the watermark passes
    its join window (driven by a later batch advancing event time)."""
    ldir, rdir = str(tmp_path / "lo_l"), str(tmp_path / "lo_r")
    os.makedirs(ldir), os.makedirs(rdir)
    _write_json(os.path.join(ldir, "l1.json"), [
        {"user_id": 7, "ts": "2024-01-01 00:00:00", "click": "c1"},
        {"user_id": 8, "ts": "2024-01-01 00:00:00", "click": "c2"},  # no match
    ])
    _write_json(os.path.join(rdir, "r1.json"), [
        {"user_id": 7, "ts": "2024-01-01 00:05:00", "buy": "b1"},
    ])
    lt = spark.readStream.schema("user_id long, ts timestamp, click string").json(ldir)
    rt = spark.readStream.schema("user_id long, ts timestamp, buy string").json(rdir)
    out = interval_join(lt, rt, within="10 minutes", watermark="10 minutes",
                        how="left_outer")
    q = (
        out.select("user_id", "click", "r_buy")
        .writeStream.format("memory").queryName("ivjlo").outputMode("append").start()
    )

    def poll(expect, timeout=90):
        deadline = time.time() + timeout
        got = {}
        while time.time() < deadline:
            got = {r["click"]: r["r_buy"] for r in spark.sql("SELECT * FROM ivjlo").collect()}
            if got == expect:
                return got
            time.sleep(0.5)
        return got

    try:
        assert poll({"c1": "b1"}) == {"c1": "b1"}
        # advance event time far past c2's window + watermark -> null emits
        _write_json(os.path.join(rdir, "r2.json"), [
            {"user_id": 9, "ts": "2024-01-01 02:00:00", "buy": "b9"},
        ])
        _write_json(os.path.join(ldir, "l2.json"), [
            {"user_id": 9, "ts": "2024-01-01 02:00:00", "click": "c9"},
        ])
        got = poll({"c1": "b1", "c2": None, "c9": "b9"}, timeout=120)
        assert got.get("c2", "missing") is None, f"unmatched left row never emitted: {got}"
    finally:
        q.stop()


def test_chunk_assembler_semantics():
    asm = _ChunkAssembler()
    asm.add(1, 3, b"B")
    asm.add(0, 3, b"A")
    assert not asm.complete
    asm.add(1, 3, b"XX")  # duplicate seq: first wins (gelf.py:41-44)
    asm.add(2, 3, b"C")
    assert asm.complete and asm.assemble() == b"ABC"
    poisoned = _ChunkAssembler()
    poisoned.add(0, 500, b"x")  # > 128 chunks -> dropped (gelf.py:20)
    assert poisoned.poisoned


@pytest.mark.slow
def test_chunk_reassembly_stream(spark, tmp_path):
    in_dir = str(tmp_path / "chunks")
    os.makedirs(in_dir)
    # batch 1: msg 1 complete (out of order), msg 2 partial
    _write_json(os.path.join(in_dir, "b1.json"), [
        {"msg_id": 1, "chunk_seq": 1, "chunk_cnt": 2, "payload": "bb"},
        {"msg_id": 1, "chunk_seq": 0, "chunk_cnt": 2, "payload": "aa"},
        {"msg_id": 2, "chunk_seq": 0, "chunk_cnt": 2, "payload": "xx"},
    ])
    chunks = (
        spark.readStream.schema("msg_id long, chunk_seq int, chunk_cnt int, payload string")
        .json(in_dir)
        .select("msg_id", "chunk_seq", "chunk_cnt", F.encode("payload", "UTF-8").alias("payload"))
    )
    # Long timeout so the partial msg-2 state survives the test's polling.
    out = reassemble_chunks_stream(chunks, timeout_ms=120_000)
    q = (
        out.select("msg_id", "n_chunks", F.decode("message", "UTF-8").alias("message"))
        .writeStream.format("memory").queryName("reasm").outputMode("append").start()
    )

    def poll(expect):
        deadline = time.time() + 90
        got = {}
        while time.time() < deadline:
            got = {r["msg_id"]: r["message"] for r in spark.sql("SELECT * FROM reasm").collect()}
            if got == expect:
                return got
            time.sleep(0.5)
        return got

    try:
        # msg 1 completes out of order; msg 2 incomplete -> held in state
        assert poll({1: "aabb"}) == {1: "aabb"}
        _write_json(os.path.join(in_dir, "b2.json"), [
            {"msg_id": 2, "chunk_seq": 1, "chunk_cnt": 2, "payload": "yy"},
        ])
        assert poll({1: "aabb", 2: "xxyy"}) == {1: "aabb", 2: "xxyy"}
    finally:
        q.stop()


def _has_protobuf() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithStateInPandas runtime needs google.protobuf "
    "(not shipped in this container); the processor's state machine is "
    "unit-tested below without the runtime",
)
def test_chunk_reassembly_transform_with_state(spark, tmp_path):
    """The Spark-4 StatefulProcessor twin (transformWithStateInPandas)
    reassembles out-of-order chunks and holds incomplete state, matching
    reassemble_chunks_stream's emission behavior."""
    from kinesyslog_spark.streaming.state import reassemble_chunks_tws

    in_dir = str(tmp_path / "chunks_tws")
    os.makedirs(in_dir)
    _write_json(os.path.join(in_dir, "b1.json"), [
        {"msg_id": 1, "chunk_seq": 1, "chunk_cnt": 2, "payload": "bb"},
        {"msg_id": 1, "chunk_seq": 0, "chunk_cnt": 2, "payload": "aa"},
        {"msg_id": 2, "chunk_seq": 0, "chunk_cnt": 2, "payload": "xx"},
    ])
    chunks = (
        spark.readStream.schema("msg_id long, chunk_seq int, chunk_cnt int, payload string")
        .json(in_dir)
        .select("msg_id", "chunk_seq", "chunk_cnt", F.encode("payload", "UTF-8").alias("payload"))
    )
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    out = reassemble_chunks_tws(chunks, timeout_ms=120_000)
    q = (
        out.select("msg_id", "n_chunks", F.decode("message", "UTF-8").alias("message"))
        .writeStream.format("memory").queryName("reasm_tws").outputMode("append").start()
    )

    def poll(expect):
        deadline = time.time() + 90
        got = {}
        while time.time() < deadline:
            got = {r["msg_id"]: r["message"] for r in spark.sql("SELECT * FROM reasm_tws").collect()}
            if got == expect:
                return got
            time.sleep(0.5)
        return got

    try:
        assert poll({1: "aabb"}) == {1: "aabb"}
        _write_json(os.path.join(in_dir, "b2.json"), [
            {"msg_id": 2, "chunk_seq": 1, "chunk_cnt": 2, "payload": "yy"},
        ])
        assert poll({1: "aabb", 2: "xxyy"}) == {1: "aabb", 2: "xxyy"}
    finally:
        q.stop()
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_chunk_processor_state_machine():
    """StatefulProcessor semantics without the streaming runtime: fake
    handle/state objects drive handleInputRows + handleExpiredTimer
    through the same dedup/complete/overflow/timeout paths the live
    query exercises where protobuf is available."""
    import pandas as pd

    from kinesyslog_spark.streaming.state import make_chunk_processor

    class FakeValueState:
        def __init__(self):
            self.v = None

        def exists(self):
            return self.v is not None

        def get(self):
            return self.v

        def update(self, v):
            self.v = v

        def clear(self):
            self.v = None

    class FakeListState(FakeValueState):
        def appendList(self, rows):
            self.v = (self.v or []) + list(rows)

    class FakeTimerValues:
        def getCurrentProcessingTimeInMs(self):
            return 1_000_000

    class FakeHandle:
        def __init__(self):
            self.timers = []

        def getListState(self, name, schema):
            return FakeListState()

        def getValueState(self, name, schema):
            return FakeValueState()

        def registerTimer(self, ts):
            self.timers.append(ts)

        def deleteTimer(self, ts):
            self.timers.remove(ts)

        def listTimers(self):
            return list(self.timers)

    proc = make_chunk_processor(timeout_ms=5000)
    handle = FakeHandle()
    proc.init(handle)

    # batch 1: out-of-order partial -> no emit, timer registered
    b1 = pd.DataFrame({"chunk_seq": [1], "chunk_cnt": [2], "payload": [b"bb"]})
    out = list(proc.handleInputRows((7,), iter([b1]), FakeTimerValues()))
    assert out == [] and handle.timers == [1_005_000]
    # batch 2 completes -> emits assembled message, timer cleaned up
    b2 = pd.DataFrame({"chunk_seq": [0], "chunk_cnt": [2], "payload": [b"aa"]})
    out = list(proc.handleInputRows((7,), iter([b2]), FakeTimerValues()))
    assert len(out) == 1
    assert bytes(out[0]["message"][0]) == b"aabb" and handle.timers == []
    # timeout on an incomplete group discards silently
    proc2 = make_chunk_processor(timeout_ms=5000)
    h2 = FakeHandle()
    proc2.init(h2)
    list(proc2.handleInputRows((9,), iter([b1]), FakeTimerValues()))
    assert list(proc2.handleExpiredTimer((9,), FakeTimerValues(), None)) == []
    assert not proc2._total.exists() and not proc2._chunks.exists()


def test_reassemble_fn_timeout_path():
    """The 5-s timeout (the reference's unenforced TODO, protocol.py:288)
    drops incomplete state without emitting."""
    from kinesyslog_spark.streaming.state import reassemble_fn

    class FakeState:
        hasTimedOut = True
        removed = False
        exists = True

        def remove(self):
            self.removed = True

    st = FakeState()
    frames = list(reassemble_fn((42,), iter([]), st))
    assert st.removed
    assert all(f.empty for f in frames)


def test_streaming_relay_end_to_end(spark, tmp_path):
    in_dir, spool_dir, ckpt = (str(tmp_path / d) for d in ("in", "spool", "ckpt"))
    os.makedirs(in_dir)
    _write_json(os.path.join(in_dir, "lines1.json"), [
        {"raw": "<13>1 2024-01-01T00:00:01.000000+00:00 h1 app - - - hello",
         "source": "10.0.0.1", "dest": 514,
         "recv_ts": "2024-01-01T00:00:02.000000", "seq": 0},
        {"raw": "totally unparsable",
         "source": "10.0.0.2", "dest": 6514,
         "recv_ts": "2024-01-01T00:00:03.000000", "seq": 1},
    ])
    q = start_relay(spark, in_dir, spool_dir, ckpt, trigger_seconds=1)
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            q.processAllAvailable()
            if os.path.isdir(spool_dir) and any(
                n.startswith("firehose_event-") for n in os.listdir(spool_dir)
            ):
                break
            time.sleep(0.5)
        back = read_spool(spark, spool_dir)
        flat = back.select(
            "logGroup", "logStream", F.explode("logEvents").alias("e")
        ).collect()
        by_stream = {r["logStream"]: r for r in flat}
        assert by_stream["10.0.0.1"]["logGroup"] == "kinesyslog/syslog/514"
        assert by_stream["10.0.0.1"]["e"]["message"].endswith("hello")
        # P6 rewrite applied to the unparsable line
        assert by_stream["10.0.0.2"]["e"]["message"].startswith("<13>1 2024-01-01T00:00:03")
        assert len(by_stream["10.0.0.1"]["e"]["id"]) == 56
    finally:
        q.stop()


def test_relay_trigger_runs_no_listing_job(spark, tmp_path):
    """A trigger over 64 bridge files lists them on the driver: no stage
    of the query's jobs has a task per file (the parallel partition
    discovery job that 64 paths used to start)."""
    from kinesyslog_spark.sources.bridge import ROLL_COUNT, SpoolWriter

    in_dir, spool_dir, ckpt = (str(tmp_path / d) for d in ("in", "spool", "ckpt"))
    files = 64
    writer = SpoolWriter(in_dir)
    for i in range(files * ROLL_COUNT):
        writer.add(f"<13>1 2024-01-01T00:00:01.000000+00:00 h app - - - seq={i}",
                   "10.0.0.1", 514)
    assert len(os.listdir(in_dir)) == files
    q = start_relay(spark, in_dir, spool_dir, ckpt, trigger_seconds=1)
    try:
        q.processAllAvailable()
        assert [p["numInputRows"] for p in q.recentProgress
                if p["numInputRows"]] == [files * ROLL_COUNT]
    finally:
        q.stop()
    tracker = spark.sparkContext.statusTracker()
    jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(str(q.runId))]
    tasks = [tracker.getStageInfo(s).numTasks for j in jobs if j for s in j.stageIds
             if tracker.getStageInfo(s)]
    assert tasks, "the query's jobs are not visible under its runId"
    assert max(tasks) < files, tasks


_PYTHON_NODE = re.compile(r"^\W*(\w*(?:EvalPython|InPandas|InArrow)\w*) \(\d+\)")


def _final_plan_tree(plan: str) -> str:
    """The executed tree of a formatted plan: AQE's final plan if any."""
    if "== Final Plan ==" in plan:
        plan = plan.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    return plan.split("\n\n", 1)[0]


def test_relay_sink_runs_one_python_node(spark, tmp_path):
    """Every job of the relay query runs under a SQL plan that holds
    exactly one Python node, the sink's groupBy applyInArrow: no RDD hop (a foreachPartition job runs outside any Dataset plan,
    so it lands in the micro-batch's own Python-free execution) and no
    second Python pass."""
    from kinesyslog_spark.sources.bridge import ROLL_COUNT, SpoolWriter

    in_dir, spool_dir, ckpt = (str(tmp_path / d) for d in ("in", "spool", "ckpt"))
    writer = SpoolWriter(in_dir)
    for i in range(4 * ROLL_COUNT):
        writer.add(f"<13>1 2024-01-01T00:00:01.000000+00:00 h app - - - seq={i}",
                   f"10.0.0.{i % 3}", 514)
    q = start_relay(spark, in_dir, spool_dir, ckpt, trigger_seconds=1)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(os.listdir(spool_dir)) == 3
    jobs = set(spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId)))
    assert jobs, "the query's jobs are not visible under its runId"
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList(max(0, store.executionsCount() - 50), 50).iterator()
    plans, seen = [], set()
    while execs.hasNext():
        e = execs.next()
        keys = e.jobs().keysIterator()
        ran = set()
        while keys.hasNext():
            ran.add(int(keys.next()))
        if ran & jobs:
            seen |= ran & jobs
            plans.append(_final_plan_tree(e.physicalPlanDescription()))
    assert seen == jobs, (jobs, seen)
    for plan in plans:
        nodes = [m.group(1) for line in plan.splitlines()
                 if (m := _PYTHON_NODE.match(line))]
        assert nodes == ["FlatMapGroupsInArrow"], plan


def test_session_window_reassembly_batch_parity(spark):
    """The session_window variant assembles exactly like the stateful op:
    dedup first-wins by seq, complete groups only, >128-chunk groups
    dropped, incomplete groups never emitted."""
    from kinesyslog_spark.streaming.state import reassemble_chunks_session_window

    rows = [
        # msg 1: complete, out of order, with a duplicate seq 0 arriving
        # later carrying a different payload (first must win).
        (1, 1, 2, "bb", "2024-01-01T00:00:01"),
        (1, 0, 2, "aa", "2024-01-01T00:00:02"),
        (1, 0, 2, "ZZ", "2024-01-01T00:00:03"),
        # msg 2: incomplete (1 of 2) -> never emitted.
        (2, 0, 2, "xx", "2024-01-01T00:00:01"),
        # msg 3: overflow declaration (>128) -> dropped.
        (3, 0, 200, "pp", "2024-01-01T00:00:01"),
        # msg 4: single chunk.
        (4, 0, 1, "solo", "2024-01-01T00:00:05"),
    ]
    chunks = (
        spark.createDataFrame(
            rows, "msg_id long, chunk_seq int, chunk_cnt int, body string, recv string"
        )
        .select(
            "msg_id", "chunk_seq", "chunk_cnt",
            F.encode("body", "UTF-8").alias("payload"),
            F.to_timestamp("recv").alias("recv_ts"),
        )
    )
    out = reassemble_chunks_session_window(chunks, gap="5 seconds")
    got = {
        r["msg_id"]: (r["n_chunks"], bytes(r["message"]).decode())
        for r in out.collect()
    }
    assert got == {1: (2, "aabb"), 4: (1, "solo")}


def test_session_window_reassembly_gap_splits_sessions(spark):
    """Chunks of the same msg_id separated by more than the gap belong to
    different sessions: neither half completes, so nothing is emitted —
    the enforced form of the reference's 5-s reassembly TODO."""
    from kinesyslog_spark.streaming.state import reassemble_chunks_session_window

    rows = [
        (7, 0, 2, "aa", "2024-01-01T00:00:00"),
        (7, 1, 2, "bb", "2024-01-01T00:00:30"),  # 30 s later: new session
    ]
    chunks = (
        spark.createDataFrame(
            rows, "msg_id long, chunk_seq int, chunk_cnt int, body string, recv string"
        )
        .select(
            "msg_id", "chunk_seq", "chunk_cnt",
            F.encode("body", "UTF-8").alias("payload"),
            F.to_timestamp("recv").alias("recv_ts"),
        )
    )
    out = reassemble_chunks_session_window(chunks, gap="5 seconds")
    assert out.collect() == []


def test_streaming_relay_checkpoint_recovery(spark, tmp_path):
    """Restart-from-checkpoint: a second query started on the same
    checkpoint dir skips the already-committed batch (no duplicate
    records) and picks up files dropped while the query was down —
    the Spark-native form of the reference's durable-spool recovery
    (spool.py:155-214)."""
    in_dir, spool_dir, ckpt = (str(tmp_path / d) for d in ("in", "spool", "ckpt"))
    os.makedirs(in_dir)

    def line(i, src):
        return {
            "raw": f"<13>1 2024-01-01T00:00:0{i}.000000+00:00 h{i} app - - - msg{i}",
            "source": src, "dest": 514,
            "recv_ts": f"2024-01-01T00:00:0{i}.000000", "seq": i,
        }

    _write_json(os.path.join(in_dir, "batch1.json"), [line(1, "10.0.0.1")])
    q = start_relay(spark, in_dir, spool_dir, ckpt, trigger_seconds=1)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # Query down; a new file arrives.
    _write_json(os.path.join(in_dir, "batch2.json"), [line(2, "10.0.0.2")])

    q2 = start_relay(spark, in_dir, spool_dir, ckpt, trigger_seconds=1)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    msgs = [
        r["e"]["message"]
        for r in read_spool(spark, spool_dir)
        .select(F.explode("logEvents").alias("e"))
        .collect()
    ]
    # both batches delivered, batch1 exactly once (not reprocessed)
    assert sorted(m[-4:] for m in msgs) == ["msg1", "msg2"]


def test_session_window_reassembly_streaming_emit(spark, tmp_path):
    """Streaming mode: a session emits once the watermark passes its gap
    — driven by dropping a later file that advances event time."""
    from kinesyslog_spark.streaming.state import reassemble_chunks_session_window

    in_dir = str(tmp_path / "sw_chunks")
    os.makedirs(in_dir)
    _write_json(os.path.join(in_dir, "b1.json"), [
        {"msg_id": 1, "chunk_seq": 1, "chunk_cnt": 2, "payload": "bb",
         "recv_ts": "2024-01-01T00:00:01.000000"},
        {"msg_id": 1, "chunk_seq": 0, "chunk_cnt": 2, "payload": "aa",
         "recv_ts": "2024-01-01T00:00:02.000000"},
    ])
    chunks = (
        spark.readStream.schema(
            "msg_id long, chunk_seq int, chunk_cnt int, payload string, recv_ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .json(in_dir)
        .select(
            "msg_id", "chunk_seq", "chunk_cnt",
            F.encode("payload", "UTF-8").alias("payload"), "recv_ts",
        )
    )
    out = reassemble_chunks_session_window(chunks, gap="5 seconds", watermark="1 second")
    q = (
        out.select("msg_id", "n_chunks", F.decode("message", "UTF-8").alias("message"))
        .writeStream.format("memory").queryName("sw_reasm").outputMode("append")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.sql("SELECT * FROM sw_reasm").count() == 0, (
            "session must stay open until the watermark passes the gap"
        )
        # A much later chunk advances the watermark past msg 1's session.
        _write_json(os.path.join(in_dir, "b2.json"), [
            {"msg_id": 99, "chunk_seq": 0, "chunk_cnt": 2, "payload": "zz",
             "recv_ts": "2024-01-01T00:05:00.000000"},
        ])
        deadline = time.time() + 60
        got = {}
        while time.time() < deadline:
            q.processAllAvailable()
            got = {
                r["msg_id"]: (r["n_chunks"], r["message"])
                for r in spark.sql("SELECT * FROM sw_reasm").collect()
            }
            if got:
                break
            time.sleep(0.5)
        assert got == {1: (2, "aabb")}, got
    finally:
        q.stop()


def test_chunk_assembler_out_of_range_seq_poisons():
    """A chunk_seq outside [0, total) is a corrupt/mismatched header: the
    group must be poisoned, never emitted with a middle chunk missing
    (reference indexes a FIXED-SIZE parts list, gelf.py:21,44)."""
    asm = _ChunkAssembler()
    asm.add(0, 2, b"A")
    asm.add(2, 2, b"C")  # seq == total: out of range
    assert asm.poisoned and not asm.complete
    neg = _ChunkAssembler()
    neg.add(-1, 2, b"A")
    assert neg.poisoned


def test_session_window_out_of_range_seq_drops_group(spark):
    from kinesyslog_spark.streaming.state import reassemble_chunks_session_window

    rows = [
        # msg 1: seqs {0, 2} with total=2 -> len matches but seq 2 is
        # out of range; must be DROPPED, not emitted as two chunks
        (1, 0, 2, b"aa", 1_000),
        (1, 2, 2, b"cc", 1_001),
        # msg 2: well-formed control
        (2, 0, 2, b"xx", 2_000),
        (2, 1, 2, b"yy", 2_001),
    ]
    df = spark.createDataFrame(
        [(m, s, c, p, ts) for m, s, c, p, ts in rows],
        "msg_id long, chunk_seq int, chunk_cnt int, payload binary, recv_ms long",
    ).withColumn("recv_ts", F.timestamp_millis(F.col("recv_ms")))
    out = reassemble_chunks_session_window(df)
    got = {r["msg_id"]: bytes(r["message"]) for r in out.collect()}
    assert got == {2: b"xxyy"}


@pytest.mark.slow
def test_interval_join_stream_full_outer(spark, tmp_path):
    """Full-outer stream-stream join: matched rows emit promptly;
    unmatched rows from BOTH sides emit with nulls once the watermark
    passes their windows — completing W8/W11's join-mode matrix."""
    ldir, rdir = str(tmp_path / "fo_l"), str(tmp_path / "fo_r")
    os.makedirs(ldir), os.makedirs(rdir)
    _write_json(os.path.join(ldir, "l1.json"), [
        {"user_id": 7, "ts": "2024-01-01 00:00:00", "click": "c1"},
        {"user_id": 8, "ts": "2024-01-01 00:00:00", "click": "c2"},  # no match
    ])
    _write_json(os.path.join(rdir, "r1.json"), [
        {"user_id": 7, "ts": "2024-01-01 00:05:00", "buy": "b1"},
        {"user_id": 9, "ts": "2024-01-01 00:00:00", "buy": "b3"},   # no match
    ])
    lt = spark.readStream.schema("user_id long, ts timestamp, click string").json(ldir)
    rt = spark.readStream.schema("user_id long, ts timestamp, buy string").json(rdir)
    out = interval_join(lt, rt, within="10 minutes", watermark="10 minutes",
                        how="full_outer")
    q = (
        out.select("click", "r_buy")
        .writeStream.format("memory").queryName("ivjfo").outputMode("append").start()
    )

    def poll(pred, timeout=120):
        deadline = time.time() + timeout
        while time.time() < deadline:
            got = {(r["click"], r["r_buy"])
                   for r in spark.sql("SELECT * FROM ivjfo").collect()}
            if pred(got):
                return got
            time.sleep(0.5)
        return got

    try:
        assert ("c1", "b1") in poll(lambda g: ("c1", "b1") in g)
        # advance event time far past both windows + watermark
        _write_json(os.path.join(rdir, "r2.json"), [
            {"user_id": 10, "ts": "2024-01-01 02:00:00", "buy": "b9"},
        ])
        _write_json(os.path.join(ldir, "l2.json"), [
            {"user_id": 10, "ts": "2024-01-01 02:00:00", "click": "c9"},
        ])
        got = poll(lambda g: ("c2", None) in g and (None, "b3") in g)
        assert ("c2", None) in got, f"unmatched LEFT row never emitted: {got}"
        assert (None, "b3") in got, f"unmatched RIGHT row never emitted: {got}"
    finally:
        q.stop()


@pytest.mark.parametrize("fail", ["before_spool", "after_spool"])
def test_streaming_relay_replays_failed_epoch(spark, tmp_path, monkeypatch, fail):
    """At-least-once across a failed sink. The first epoch fails with its
    offsets logged but not committed, either before anything is spooled
    (the spool path is a regular file, so every spool_write raises;
    local[n] does not retry tasks) or after spool_batch has written the
    whole epoch. A restart on the same checkpoint replays that epoch:
    every input seq reaches the spool, twice when the failed epoch had
    already spooled it."""
    from kinesyslog_spark.streaming import relay

    in_dir, spool_dir, ckpt = (str(tmp_path / d) for d in ("in", "spool", "ckpt"))
    os.makedirs(in_dir)
    seqs = list(range(12))
    for part in range(3):
        _write_json(os.path.join(in_dir, f"lines{part}.json"), [
            {"raw": f"<13>1 2024-01-01T00:00:{i:02d}.000000+00:00 h app - - - seq={i}",
             "source": f"10.0.0.{i % 3}", "dest": 514 if i % 2 else 6514,
             "recv_ts": f"2024-01-01T00:00:{i:02d}.000000", "seq": i}
            for i in seqs[part::3]
        ])
    if fail == "before_spool":
        with open(spool_dir, "w") as f:
            f.write("not a directory")
    else:
        real = relay.spool_batch

        def spool_then_die(*args, **kw):
            real(*args, **kw)
            raise RuntimeError("simulated crash between spool and commit")

        monkeypatch.setattr(relay, "spool_batch", spool_then_die)

    q = start_relay(spark, in_dir, spool_dir, ckpt, trigger_seconds=1)
    try:
        with pytest.raises(Exception):
            q.processAllAvailable()
        assert q.exception() is not None
    finally:
        q.stop()
    assert os.path.exists(os.path.join(ckpt, "offsets", "0"))
    assert not os.path.exists(os.path.join(ckpt, "commits", "0"))

    if fail == "before_spool":
        os.remove(spool_dir)
    monkeypatch.undo()
    q2 = start_relay(spark, in_dir, spool_dir, ckpt, trigger_seconds=1)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert os.path.exists(os.path.join(ckpt, "commits", "0"))

    got = sorted(
        int(r["e"]["message"].rsplit("seq=", 1)[1])
        for r in read_spool(spark, spool_dir)
        .select(F.explode("logEvents").alias("e"))
        .collect()
    )
    copies = 1 if fail == "before_spool" else 2
    assert got == sorted(seqs * copies)
