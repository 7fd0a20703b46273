"""Relay workloads: syslog over TCP -> ingest bridge -> streaming relay ->
record spool, composed the way `cli.listen` composes them.

- relay_burst: fixed backlogs sent as fast as one connection accepts
  them, each drained to the spool before the next.
- relay_steady: an open loop at a fixed rate, under half of what
  relay_burst drains; message i is due at start + i/RATE whether or not
  the relay keeps up.

Latency of a message is the mtime of the first spool file holding it
minus its scheduled send time: the start of its backlog, or its slot in
the steady schedule. Outputs are checked after the run, outside the
timed region: every sent seq is spooled with its text intact (or
rewritten the way P6 rewrites an unparsable line), under logGroup
kinesyslog/syslog/<port> and logStream = its source address.
"""

from __future__ import annotations

import asyncio
import json
import math
import os
import subprocess
import sys
import threading
import time
from dataclasses import dataclass
from datetime import datetime

import numpy as np

from common import HERE, log, median, tail

TRIGGER_SECONDS = 1
WARMUP_MESSAGES = 256
# The source admits 64 files x 128 lines per trigger; bursts are whole
# numbers of such triggers.
TRIGGER_ROWS = 64 * 128
WARMUP_BURST = 4 * TRIGGER_ROWS
BACKLOG = 2 * TRIGGER_ROWS
DRAIN_TIMEOUT_S = 45.0
# relay_steady's offered rate (msg/s). relay_burst drains 4.0-4.3k msg/s on
# 4 cores (medians of ten runs), but in 8192-row triggers; at 2000 msg/s a
# 1 s trigger ran close enough to its interval that a busy host pushed it
# past, and latency jumped by half. At 1000 msg/s it stays clear.
RATE = 1000
# Seconds of untimed steady traffic ahead of the measured part.
STEADY_WARMUP_S = 10
# A backlog drains in ~5 s on 4 cores. relay_steady's measured part is cut
# into windows of two triggers; the median over them of each window's
# tail is not moved by a few slow triggers.
BACKLOG_S = 5
STEADY_WINDOW_S = 2
FRAME_LINES = 16384


class Bridge:
    """`sources.bridge.run_bridge` on its own event-loop thread."""

    def __init__(self, lines_dir: str):
        from kinesyslog_spark.sources.bridge import run_bridge

        self.loop = asyncio.new_event_loop()
        self.ready = asyncio.Event()
        self.stop_ev = asyncio.Event()

        def runner():
            asyncio.set_event_loop(self.loop)
            self.loop.run_until_complete(run_bridge(
                lines_dir, udp_port=0, tcp_port=0, host="127.0.0.1",
                ready=self.ready, stop=self.stop_ev))

        self.thread = threading.Thread(target=runner, daemon=True)
        self.thread.start()
        deadline = time.time() + 15
        while not self.ready.is_set() and time.time() < deadline:
            time.sleep(0.01)
        if not self.ready.is_set():
            raise RuntimeError("bridge failed to start")
        self.port = run_bridge.bound[1]

    def close(self) -> None:
        self.loop.call_soon_threadsafe(self.stop_ev.set)
        self.thread.join(timeout=10)
        self.loop.close()


class BridgeCounters:
    """Traced runs only: times `SpoolWriter.add`/`flush` from outside by
    wrapping the public methods for the duration of the run."""

    def __init__(self):
        from kinesyslog_spark.sources.bridge import SpoolWriter

        self.cls = SpoolWriter
        self.orig_add, self.orig_flush = SpoolWriter.add, SpoolWriter.flush
        self.msgs = self.files = 0
        self.busy_s = 0.0
        self.first = self.last = None
        self._in_add = False
        c = self

        def add(self_, raw, source, dest):
            t = time.perf_counter()
            c._in_add = True
            try:
                c.orig_add(self_, raw, source, dest)
            finally:
                c._in_add = False
                c.busy_s += time.perf_counter() - t
                c.msgs += 1

        def flush(self_):
            t = time.perf_counter()
            had = bool(self_._buf)
            c.orig_flush(self_)
            if had:
                c.files += 1
                now = time.time()
                c.first = c.first or now
                c.last = now
            if not c._in_add:
                c.busy_s += time.perf_counter() - t

        SpoolWriter.add, SpoolWriter.flush = add, flush

    def restore(self) -> None:
        self.cls.add, self.cls.flush = self.orig_add, self.orig_flush

    def metrics(self) -> dict:
        span = (self.last - self.first) if self.files > 1 else 0.0
        return {
            "bridge.add_us": self.busy_s * 1e6 / max(1, self.msgs),
            "bridge.files_per_s": (self.files - 1) / span if span > 0 else 0.0,
            "bridge.msgs_per_file": self.msgs / max(1, self.files),
        }


class SpoolCheck:
    """Expected messages by seq, and what the spool holds for them."""

    def __init__(self, spool_dir: str, port: int, seed: int):
        self.spool_dir, self.seed = spool_dir, seed
        self.group = f"kinesyslog/syslog/{port}"
        self.expected: dict[int, tuple] = {}
        self.first_mtime: dict[int, float] = {}
        self.bad: set[int] = set()
        self.unexpected = 0
        self.files: dict[str, tuple[float, int]] = {}
        self.next_seq = 0

    def expect(self, count: int) -> int:
        from messages import SOURCE, expected_message, make_messages

        first = self.next_seq
        for i, (kind, text) in enumerate(make_messages(self.seed, first, count)):
            self.expected[first + i] = (expected_message(kind, text, SOURCE), SOURCE)
        self.next_seq += count
        return first

    def scan(self) -> None:
        from kinesyslog_spark.constants import SPOOL_PREFIX
        from kinesyslog_spark.sinks.records import iter_record_parts
        from messages import SEQ_RE

        for name in sorted(os.listdir(self.spool_dir)):
            if not name.startswith(SPOOL_PREFIX) or name in self.files:
                continue
            path = os.path.join(self.spool_dir, name)
            st = os.stat(path)
            mtime = st.st_mtime_ns / 1e9
            self.files[name] = (mtime, st.st_size)
            with open(path, "rb") as f:
                blob = f.read()
            for rec in iter_record_parts(blob):
                for ev in rec["logEvents"]:
                    m = SEQ_RE.search(ev["message"])
                    seq = int(m.group(1)) if m else -1
                    exp = self.expected.get(seq)
                    if exp is None:
                        self.unexpected += 1
                        continue
                    want, src = exp
                    ok = (rec["logGroup"] == self.group and rec["logStream"] == src
                          and (want.fullmatch(ev["message"]) if hasattr(want, "fullmatch")
                               else ev["message"] == want))
                    if not ok:
                        self.bad.add(seq)
                    prev = self.first_mtime.get(seq)
                    if prev is None or mtime < prev:
                        self.first_mtime[seq] = mtime

    def failed(self, first: int, count: int) -> int:
        return sum(1 for s in range(first, first + count)
                   if s not in self.first_mtime or s in self.bad)


class RowCounter:
    """Input rows of every completed trigger, from a StreamingQueryListener.
    Progress is posted after a batch's sink returns, so the spool files
    of counted rows exist."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        counter = self
        self.rows = 0

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                counter.rows += event.progress.numInputRows

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Listener()
        self.spark = spark
        spark.streams.addListener(self.listener)

    def wait(self, total_rows: int, deadline: float) -> bool:
        while time.time() < deadline:
            if self.rows >= total_rows:
                return True
            time.sleep(0.05)
        return False

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)


class Generator:
    """loadgen.py, one process for the run. It builds every batch while
    the session starts, so starting a batch costs no more than a line on
    its stdin."""

    def __init__(self, port: int, seed: int, counts: list[int], rate: float):
        cmd = [sys.executable, os.path.join(HERE, "loadgen.py"), "--port", str(port),
               "--seed", str(seed), "--counts", ",".join(map(str, counts)),
               "--rate", str(rate)]
        self.proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                     text=True)
        self.ready = False

    def _line(self) -> str:
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError(f"generator exited {self.proc.wait()}")
        return line

    def wait_ready(self) -> None:
        if not self.ready:
            line = self._line().strip()
            if line != "ready":
                raise RuntimeError(f"generator: {line}")
            self.ready = True

    def fire(self, start_at: float) -> list[float]:
        """Send the next batch from `start_at`; returns, once it is sent,
        the generator's lateness per write (ms)."""
        self.proc.stdin.write(f"{start_at!r}\n")
        self.proc.stdin.flush()
        return json.loads(self._line())["late_ms"]

    def close(self) -> None:
        self.proc.stdin.close()
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()


# The generator is waiting on stdin; this is ample time to hand it a start.
LEAD_S = 0.02


def soon() -> float:
    return time.time() + LEAD_S


def next_tick() -> float:
    """A start time 50 ms after a trigger boundary. ProcessingTime
    triggers fire on wall-clock multiples of the interval, so every burst
    starts at the same trigger phase."""
    t = time.time()
    at = math.ceil(t / TRIGGER_SECONDS) * TRIGGER_SECONDS + 0.05
    return at if at - t >= LEAD_S else at + TRIGGER_SECONDS


@dataclass
class Send:
    first: int  # seq of the batch's first message
    count: int
    start: float  # scheduled start, epoch s
    late_ms: list[float]  # generator lateness per write
    drained: bool


class RelayRig:
    """Bridge + session + relay query, started in `cli.listen` order, and
    the generator with its batches of `counts` messages, sent at `rate`
    msg/s (0: as fast as the connection accepts them)."""

    def __init__(self, work: str, spark_factory, seed: int, counts: list[int],
                 rate: float, counters: bool, tracer):
        from kinesyslog_spark.streaming.relay import start_relay

        self.work = work
        self.lines = os.path.join(work, "lines")
        self.spool = os.path.join(work, "spool")
        os.makedirs(self.lines, exist_ok=True)
        os.makedirs(self.spool, exist_ok=True)
        self.counters = BridgeCounters() if counters else None
        with tracer.span("sources.bridge.run_bridge"):
            self.bridge = Bridge(self.lines)
        self.gen = Generator(self.bridge.port, seed, counts, rate)
        self.counts = list(counts)
        with tracer.span("session.get_spark"):
            self.spark = spark_factory()
        self.rows = RowCounter(self.spark)
        with tracer.span("streaming.relay.start_relay"):
            self.query = start_relay(self.spark, self.lines, self.spool,
                                     os.path.join(work, "checkpoint"),
                                     trigger_seconds=TRIGGER_SECONDS)
        self.check = SpoolCheck(self.spool, self.bridge.port, seed)
        self.sent = 0

    def deliver(self, when) -> Send:
        """Send the next batch, starting at `when()` (epoch s), and wait
        until the relay has spooled it."""
        count = self.counts.pop(0)
        first = self.check.expect(count)
        self.gen.wait_ready()
        start = when()
        late_ms = self.gen.fire(start)
        self.sent += count
        ok = self.rows.wait(self.sent, time.time() + DRAIN_TIMEOUT_S)
        return Send(first, count, start, late_ms, ok)

    def close(self) -> None:
        self.gen.close()
        self.bridge.close()
        if self.counters is not None:
            self.counters.restore()
        self.query.stop()
        self.rows.close()


# per-layer metric -> StreamingQueryProgress.durationMs phase
TRIGGER_PHASES = {
    "trigger.total_ms": "triggerExecution",
    "trigger.add_batch_ms": "addBatch",
    "trigger.latest_offset_ms": "latestOffset",
    "trigger.get_batch_ms": "getBatch",
    "trigger.planning_ms": "queryPlanning",
    "trigger.wal_commit_ms": "walCommit",
}


def trigger_metrics(query, since: float, tracer) -> dict:
    """Medians over the window's non-empty triggers, from
    StreamingQueryProgress; each such trigger is also recorded as a span."""
    rows, phases = [], {k: [] for k in TRIGGER_PHASES}
    for p in query.recentProgress:
        ts = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
        if ts < since or p.numInputRows <= 0:
            continue
        rows.append(p.numInputRows)
        for metric, phase in TRIGGER_PHASES.items():
            phases[metric].append(p.durationMs.get(phase, 0))
        tracer.record("streaming.relay.trigger", ts,
                      ts + p.durationMs.get("triggerExecution", 0) / 1e3,
                      rows=p.numInputRows, durationMs=dict(p.durationMs))
    return {**{k: median(v) for k, v in phases.items()},
            "trigger.rows": median(rows), "trigger.count": float(len(rows))}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn, reps: int = 3) -> float:
    out = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        out.append((time.perf_counter() - t) * 1e3)
    return median(out)


def record_layer_probes(spark, lines_dir: str, work: str, tracer) -> dict:
    """functions.syslog and sinks.records over a fixed captured frame: the
    first FRAME_LINES lines the bridge wrote in this run."""
    from pyspark import StorageLevel

    from kinesyslog_spark.functions.syslog import parse_syslog
    from kinesyslog_spark.sinks.records import (
        build_envelopes,
        serialize_records,
        spool_write,
    )
    from kinesyslog_spark.streaming.relay import LINE_SCHEMA

    frame = (spark.read.schema(LINE_SCHEMA).json(lines_dir)
             .orderBy("seq").limit(FRAME_LINES).persist(StorageLevel.MEMORY_ONLY))
    frame.count()
    with tracer.span("functions.syslog.parse_syslog"):
        parse_ms = _timed(lambda: _noop(parse_syslog(frame)))
    parsed = parse_syslog(frame).persist(StorageLevel.MEMORY_ONLY)
    parsed.count()
    with tracer.span("sinks.records.build_envelopes"):
        env_ms = _timed(lambda: _noop(build_envelopes(parsed)))
    env = build_envelopes(parsed).persist(StorageLevel.MEMORY_ONLY)
    env.count()
    with tracer.span("sinks.records.serialize_records"):
        ser_ms = _timed(lambda: _noop(serialize_records(env)))
    payloads = [bytes(r.payload) for r in serialize_records(env).select("payload").collect()]
    probe_dir = os.path.join(work, "probe-spool")
    per = []
    with tracer.span("sinks.records.spool_write"):
        for p in payloads:
            t = time.perf_counter()
            spool_write(p, probe_dir)
            per.append((time.perf_counter() - t) * 1e3)
    for df in (env, parsed, frame):
        df.unpersist()
    return {"parse.ms": parse_ms, "envelope.ms": env_ms,
            "serialize.ms": ser_ms, "spool_write.ms": median(per)}


class FakeFirehose:
    """In-memory Firehose client that acknowledges every record."""

    def __init__(self):
        self.records = 0

    def describe_delivery_stream(self, DeliveryStreamName):  # noqa: N803
        return {"DeliveryStreamDescription": {"DeliveryStreamStatus": "ACTIVE"}}

    def put_record_batch(self, DeliveryStreamName, Records):  # noqa: N803
        self.records += len(Records)
        return {"FailedPutCount": 0,
                "RequestResponses": [{"RecordId": f"r{self.records}-{i}"}
                                     for i in range(len(Records))]}


def upload_probe(spool_dir: str, tracer) -> dict:
    from kinesyslog_spark.sinks.uploader import SpoolUploader

    up = SpoolUploader(spool_dir, "perfbench", FakeFirehose())
    up.validate_stream()
    with tracer.span("sinks.uploader.run_cycle"):
        t = time.perf_counter()
        stats = up.run_cycle(force=True)
        dt = time.perf_counter() - t
    return {"upload.records_per_s": stats.uploaded / dt if dt > 0 else 0.0,
            "upload.calls": float(stats.calls),
            "upload.failed": float(stats.failed + len(stats.errors))}


def _window_metrics(check: SpoolCheck, first: int, count: int, sched) -> tuple:
    """(latencies in ms, throughput) of messages first .. first+count-1,
    where `sched(seq)` is a message's scheduled send time. Throughput runs
    from the first scheduled send to the last message spooled."""
    seqs = [q for q in range(first, first + count) if q in check.first_mtime]
    lat = [(check.first_mtime[q] - sched(q)) * 1e3 for q in seqs]
    if not lat:
        return lat, 0.0
    return lat, len(lat) / (max(check.first_mtime[q] for q in seqs) - sched(first))


def run(workload: str, seed: int, seconds: int, t0: float, spark_factory, work: str,
        tracer, traced: bool) -> dict:
    """One run of relay_burst or relay_steady. Set-up ends when a warm-up
    message is durable. Then relay_burst sends an untimed warm-up burst
    and seconds/BACKLOG_S backlogs of BACKLOG messages, each started at the
    same trigger phase and drained before the next; relay_steady sends
    STEADY_WARMUP_S untimed and `seconds` measured seconds of traffic at
    RATE, as one schedule, and splits the measured part into windows of
    STEADY_WINDOW_S. Latency p50 and tail are medians over backlogs or
    windows, so one slow stretch of a shared host moves one of them, not
    the run. relay_burst's throughput is the median over backlogs too;
    relay_steady's runs from the first measured message's scheduled send
    to the last one spooled.

    Returns the end-to-end metrics, counts, notes and, when traced, the
    layer metrics."""
    steady = workload == "relay_steady"
    notes: list[str] = []
    layers: dict = {}
    windows = max(1, round(seconds / (STEADY_WINDOW_S if steady else BACKLOG_S)))
    if steady:
        warm = STEADY_WARMUP_S * RATE
        counts = [WARMUP_MESSAGES, warm + windows * STEADY_WINDOW_S * RATE]
    else:
        # The JIT and the Python workers are still warming up during the
        # first ~30k messages.
        warm = WARMUP_BURST if seconds else TRIGGER_ROWS
        counts = [WARMUP_MESSAGES, warm] + [BACKLOG] * windows
    with tracer.span("setup"):
        rig = RelayRig(work, spark_factory, seed, counts, RATE if steady else 0,
                       traced, tracer)
        with tracer.span("warmup"):
            sends = [rig.deliver(soon)]
    setup_s = time.perf_counter() - t0
    try:
        if steady:
            with tracer.span("relay.steady", messages=counts[-1], rate=RATE):
                sends.append(rig.deliver(next_tick))
            s = sends[-1]
            measure_from = s.start + STEADY_WARMUP_S
            per = STEADY_WINDOW_S * RATE
            bounds = [(s.first + warm + i * per, per) for i in range(windows)]

            def sched(q, s=s):
                return s.start + (q - s.first) / RATE
        else:
            with tracer.span("relay.warmup_burst", messages=warm):
                sends.append(rig.deliver(next_tick))
            measure_from = time.time()
            with tracer.span("measure"):
                for _ in range(windows):
                    with tracer.span("relay.backlog", messages=BACKLOG):
                        sends.append(rig.deliver(next_tick))
            bounds = [(b.first, b.count) for b in sends[2:]]
            starts = {b.first: b.start for b in sends[2:]}

            def sched(q):
                return starts[max(f for f in starts if f <= q)]
        measure_to = time.time()
        if traced:
            layers.update(trigger_metrics(rig.query, measure_from, tracer))
    finally:
        rig.close()
    if not all(b.drained for b in sends):
        notes.append(f"drain deadline ({DRAIN_TIMEOUT_S:.0f} s) passed before every "
                     "message was spooled")

    check = rig.check
    with tracer.span("check"):
        check.scan()
    attempted = check.next_seq + check.unexpected
    failed = check.failed(0, check.next_seq) + check.unexpected
    late = [v for b in sends[1:] for v in b.late_ms]
    if steady and max(late) > TRIGGER_SECONDS * 1e3:
        # The schedule, not the relay, set the arrival times: invalid run.
        attempted += 1
        failed += 1
        notes.append(f"invalid run: the generator fell {max(late):.0f} ms behind "
                     "schedule, more than one trigger interval")

    per_window = [_window_metrics(check, first, count, sched) for first, count in bounds]
    if steady:
        # Per window, the last trigger's phase would weigh on a 5 s span;
        # over the whole measured part it is a small share.
        throughput = _window_metrics(check, bounds[0][0], windows * per, sched)[1]
    else:
        throughput = median([r for _, r in per_window])
    p50s = [median(lat) for lat, _ in per_window if lat]
    tails = [tail(lat) for lat, _ in per_window if lat]
    tail_name = tails[0][0] if tails else "max"
    n = bounds[0][1]
    what = (f"{windows} window(s) of {n} messages at {RATE} msg/s" if steady
            else f"{windows} backlog(s) of {n} messages")
    log(f"{workload}: {what} over 1 connection, latency medians over "
        f"{'windows' if steady else 'backlogs'}; p50 each (ms): "
        + ", ".join(f"{v:.0f}" for v in p50s)
        + "; tail each (ms): " + ", ".join(f"{v:.0f}" for _, v in tails)
        + ("" if steady else "; throughput each (1/s): "
           + ", ".join(f"{r:.0f}" for _, r in per_window))
        + f"; generator late p99 {float(np.percentile(late, 99)):.1f} ms")
    if traced:
        layers.update(rig.counters.metrics())
        n_trig = layers["trigger.count"]
        in_window = [size for mtime, size in check.files.values() if mtime >= measure_from]
        layers["records.per_trigger"] = len(in_window) / n_trig if n_trig else 0.0
        layers["record.bytes"] = median(in_window)
        layers["generator.late_p99_ms"] = float(np.percentile(late, 99))
    return {"metrics": {"setup_s": setup_s,
                        "latency_p50_ms": median(p50s),
                        "latency_tail_ms": median([v for _, v in tails]),
                        "throughput_per_s": throughput},
            "attempted": attempted, "failed": failed, "notes": notes,
            "layers": layers, "tail": f"{tail_name} of {n} messages per "
                                      f"{'window' if steady else 'backlog'}, "
                                      f"median of {len(per_window)}",
            "rig": rig, "window": [measure_from, measure_to]}
