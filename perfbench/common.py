"""Shared pieces of the benchmark: repository paths, Spark start/stop,
summary statistics and the in-memory span recorder."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from contextlib import contextmanager

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS_DIR = os.path.join(ROOT, ".perfbench_runs")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def log(msg: str) -> None:
    """Progress and report lines go to stdout, ahead of the result line."""
    print(f"# {msg}", flush=True)


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------

TAIL_LADDER = (99.99, 99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail(samples) -> tuple[str, float]:
    """The highest percentile of the ladder with at least ten samples
    beyond it. With fewer than 20 samples no percentile qualifies and the
    maximum is reported instead, labelled "max"."""
    n = len(samples)
    for p in TAIL_LADDER:
        if round(n * (100 - p) / 100, 6) >= 10:  # 99.9 is not exact in binary
            return f"p{p:g}", float(np.percentile(samples, p))
    return "max", float(max(samples))


def median(samples) -> float:
    return float(np.median(samples)) if len(samples) else 0.0


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

class Tracer:
    """Spans around the benchmark's calls into each layer: name, start,
    end, parent and run id. Kept in memory; written out once at the end.
    A disabled tracer records nothing and costs one branch per call."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def record(self, name: str, start: float, end: float, **attrs) -> None:
        """A span timed by someone else, such as a Spark trigger."""
        if self.enabled:
            self.spans.append({"id": len(self.spans), "name": name, "run": self.run_id,
                               "parent": None, "start": start, "end": end, **attrs})

    def self_ms(self) -> dict[str, float]:
        """Per span name: total duration minus the time its children cover."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is not None:
                d = s["end"] - s["start"] - child.get(s["id"], 0.0)
                out[s["name"]] = out.get(s["name"], 0.0) + d * 1e3
        return out

    def dump(self, path: str) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"run": self.run_id, "spans": self.spans,
                       "self_ms": self.self_ms()}, f)


# ---------------------------------------------------------------------------
# Spark
# ---------------------------------------------------------------------------

def start_spark(work: str, cpus: int, event_log_dir: str | None = None):
    """`session.get_spark(cpus=...)` with every scratch path kept inside
    the work directory. `event_log_dir` turns on an uncompressed event
    log (traced runs only)."""
    from kinesyslog_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir,
            "spark.eventLog.compress": "false",
        })
    return get_spark(f"perfbench-{cpus}", cpus=cpus, extra_conf=conf)


def shutdown_jvm() -> None:
    """Stop the active session, then end the JVM that PySpark launched
    and wait for it (its Python workers exit with it)."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    from py4j.protocol import Py4JError

    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Py4JError:
        pass  # the JVM is already gone
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def keep_scratch_in(tmp: str) -> None:
    """Point every temporary file of this process, its JVMs (the Spark
    launcher and driver) and their Python workers at `tmp`; turn off the
    JVM's /tmp/hsperfdata files."""
    import tempfile

    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    tempfile.tempdir = tmp


def fatal(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
    raise SystemExit(2)
