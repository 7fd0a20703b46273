"""Executor-side layer metrics read back from Spark's uncompressed event log
(traced runs only): task run, deserialize and GC time, shuffle bytes, and
the time Python workers spent running UDFs."""

from __future__ import annotations

import glob
import json
import os

PYTHON_TIME = "time to run Python workers"


def _metric_types(node: dict, out: dict) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = m.get("metricType", "")
    for child in node.get("children", []):
        _metric_types(child, out)


def executor_metrics(event_dir: str, since: float, until: float, units: int) -> dict:
    """Sums over the tasks launched in [since, until] (epoch seconds),
    divided by `units` (the passes or triggers of that window)."""
    files = sorted(glob.glob(os.path.join(event_dir, "**", "events_*"), recursive=True)
                   + glob.glob(os.path.join(event_dir, "local-*")))
    types: dict[int, str] = {}
    tot = dict.fromkeys(("run", "deser", "gc", "sread", "swrite"), 0)
    py_acc: list[tuple[int, float]] = []
    for path in files:
        with open(path, encoding="utf-8") as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind.endswith("SparkListenerSQLExecutionStart") or \
                        kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    _metric_types(e.get("sparkPlanInfo", {}), types)
                    continue
                if kind != "SparkListenerTaskEnd":
                    continue
                launch = e["Task Info"]["Launch Time"] / 1e3
                if not since <= launch <= until:
                    continue
                tm = e.get("Task Metrics") or {}
                tot["run"] += tm.get("Executor Run Time", 0)
                tot["deser"] += tm.get("Executor Deserialize Time", 0)
                tot["gc"] += tm.get("JVM GC Time", 0)
                rd = tm.get("Shuffle Read Metrics", {})
                tot["sread"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                tot["swrite"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                for a in e["Task Info"].get("Accumulables", []):
                    if a.get("Name") == PYTHON_TIME:
                        py_acc.append((a["ID"], float(a.get("Update", 0))))
    py_ms = sum(v / 1e6 if types.get(i) == "nsTiming" else v for i, v in py_acc)
    n = max(1, units)
    return {
        "task.run_ms": tot["run"] / n,
        "task.deserialize_ms": tot["deser"] / n,
        "task.gc_ms": tot["gc"] / n,
        "shuffle.read_bytes": tot["sread"] / n,
        "shuffle.write_bytes": tot["swrite"] / n,
        "python.eval_ms": py_ms / n,
    }
