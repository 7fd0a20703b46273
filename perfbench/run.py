"""kinesyslog_spark benchmark.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. Workloads, both syslog over one TCP
connection into the ingest bridge and the streaming relay:

- relay_burst    fixed backlogs drained to the spool as fast as it goes
- relay_steady   an open loop at a fixed rate, under half the burst drain rate

The program is driven only through its public entry points: the bridge
(`sources.bridge.run_bridge`) and relay (`streaming.relay.start_relay`)
composed as `cli.listen` composes them, `sinks.uploader.SpoolUploader`
with an in-memory Firehose client, `queries.QUERIES`/`ORACLE`,
`tables.release_hot` and `session.get_spark(cpus=<nproc>)`.

--trace 0 measures the end-to-end metrics with tracing off. --trace 1 is
the traced run: spans around every call into a layer, an uncompressed
event log, and per-layer metrics. A traced run also measures the layers
the relay leaves idle (a query battery in the same session) and a
relay_burst at local[1] as the single-thread baseline, and prints its
overhead against the last untraced run of the same workload in this
checkout.

The last line of stdout is one JSON object: correct, attempted, failed,
metrics. Per-run files (traces, work directories) live under
.perfbench_runs/ in the checkout.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

from common import (  # noqa: E402
    ROOT,
    RUNS_DIR,
    Tracer,
    fatal,
    keep_scratch_in,
    log,
    nproc,
    shutdown_jvm,
    start_spark,
)
from query_wl import BATTERY  # noqa: E402

WORKLOADS = ("relay_burst", "relay_steady")
HARD_LIMIT_S = 170

END_TO_END = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "latency_tail_ms": "ms",
    "throughput_per_s": "1/s",
}

# name -> (unit, better)
PER_LAYER = {
    "bridge.add_us": ("us", "lower"),
    "bridge.files_per_s": ("1/s", "higher"),
    "bridge.msgs_per_file": ("count", "higher"),
    "trigger.total_ms": ("ms", "lower"),
    "trigger.add_batch_ms": ("ms", "lower"),
    "trigger.latest_offset_ms": ("ms", "lower"),
    "trigger.get_batch_ms": ("ms", "lower"),
    "trigger.planning_ms": ("ms", "lower"),
    "trigger.wal_commit_ms": ("ms", "lower"),
    "trigger.rows": ("count", "higher"),
    "trigger.count": ("count", "lower"),
    "parse.ms": ("ms", "lower"),
    "envelope.ms": ("ms", "lower"),
    "serialize.ms": ("ms", "lower"),
    "spool_write.ms": ("ms", "lower"),
    "records.per_trigger": ("count", "lower"),
    "record.bytes": ("bytes", "lower"),
    "upload.records_per_s": ("1/s", "higher"),
    "upload.calls": ("count", "lower"),
    "upload.failed": ("count", "lower"),
    "generator.late_p99_ms": ("ms", "lower"),
    "plan.analysis_ms": ("ms", "lower"),
    "plan.optimization_ms": ("ms", "lower"),
    "plan.planning_ms": ("ms", "lower"),
    "jobs": ("count", "lower"),
    "stages": ("count", "lower"),
    "tasks": ("count", "lower"),
    "task.run_ms": ("ms", "lower"),
    "task.deserialize_ms": ("ms", "lower"),
    "task.gc_ms": ("ms", "lower"),
    "shuffle.read_bytes": ("bytes", "lower"),
    "shuffle.write_bytes": ("bytes", "lower"),
    "python.eval_ms": ("ms", "lower"),
    "artifact.build_ms": ("ms", "lower"),
    "artifact.cached_bytes": ("bytes", "lower"),
    "artifact.persisted_rdds_pass": ("count", "lower"),
    "artifact.persisted_rdds_released": ("count", "lower"),
    "release_hot.ms": ("ms", "lower"),
    **{f"q.{q}.{m}_ms": ("ms", "lower") for q in BATTERY for m in ("fresh", "warm")},
    "baseline.local1_throughput_per_s": ("1/s", "higher"),
}


def _watchdog() -> None:
    print(f"perfbench: run exceeded {HARD_LIMIT_S} s, aborting", file=sys.stderr, flush=True)
    os._exit(3)  # closes the JVM's stdin pipe, which ends the JVM too


def _overhead(workload: str, traced: dict) -> None:
    path = os.path.join(RUNS_DIR, f"last-{workload}.json")
    if not os.path.exists(path):
        log("tracing overhead: no untraced run of this workload in this checkout yet")
        return
    with open(path, encoding="utf-8") as f:
        base = json.load(f)
    parts = []
    for k, v in traced.items():
        b = base.get(k)
        if b:
            parts.append(f"{k} {100 * (v - b) / b:+.1f}%")
    log("tracing overhead vs last untraced run: " + ", ".join(parts))


def traced_extras(res: dict, seed: int, work: str, tracer,
                  event_dir: str) -> tuple[dict, int, int]:
    """The layers the relay leaves idle, the executor metrics of its
    measured window, and the local[1] baseline. Returns (layers,
    attempted, failed) of the extra work."""
    import query_wl
    import relay_wl
    from eventlog import executor_metrics

    rig = res["rig"]
    spark = rig.spark
    layers = dict(res["layers"])
    with tracer.span("probe.records"):
        layers.update(relay_wl.record_layer_probes(spark, rig.lines, work, tracer))
    layers.update(relay_wl.upload_probe(rig.spool, tracer))
    log("traced run: a query battery in the same session, for the query layers")
    with tracer.span("companion.query_battery"):
        q = query_wl.run(seed, spark, os.path.join(work, "companion"), tracer)
    layers.update(q["layers"])
    attempted, failed = q["attempted"], q["failed"]
    res["notes"].extend(q["notes"])
    spark.stop()  # flushes the event log
    window = res["window"]
    layers.update(executor_metrics(event_dir, window[0], window[1],
                                   max(1, int(layers["trigger.count"]))))

    log("traced run: relay_burst at local[1], the single-thread baseline")
    base = os.path.join(work, "local1")
    with tracer.span("baseline.local1"):
        b = relay_wl.run("relay_burst", seed, 0, time.perf_counter(),
                         lambda: start_spark(base, 1), base, Tracer("", False), False)
    b["rig"].spark.stop()
    layers["baseline.local1_throughput_per_s"] = b["metrics"]["throughput_per_s"]
    return layers, attempted + b["attempted"], failed + b["failed"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("kinesyslog_spark/__init__.py", "tools/gen_sf.py", "tools/check_oracle.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fatal(f"{need} not found under {ROOT}: run from the root of a full checkout")
    sys.path.insert(0, ROOT)
    watchdog = threading.Timer(HARD_LIMIT_S, _watchdog)
    watchdog.daemon = True
    watchdog.start()

    traced = args.trace == 1
    work = os.path.join(RUNS_DIR, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    keep_scratch_in(os.path.join(work, "tmp"))
    event_dir = os.path.join(work, "eventlog") if traced else None
    cpus = nproc()
    run_id = f"{args.workload}-seed{args.seed}-{int(time.time())}"
    tracer = Tracer(run_id, traced)

    def factory():
        return start_spark(work, cpus, event_dir)

    import relay_wl

    try:
        res = relay_wl.run(args.workload, args.seed, args.seconds, T_START, factory, work,
                           tracer, traced)
        attempted, failed = res["attempted"], res["failed"]
        e2e = res["metrics"]
        if traced:
            layers, extra_attempted, extra_failed = traced_extras(
                res, args.seed, work, tracer, event_dir)
            attempted += extra_attempted
            failed += extra_failed
            missing = sorted(set(PER_LAYER) - set(layers))
            if missing:
                raise RuntimeError(f"per-layer metrics not measured: {missing}")
    finally:
        shutdown_jvm()
        tracer.dump(os.path.join(RUNS_DIR, "traces", f"{run_id}.json"))
        shutil.rmtree(work, ignore_errors=True)

    correct = failed == 0
    for note in res["notes"][:20]:
        log(f"note: {note}")
    for k, unit in END_TO_END.items():
        log(f"{args.workload} {k} = {e2e[k]:.4f} {unit}"
            + (f" ({res['tail']})" if k == "latency_tail_ms" else ""))
    log(f"{args.workload} failed_share = {failed / max(1, attempted):.6f} share "
        f"({failed} of {attempted})")
    if traced:
        _overhead(args.workload, e2e)
        metrics = {k: {"value": float(layers[k]), "unit": PER_LAYER[k][0]} for k in PER_LAYER}
    else:
        os.makedirs(RUNS_DIR, exist_ok=True)
        with open(os.path.join(RUNS_DIR, f"last-{args.workload}.json"), "w",
                  encoding="utf-8") as f:
            json.dump(e2e, f)
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    rc = main()
    sys.stdout.flush()
    os._exit(rc)
