"""The query layers, measured in every traced run: one client runs a query
battery over a seeded TPC-H-like dataset, in the relay's Spark session.

A pass calls `tables.release_hot`, then runs the battery once fresh (the
session artifacts are rebuilt) and once warm (they are read back). Every
query is timed through a noop write, which materializes every output
column; `.count()` would let the optimizer drop most of the plan.

Outputs are checked outside the timed region. The first execution of
each query, the cold pass, is compared with its DuckDB `ORACLE` SQL (the
comparison `tools/check_oracle.py` makes), once fresh and once warm;
every later execution must return the same row count, observed on the
noop write itself.
"""

from __future__ import annotations

import importlib.util
import os
import re
import time

from common import ROOT, log, median

SF = 0.01
BATTERY = (
    "q03_shipping_priority",
    "q08_top2_orders_per_customer",
    "q21_cosine_topk",
    "q22_top_tokens",
    "q26_minhash_lsh",
)
# Timed passes after the cold one. Pass times still fall for several
# passes while the JVM warms up; the layer metrics take the last pass.
PASSES = 2


def _tool(name: str):
    path = os.path.join(ROOT, "tools", f"{name}.py")
    spec = importlib.util.spec_from_file_location(f"perfbench_{name}", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def make_data(seed: int, out_dir: str) -> None:
    """The dataset is generated from the workload seed by the repo's
    schema-matched generator (tools/gen_sf.py)."""
    import contextlib
    import io

    with contextlib.redirect_stderr(io.StringIO()):
        _tool("gen_sf").gen(SF, out_dir, seed=seed)


class Session:
    """The one client: runs the battery, checks row counts and records
    planning phases and job groups."""

    def __init__(self, spark, data_dir: str, tracer):
        self.spark, self.data, self.tracer = spark, data_dir, tracer
        self.expected_rows: dict[str, int] = {}
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.phases: dict[str, list[float]] = {"analysis": [], "optimization": [], "planning": []}
        self.groups: list[str] = []

    def run_query(self, name: str, tag: str) -> float:
        """Build and execute one query into the noop sink. Returns ms."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from kinesyslog_spark.queries import QUERIES

        self.attempted += 1
        obs = Observation(f"rows-{tag}-{name}")
        t = time.perf_counter()
        try:
            with self.tracer.span(f"queries.{name}", mode=tag):
                group = f"{tag}:{name}"
                self.groups.append(group)
                self.spark.sparkContext.setJobGroup(group, group)
                df = QUERIES[name](self.spark, self.data)
                self._record_phases(df)
                df.observe(obs, F.count(F.lit(1)).alias("n")) \
                    .write.format("noop").mode("overwrite").save()
            ms = (time.perf_counter() - t) * 1e3
            n = obs.get["n"]
        except Exception as e:  # noqa: BLE001 - a raising query counts as failed
            self.failed += 1
            self.errors.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
            return (time.perf_counter() - t) * 1e3
        want = self.expected_rows.setdefault(name, n)
        if n != want:
            self.failed += 1
            self.errors.append(f"{name}: {n} rows, expected {want}")
        return ms

    def _record_phases(self, df) -> None:
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        for k, out in self.phases.items():
            p = phases.get(k)
            out.append(float(p.get().durationMs()) if p.isDefined() else 0.0)

    def release(self) -> float:
        from kinesyslog_spark.tables import release_hot

        t = time.perf_counter()
        with self.tracer.span("tables.release_hot"):
            release_hot(self.spark)
        return (time.perf_counter() - t) * 1e3

    def one_pass(self, tag: str) -> dict:
        t = time.perf_counter()
        out = {"release_ms": self.release(), "rdds_released": self.persisted_rdds()}
        for mode in ("fresh", "warm"):
            for name in BATTERY:
                out[f"{name}.{mode}"] = self.run_query(name, f"{tag}-{mode}")
        out["pass_ms"] = (time.perf_counter() - t) * 1e3
        return out

    def persisted_rdds(self) -> int:
        return int(self.spark.sparkContext._jsc.getPersistentRDDs().size())

    def cached_bytes(self) -> int:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return int(sum(i.memSize() + i.diskSize() for i in infos))

    def oracle_check(self) -> None:
        """Compare each battery query with its ORACLE SQL on DuckDB twice:
        fresh, right after `release_hot`, so the session artifacts are
        built, and then warm, reading them back. The fresh row count is
        the one every later execution must return."""
        co = _tool("check_oracle")
        con = co.duck_con(self.data)
        for name in BATTERY:
            self.release()
            for mode in ("fresh", "warm"):
                self.attempted += 1
                try:
                    ok, msg = co.check(name, self.spark, con, self.data)
                except Exception as e:  # noqa: BLE001
                    ok, msg = False, f"{type(e).__name__}: {str(e)[:200]}"
                m = re.search(r"\((\d+) rows", msg)
                if ok and m:
                    want = self.expected_rows.setdefault(name, int(m.group(1)))
                    if int(m.group(1)) != want:
                        ok, msg = False, f"{msg}, but the fresh check returned {want} rows"
                if not ok:
                    self.failed += 1
                    self.errors.append(f"{name} ({mode}): oracle mismatch: {msg}")
        con.close()


def run(seed: int, spark, work: str, tracer) -> dict:
    """Generate the data, run the oracle check (the cold pass) and PASSES
    timed passes. Returns the query layers' metrics, taken from the last
    pass, with the counts and notes of the checks."""
    data = os.path.join(work, "data")
    make_data(seed, data)
    s = Session(spark, data, tracer)
    with tracer.span("check"):
        s.oracle_check()
    for i in range(PASSES):
        s.phases = {k: [] for k in s.phases}
        with tracer.span("pass"):
            p = s.one_pass(f"p{i}")
    log(f"query battery: {2 * len(BATTERY)} queries at sf{SF}, last of {PASSES} passes "
        f"after the cold one took {p['pass_ms']:.0f} ms")
    layers = {f"q.{name}.{mode}_ms": p[f"{name}.{mode}"]
              for name in BATTERY for mode in ("fresh", "warm")}
    layers["artifact.build_ms"] = sum(p[f"{n}.fresh"] - p[f"{n}.warm"] for n in BATTERY)
    layers["artifact.cached_bytes"] = s.cached_bytes()
    layers["artifact.persisted_rdds_pass"] = s.persisted_rdds()
    layers["artifact.persisted_rdds_released"] = p["rdds_released"]
    layers["release_hot.ms"] = p["release_ms"]
    layers["plan.analysis_ms"] = median(s.phases["analysis"])
    layers["plan.optimization_ms"] = median(s.phases["optimization"])
    layers["plan.planning_ms"] = median(s.phases["planning"])
    layers.update(_scheduling(spark, [g for g in s.groups if g.startswith(f"p{PASSES - 1}")]))
    return {"attempted": s.attempted, "failed": s.failed, "notes": s.errors,
            "layers": layers}


def _scheduling(spark, groups: list[str]) -> dict:
    """Jobs, stages and tasks per query execution, from the status tracker."""
    st = spark.sparkContext.statusTracker()
    jobs = stages = tasks = 0
    for g in groups:
        for j in st.getJobIdsForGroup(g):
            jobs += 1
            info = st.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                stages += 1
                si = st.getStageInfo(sid)
                tasks += si.numTasks if si else 0
    n = max(1, len(groups))
    return {"jobs": jobs / n, "stages": stages / n, "tasks": tasks / n}
