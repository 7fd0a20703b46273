"""SparkSession factory.

Configured for determinism (UTC session timezone — reference stamps event
times as epoch millis, message.py:60) and for scale-minded defaults:
AQE on (runtime re-planning, skew-join splitting), Arrow on (every pandas
UDF crosses via Arrow batches, replacing the reference's shared-memory ring
buffer IPC, ringbuffer.py:88-306), shuffle partitions sized to cores for
local mode (a real cluster deployment would size to 2-3x total cores or
rely on AQE coalescing).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(app_name: str = "kinesyslog_spark", cpus: str | int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """Build (or fetch) the session.

    Settings chosen for the 100 TB posture:
    - AQE enabled: coalesces small shuffle partitions, splits skewed ones,
      converts sort-merge joins to broadcast at runtime when a side turns
      out small.
    - Arrow enabled with a large batch size: the few Python UDFs we use
      (the applyInArrow relay sink, pandas minhash) amortize
      per-batch overhead.
    - parquet timestamps read as TIMESTAMP_LTZ with session UTC so epoch
      extraction matches a DuckDB oracle reading the same files.
    - file listing stays on the driver up to 1024 paths: the relay's
      file source lists each trigger's files (up to 64) itself instead of
      running a Spark listing job per trigger.
    - Python workers fork from `kinesyslog_spark.worker_daemon`, which
      wraps pyspark's daemon: before each task it drops the cached
      zipimporters of pyspark.zip and the Spark jar, which pyspark's
      per-task `importlib.invalidate_caches()` would otherwise make
      re-read their whole archive directories (130-220 ms of every
      Python task). The daemon is imported like any engine module a
      UDF uses, so the repo must be importable by the workers (run from
      the repo root, or with it on PYTHONPATH).
    """
    cpus = str(cpus or DEFAULT_CPUS)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Default 10 MB is conservative for modern executor memory; 64 MB
        # lets AQE convert mid-size dimension/intermediate sides (e.g. a
        # persisted shingle table at bench scale) to broadcast at runtime.
        # Adaptive: a genuinely large side is still shuffled.
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # Above this many paths, building a file index (FileStreamSource's
        # getBatch over each trigger's files, up to maxFilesPerTrigger 64)
        # runs a Spark job, one task per path. The master is always
        # local[n], so that job lists on the same JVM and only adds
        # scheduling: 350-430 ms per 64-file relay trigger on 4 vCPUs,
        # against 15-25 ms listed on the driver. 1024 sits above any
        # per-trigger file count.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
        # pyspark's daemon honours a worker module only under `pyspark.`,
        # so the per-task hook wraps the daemon instead (see its module).
        .config("spark.python.daemon.module", "kinesyslog_spark.worker_daemon")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # read parquet isAdjustedToUTC=false timestamps as TimestampType
        # (session tz = UTC) rather than NTZ, so unix_millis() works
        # uniformly and matches DuckDB's naive-as-UTC interpretation.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # events.parquet stores TIMESTAMP(NANOS) which parquet-mr can't map
        # to a Spark type; read as epoch-nanos long and convert in tables.py.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# --- streaming state store -------------------------------------------------
#
# The default (HDFS-backed) state store keeps every key in executor heap —
# fine for the replay tests, a bottleneck at 100 TB where a stateful op's
# working set (W5 chunk groups, W9 LSH buckets, W14 heavy-hitter partials,
# W17 SCD2 current rows, W19 debounce keys) exceeds memory. RocksDB spills
# state to local SSD with bounded block-cache memory, and changelog
# checkpointing uploads per-batch deltas instead of full snapshots — the
# production configuration for large-state streaming. rocksdbjni ships in
# the Spark distribution, so this is a conf flip, not a dependency.

ROCKSDB_STATE_CONF = {
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    ),
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled":
        "true",
}


def enable_rocksdb_state(spark: SparkSession) -> None:
    """Switch stateful streaming queries started AFTER this call to the
    RocksDB state store (the conf is read at query start; running
    queries keep their provider — never flip providers across restarts
    of the same checkpoint)."""
    for k, v in ROCKSDB_STATE_CONF.items():
        spark.conf.set(k, v)


def disable_rocksdb_state(spark: SparkSession) -> None:
    """Revert to the default HDFS-backed provider for new queries."""
    spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    spark.conf.unset(
        "spark.sql.streaming.stateStore.rocksdb."
        "changelogCheckpointing.enabled"
    )


def checkpoint_has_state(checkpoint_dir: str | None) -> bool:
    """True if `checkpoint_dir` holds state from a previous run of a
    stateful query (its `state/` tree exists and is non-empty). Used to
    suppress the RocksDB auto-default on resume: state files written by
    one provider cannot be read by another, so a checkpoint created
    under the on-heap default must keep it."""
    import os

    if not checkpoint_dir:
        return False
    state = os.path.join(checkpoint_dir, "state")
    if not os.path.isdir(state):
        return False
    for _root, _dirs, files in os.walk(state):
        if files:
            return True
    return False


def auto_rocksdb_for_unbounded_state(
    spark: SparkSession, checkpoint_dir: str | None = None
) -> bool:
    """Default-on RocksDB for the corpus-linear-state twins.

    The streaming operators whose state grows with the corpus (W9/W20/
    W33 near-dup without a TTL horizon) call this when they build their
    stateful stage: measurements (SCALING_R10 §6: 2.38 GB on-heap vs
    ~14 MB provider memory at 500k docs, latency parity) say RocksDB is
    the only sane default there, and a default that matters must BE the
    default — not a doc sentence pointing at enable_rocksdb_state.

    Respects an explicit choice: if the session already sets ANY
    providerClass (the user picked a store) this is a no-op, and
    SPARK_GRAFT_ROCKSDB_AUTO=0 disables the auto-flip globally (e.g.
    to A/B the on-heap provider). The conf is read at query START, so
    this affects queries started after the operator is built.

    Resume safety: when the caller passes its `checkpoint_dir` and that
    checkpoint already holds state (a run started under an earlier —
    possibly on-heap — provider), the auto-flip is SKIPPED: RocksDB
    cannot read HDFS-backed state files, so flipping providers across
    restarts of one checkpoint would fail the resumed query. The
    default only applies to fresh checkpoints. Returns True if the
    conf was applied."""
    from kinesyslog_spark.env import env_int

    if not env_int("SPARK_GRAFT_ROCKSDB_AUTO", 1):
        return False
    if checkpoint_has_state(checkpoint_dir):
        return False
    key = "spark.sql.streaming.stateStore.providerClass"
    if spark.conf.get(key, None):
        return False
    enable_rocksdb_state(spark)
    return True
