"""Loaders for the driver-generated testdata tables (TESTDATA.md).

All reads are plain `spark.read.parquet` so Catalyst gets predicate
pushdown + column pruning for free; callers should select/filter on the
returned DataFrame rather than materializing it.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import threading
import time
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

# Hot-layer artifacts are session-bounded and recomputable from their
# (also cached) parents, so they persist MEMORY_ONLY: the default
# MEMORY_AND_DISK level pays a compressed-columnar conversion measured
# at ~2x the underlying compute on string/array-heavy frames (shingle
# arrays, token arrays, double vectors), purely to make the blocks
# disk-spillable — capacity these bounded artifacts never need. On a
# cluster, eviction falls back to recompute-from-parquet, which beats
# spilling cache for artifacts this small (HOT_TABLE_MAX_BYTES-bounded).
HOT_LEVEL = StorageLevel.MEMORY_ONLY

TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Dimension tables small enough to broadcast at ANY scale factor (region,
# nation are fixed-size in TPC-H; supplier/part grow but stay broadcastable
# into the multi-GB range — revisit per deployment).
BROADCAST_TABLES = ("region", "nation")


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    # Session-robustness: the caller's session (e.g. the correctness
    # driver's) may carry NO engine configs, so normalize types at load
    # instead of relying on session-build settings.
    #
    # 1. TIMESTAMP(NANOS) parquet (older testdata generations) throws
    #    PARQUET_TYPE_ILLEGAL on a default session; nanosAsLong is
    #    runtime-settable and the bigint is converted below.
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # older Spark without the conf: the read either works or fails loudly
    df = spark.read.parquet(table_path(sf_dir, name))
    from pyspark.sql import functions as F

    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # TIMESTAMP(NANOS) read via spark.sql.legacy.parquet.nanosAsLong:
        # convert epoch-nanos -> TimestampType (µs), truncating like DuckDB.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # 2. isAdjustedToUTC=false timestamps read as TIMESTAMP_NTZ under the
    #    default inferTimestampNTZ, which unix_millis/time arithmetic
    #    reject. All engine sessions run tz=UTC, so the NTZ->LTZ cast is
    #    exact; it is a metadata-only projection (no data pass).
    ntz = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    if ntz:
        df = df.withColumns({c: F.col(c).cast("timestamp") for c in ntz})
    return df


def spread(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Round-robin repartition before per-row-heavy compute — GATED on
    the input actually being under-split.

    Small local test files arrive as ONE input split, which serializes
    expensive per-row work (higher-order array functions run interpreted,
    outside whole-stage codegen) onto a single core; the one-time shuffle
    of the raw column is repaid ~32x by parallel evaluation. On a real
    cluster a 100 TB scan already has thousands of natural splits, where
    an unconditional round-robin would be a full-corpus shuffle — so the
    repartition fires ONLY when the current split count is below half the
    target parallelism. Callers apply it in front of array/shingle/hash
    pipelines, never plain Catalyst expressions.
    """
    n = partitions or df.sparkSession.sparkContext.defaultParallelism
    try:
        # Plan-only inspection (no job): how many splits would this scan
        # produce as-is?
        cur = df.rdd.getNumPartitions()
    except Exception:
        cur = 0
    if cur * 2 >= n:
        # Already well-split (any at-scale scan lands here): adding a
        # round-robin shuffle could only hurt.
        return df
    return df.repartition(n)


# hot_table persists whole tables; bound it so "persist the corpus" can
# never happen at scale — above this the plain (non-cached) load wins.
HOT_TABLE_MAX_BYTES = 4 << 30  # 4 GiB per table, comfortably in local RAM


def _plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate for the optimized plan (scan file size
    for a plain parquet read). -1 when unavailable."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return -1


def hot_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """A spread + persisted table, one session artifact per (sf_dir, table).

    The text/vector operator family all start from the same small corpus
    table; without memoization every query re-reads the (single-row-group,
    hence single-task) parquet and re-shuffles it. One session-lifetime
    artifact makes the scan cost once-per-session — the local analog of a
    hot table in cluster cache. Safe because testdata is immutable.

    BOUNDED: tables whose Catalyst size estimate exceeds
    HOT_TABLE_MAX_BYTES are returned as plain loads (no spread, no
    persist) — "persist the corpus" is a scale-killer at 100 TB, and
    re-scanning parquet beats evicting executor storage memory."""

    def build(keep):
        df = load_table(spark, sf_dir, name)
        size = _plan_size_bytes(df)
        if size < 0 or size > HOT_TABLE_MAX_BYTES:
            raise _Oversized(df)  # too big (or unknown): never cache
        return spread(df)

    try:
        return artifact(spark, sf_dir, f"table:{name}", build)
    except _Oversized as big:
        return big.df


class _Oversized(Exception):
    def __init__(self, df: DataFrame):
        super().__init__("table above HOT_TABLE_MAX_BYTES")
        self.df = df


def hot_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session artifact `(doc_id, toks)` over `documents` — the canonical
    tokenizer output (operators.text.tokens) persisted once per session.

    The whole text-operator family (MinHash shingling, SimHash, language
    ID, token stats) starts by tokenizing the same corpus; the regexp
    extraction is the most expensive per-row step they share. At cluster
    scale this is the "tokenize once, reuse everywhere" stage every
    training-data pipeline runs; locally it removes a repeated
    interpreted-regex pass per query. Unfiltered (empty token arrays
    kept) so every consumer can apply its own size() predicate."""

    def build(keep):
        from pyspark.sql import functions as F

        from kinesyslog_spark.operators.text import tokens

        docs = hot_table(spark, sf_dir, "documents")
        return docs.select("doc_id", tokens(F.col("text")).alias("toks"))

    return artifact(spark, sf_dir, "tokens", build)


def hot_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session artifact `(doc_id, token, tf)`: unigram postings over the
    canonical token stream — the inverted-index projection every
    retrieval/statistics pipeline materializes once.

    Seven-plus consumers (BM25 q68, entropy q69, unigram-LM q55, the
    heavy-hitter verify q79, the frequency-spectrum/Zipf family
    q129/q131, DSIR's per-doc-term counts) each re-ran the SAME
    explode + first-level count aggregate over hot_tokens per query;
    at 100 TB that is a full token-stream shuffle per query where one
    suffices. The per-(doc, token) count is the finest grain they all
    start from, so every downstream aggregate (global counts, document
    frequency, doc length) derives exactly: COUNT over instances ==
    SUM(tf), COUNT(DISTINCT doc_id) per token == COUNT(*) per token."""

    def build(keep):
        from pyspark.sql import functions as F

        return (
            hot_tokens(spark, sf_dir)
            .select("doc_id", F.explode("toks").alias("token"))
            .groupBy("doc_id", "token")
            .agg(F.count(F.lit(1)).alias("tf"))
        )

    return artifact(spark, sf_dir, "postings", build)


def hot_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session artifact `(token, cnt)`: corpus-wide unigram counts —
    the vocabulary table (Heaps' law: orders of magnitude below the
    corpus), derived from hot_postings by one map-side-combinable
    aggregate instead of a fresh token-stream pass per consumer."""

    def build(keep):
        from pyspark.sql import functions as F

        return (
            hot_postings(spark, sf_dir)
            .groupBy("token")
            .agg(F.sum("tf").alias("cnt"))
        )

    return artifact(spark, sf_dir, "vocab", build)


def hot_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session artifact `(vec_id, label, emb double[], nrm)` over
    `embeddings` — the float→double cast (an interpreted higher-order
    transform) and the L2 norm computed ONCE per session.

    Every vector-family query (brute-force cosine, sign-LSH, IVF,
    quantization) starts from exactly these columns; at cluster scale
    this is the materialized vector-store projection an ANN system keeps
    hot, locally it removes a repeated per-row array pass per query."""

    def build(keep):
        from pyspark.sql import functions as F

        emb = F.transform("embedding", lambda x: x.cast("double"))
        return hot_table(spark, sf_dir, "embeddings").select(
            "vec_id",
            "label",
            emb.alias("emb"),
            F.sqrt(
                F.aggregate(
                    F.transform(emb, lambda x: x * x),
                    F.lit(0.0),
                    lambda a, x: a + x,
                )
            ).alias("nrm"),
        )

    return artifact(spark, sf_dir, "vectors", build)


# ---------------------------------------------------------------------------
# Session-artifact registry
# ---------------------------------------------------------------------------
# Every corpus-derived intermediate that outlives one call (hot tables,
# token streams, signatures, pair graphs, clusterings, budget estimates)
# is an entry here, keyed (session, family, corpus, knobs). The registry
# is the only code that persists such frames, so it is also the only
# code that has to release them: release_hot is a loop over the entries.
# Build-only intermediates go through the keep() callback handed to
# each build and are unpersisted when the build returns or raises.


class _Keep:
    """keep(df): persist df at HOT_LEVEL and return it; its first action
    materializes it. A build whose next plan reads a kept frame from two
    subtrees (a self-join, a broadcast of it) counts the frame first, or
    the subtrees race to compute it before the cache fills (measured
    5-10x first-run slowdowns). keep.count(df): df.count(), and marks df
    materialized, so the registry does not count it again when the build
    returns it. keep.checkpoint(df):
    df.localCheckpoint(eager) under the same ownership — an artifact
    owns every checkpoint its build made (the result's lineage may read
    them), a scratch() block drops them on exit. drop() releases every
    frame not spared."""

    def __init__(self) -> None:
        self.frames: list[DataFrame] = []
        self.ckpts: list[DataFrame] = []
        self.counted: list[DataFrame] = []

    def __call__(self, df: DataFrame) -> DataFrame:
        df = df.persist(HOT_LEVEL)
        self.frames.append(df)
        return df

    def count(self, df: DataFrame) -> int:
        n = df.count()
        self.counted.append(df)
        return n

    def checkpoint(self, df: DataFrame, eager: bool = True) -> DataFrame:
        df = df.localCheckpoint(eager)
        self.ckpts.append(df)
        return df

    def drop(self, spare: tuple = ()) -> None:
        for df in self.frames:
            if not any(df is s for s in spare):
                df.unpersist()
        for df in self.ckpts:
            _uncheckpoint(df)
        self.frames, self.ckpts, self.counted = [], [], []


def _uncheckpoint(df: DataFrame) -> None:
    """Free a local checkpoint's blocks: they live on the RDD under the
    frame's LogicalRDD plan (DataFrame.unpersist does not reach them)."""
    df._jdf.logicalPlan().rdd().unpersist(False)


@contextmanager
def scratch():
    """Call-scoped keep() for code that consumes its intermediates
    eagerly (collects, driver-side loops): every frame kept inside the
    block is unpersisted when the block exits, normally or by raise.
    A frame a lazily-returned DataFrame still reads must be an
    artifact() instead."""
    keep = _Keep()
    try:
        yield keep
    finally:
        keep.drop()


class _Entry:
    __slots__ = ("value", "owned", "ckpts", "build_ms", "hits")

    def __init__(self, value, owned: tuple, ckpts: list,
                 build_ms: float) -> None:
        self.value, self.owned, self.ckpts = value, owned, ckpts
        self.build_ms, self.hits = build_ms, 0


_ARTIFACTS: dict[tuple, _Entry] = {}
_MISSES: dict[tuple, int] = {}
_GATES: dict[tuple, threading.Lock] = {}
_LOCK = threading.Lock()


def _frames_of(value) -> tuple:
    items = value if isinstance(value, tuple) else (value,)
    return tuple(v for v in items if isinstance(v, DataFrame))


def artifact(spark: SparkSession, sf_dir: str, family: str, build,
             knobs: tuple = (), store: bool = False):
    """The session artifact `family` over the corpus at sf_dir under
    `knobs`: built once per (session, family, corpus, knobs), then
    returned from memory until released.

    `build(keep)` returns a DataFrame, a tuple (DataFrames and plain
    values), or a plain value. Returned frames are persisted at
    HOT_LEVEL and materialized (a returned keep.checkpoint or
    keep.count frame is already materialized); frames that another
    artifact already holds (cached when returned, not kept here) are
    borrowed, not owned.
    Frames the build passed to keep() but did not return are
    unpersisted once it returns; its checkpoints stay with the entry.
    On a raise every kept frame and checkpoint is released and nothing
    is registered. Concurrent callers of one key wait for a single
    build.

    knobs carries every setting the value depends on besides the corpus
    (budget caps, scheme versions, dials), so a re-tuned knob builds a
    new entry instead of returning one computed under the old setting.

    store=True (tuple-of-DataFrame values only) adds the opt-in disk
    step: with SPARK_GRAFT_ARTIFACT_DIR set, a published copy is loaded
    instead of building, and a fresh build is published (artifact_path)."""
    key = (id(spark), family, sf_dir.rstrip("/"), tuple(knobs))
    with _LOCK:
        got = _ARTIFACTS.get(key)
        if got is not None:
            got.hits += 1
            return got.value
        gate = _GATES.setdefault(key, threading.Lock())
    with gate:
        with _LOCK:
            got = _ARTIFACTS.get(key)
            if got is not None:
                got.hits += 1
                return got.value
            _MISSES[key] = _MISSES.get(key, 0) + 1
        t0 = time.perf_counter()
        path = artifact_path(sf_dir, family, knobs) if store else None
        keep = _Keep()
        try:
            value = _load_stored(spark, path) if path else None
            loaded = value is not None
            if not loaded:
                value = build(keep)
            for df in _frames_of(value):
                if not df.is_cached and not any(df is c for c in keep.ckpts):
                    keep(df)
            owned = tuple(
                df for df in _frames_of(value)
                if any(df is k for k in keep.frames)
            )
            for df in owned:
                if not any(df is c for c in keep.counted):
                    df.count()
        except BaseException:
            keep.drop()
            raise
        ckpts, keep.ckpts = keep.ckpts, []
        keep.drop(spare=owned)
        if path and not loaded:
            _publish(_frames_of(value), path)
        entry = _Entry(value, owned, ckpts, (time.perf_counter() - t0) * 1e3)
        with _LOCK:
            _ARTIFACTS[key] = entry
    return value


def artifact_inventory(spark: SparkSession) -> list[dict]:
    """The resident artifacts of this session: family, corpus, knobs,
    owned frame and checkpoint counts, build ms, hits and misses
    (builds of this key)."""
    with _LOCK:
        return [
            {"family": k[1], "corpus": k[2], "knobs": k[3],
             "frames": len(e.owned), "checkpoints": len(e.ckpts),
             "build_ms": round(e.build_ms, 1),
             "hits": e.hits, "misses": _MISSES.get(k, 0)}
            for k, e in _ARTIFACTS.items() if k[0] == id(spark)
        ]


def release_artifacts(spark: SparkSession, sf_dir: str | None = None,
                      family: str | None = None) -> int:
    """Forget this session's artifacts — all, one corpus's, one
    family's, or one family over one corpus — and release the frames
    and checkpoints they own. Returns how many were released."""
    corpus = sf_dir.rstrip("/") if sf_dir is not None else None
    with _LOCK:
        dead = [
            _ARTIFACTS.pop(k) for k in list(_ARTIFACTS)
            if k[0] == id(spark)
            and corpus in (None, k[2]) and family in (None, k[1])
        ]
    n = 0
    for entry in dead:
        for df in entry.owned:
            df.unpersist()
        for df in entry.ckpts:
            _uncheckpoint(df)
        n += len(entry.owned) + len(entry.ckpts)
    return n


def release_hot(spark: SparkSession, sf_dir: str | None = None) -> int:
    """Unpersist (and forget) the session artifacts — all of them, or
    only one sf_dir's.

    Long-lived sessions that sweep many datasets accumulate persisted
    blocks (hot tables, tokens, vectors, IVF centroids) that the block
    manager then scans/evicts around; a 60-query run measured a 4x
    slowdown on an iterative query purely from that pressure. Call this
    when a dataset's query family is done. Next access rebuilds."""
    return release_artifacts(spark, sf_dir)


def artifact_path(sf_dir: str, family: str, knobs: tuple = ()) -> str | None:
    """Disk location of a stored artifact, or None when the disk store
    is disabled (the default).

    Stored families (SimHash (grp, blk), shingles, MinHash signatures)
    are pure functions of the corpus and their knobs, and building them
    is the dominant cost of a FRESH session's first family query (q27
    sf10: ~100 s of the 160 s fresh run; q26 sf1: ~15 s of 17.7 s).
    Like a production IVF index, a deployment can keep them on disk
    keyed by corpus — a fresh session then pays parquet IO, not
    recompute. The key folds in the documents.parquet file stat
    (size + mtime), so a regenerated dataset at the same path misses
    cleanly, and the family's knobs (scheme version + dial constants),
    so a code change never reads a stale layout.

    OPT-IN ONLY (OPTIMIZATION_r12): the store requires an explicit
    SPARK_GRAFT_ARTIFACT_DIR path. A default-on disk store would carry
    computed intermediates across independent engine invocations, which
    makes a fresh-session benchmark silently *not fresh* — every bench
    or correctness run must compute from the parquet inputs alone. The
    feature stays available for long-lived deployments that want an
    index; measurement paths never set the variable."""
    base = (os.environ.get("SPARK_GRAFT_ARTIFACT_DIR") or "").strip()
    if not base or base in ("0", "off", "none"):
        return None
    try:
        st = os.stat(os.path.join(sf_dir, "documents.parquet"))
    except OSError:
        return None
    key = hashlib.sha1(
        f"{os.path.abspath(sf_dir)}|{st.st_size}|{st.st_mtime_ns}"
        f"|{family}|{tuple(knobs)!r}".encode()
    ).hexdigest()[:16]
    return os.path.join(base, family, key)


def _load_stored(spark: SparkSession, path: str) -> tuple | None:
    """The frames of a PUBLISHED artifact dir, in stored order; None if
    absent or half-written."""
    if not os.path.exists(os.path.join(path, "_PUBLISHED")):
        return None
    names = sorted(n for n in os.listdir(path) if n.isdigit())
    return tuple(spark.read.parquet(os.path.join(path, n)) for n in names)


def _publish(frames: tuple, path: str) -> None:
    """Best-effort atomic publish: write into a tmp dir, rename into
    place, marker last. A concurrent writer losing the rename race just
    discards its tmp; readers only trust _PUBLISHED."""
    tmp = f"{path}.tmp-{os.getpid()}"
    try:
        for i, df in enumerate(frames):
            df.write.mode("overwrite").parquet(os.path.join(tmp, str(i)))
        os.makedirs(os.path.dirname(path), exist_ok=True)
        os.rename(tmp, path)
        with open(os.path.join(path, "_PUBLISHED"), "w") as f:
            f.write("1\n")
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view (for the SQL API paths)."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
