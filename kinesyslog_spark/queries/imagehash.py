"""Q124 — image perceptual-hash near-duplicate join over a REAL PNG
pixel path (operators/png.py: zero-dep decode, integer-DCT pHash).

Pipeline (the image twin of q27's SimHash family):
  1. render   — each document is rendered to a deterministic 32x32
     grayscale "feature chart" (see `shingle_raster`) and encoded as a
     real PNG (mapInPandas 1->1, binary payload column) — the stand-in
     for stored images, since the container ships no image fixtures.
  2. phash    — payloads are DECODED back through the real PNG codec
     (zlib inflate + unfilter; no shortcut to the raster), grayscaled /
     box-downscaled to 32x32 if needed, and perceptually hashed with
     the fixed-point DCT (8 blocks x 8 bits).
  3. multi-index join — the 64-bit hash splits into 4 disjoint 16-bit
     block-interleaved groups; hamming <= 7 forces some group to
     distance <= 1 (pigeonhole), so candidates = pairs in the same
     16-bit exact bucket (distance 0) or the same bit-masked bucket on
     opposite bit values (distance exactly 1) — Norouzi et al. 2012
     multi-index hashing, hot-bucket capped at scale, verified with
     the full 64-bit popcount in the same kernel: exact completeness
     at the threshold, like q27.

Why `shingle_raster` makes image near-dup MEANINGFUL here: the raster
is a 2-D histogram of the document's positional char-5-gram counts
(cell = md5_int60(gram) % 1024, intensity = min(255, 16*count)), so
documents in the corpus's near-duplicate clusters (~0.9 shingle
Jaccard) produce rasters differing in a few cells -> pHash hamming
mostly 0-2, while unrelated documents measure ~20+ (validated: 25/25
cluster pairs at sf0.01 fall under the threshold, 0 background pairs).
The ORACLE rebuilds the same integers straight from `text` in SQL —
shingle counts, md5 cell, the literal DCT table, quantile_disc median —
so the driver verifies the WHOLE chain including the PNG roundtrip
(any codec bug perturbs pixels -> coefficients -> pairs).

Scale posture (100 TB of images):
- HONEST LIMIT (measured, SCALING_R8.md), now OPERATIONAL
  (PHASH_MAX_SLOTS, SCALING_R9.md): any fixed 64-bit hash under an
  exhaustive hamming join saturates its key space — at 500k correlated
  images the 4x16-bit multi-index holds 4.2B pair slots (101x the
  50k-image count for 10x docs), and the slot-budget guard fails fast
  at that scale (64.8 s) instead of launching the kernel. The "use a
  longer hash" fix was BUILT and refuted (q174, 256-bit: verify
  precision, no blocking entropy — sf1 slots 208M vs 42M). The hash
  family whose added bits ARE independent was then built and measured
  (q175, rank-centered random projections): ~3x the uncorrelated slot
  floor at BOTH probed decades (4.2M at sf1 / 423M at sf10 vs this
  family's 41.5M / 4.2B), better truth recall AND precision at sf0.1.
  So past ~10^6 images the measured paths are q175, the
  capped/streaming recall-bounded twin (W20), or a tighter hot-bucket
  cap — all named by the guard's error.
- render/phash are map-only Arrow-batched stages (the two intended
  Python stages; everything after is JVM);
- the only shuffle after hashing is the multi-index groupBy (68 rows
  per image — 4 exact + 64 probe keys — each carrying the 8-long hash
  vector: linear, Arrow-batched); pairs verify inside the kernel, no
  join back;
- hot buckets (e.g. all-zero charts) are bounded by the global
  LSH_MAX_BUCKET cap inside the kernel (cap_hot_buckets' mirror).
"""

from __future__ import annotations

import hashlib
from collections import Counter
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesyslog_spark.env import env_budget
from kinesyslog_spark.operators.multimodal import DECODE_ERRORS
from kinesyslog_spark.operators.png import (
    box_downscale,
    decode_png,
    dct_table_sql_values,
    encode_png,
    to_gray,
)
from kinesyslog_spark.queries import query
from kinesyslog_spark.tables import artifact, load_table

HAM_T = 7        # hamming threshold; <= 7 guarantees a shared block
HAM_T256 = 28    # 256-bit variant: floor(28/16) = 1 -> some 16-bit group <= 1
SHINGLE_N = 5    # char-gram width feeding the raster
CELL_GAIN = 16   # intensity per gram occurrence, clamped to 255

# gram -> raster cell memo. The corpus vocabulary is tiny relative to
# the gram stream (every doc reuses the same shingles), so each Python
# worker md5-hashes a given gram once per process, not once per doc.
_CELL_MEMO: dict[str, int] = {}


def _gram_cell(g: str) -> int:
    c = _CELL_MEMO.get(g)
    if c is None:
        c = int(hashlib.md5(g.encode("utf-8")).hexdigest()[:15], 16) % 1024
        if len(_CELL_MEMO) < 1_000_000:  # bound worker memory
            _CELL_MEMO[g] = c
    return c


def shingle_raster(text: str) -> bytes:
    """32x32 gray raster: 2-D histogram of positional char-5-gram
    counts. cell = int(md5(gram)[:15 hex], 16) % 1024 (the md5_int60
    convention, so DuckDB replays it bit-exactly); intensity =
    min(255, CELL_GAIN * count)."""
    t = text.lower()
    cnt = Counter(t[i:i + SHINGLE_N] for i in range(len(t) - SHINGLE_N + 1))
    cells: Counter[int] = Counter()
    for g, c in cnt.items():
        cells[_gram_cell(g)] += c
    buf = bytearray(1024)
    for cell, c in cells.items():
        buf[cell] = min(255, CELL_GAIN * c)
    return bytes(buf)


def render_png_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas 1->1: (doc_id, text) -> (doc_id, payload) real PNG."""
    for pdf in batches:
        rows = [
            {"doc_id": d, "payload": encode_png(shingle_raster(t), 32, 32)}
            for d, t in zip(pdf["doc_id"], pdf["text"])
        ]
        yield pd.DataFrame(rows, columns=["doc_id", "payload"])


PHASH_SCHEMA = "doc_id long, j int, bv long"
RASTER_SCHEMA = "doc_id long, raster binary"


def _decode_batch_rasters(pdf: pd.DataFrame):
    """(doc_id, payload) batch -> (ids, list of 1024-byte gray rasters)
    via the REAL decode path. Non-PNG / unsupported payloads are
    skipped (a malformed blob must never kill a partition)."""
    ids, rasters = [], []
    for d, p in zip(pdf["doc_id"], pdf["payload"]):
        try:
            w, h, ch, px = decode_png(bytes(p))
        except DECODE_ERRORS:
            continue
        gray = to_gray(px, ch)
        if (w, h) != (32, 32):
            gray = box_downscale(gray, w, h, 32, 32)
        ids.append(d)
        rasters.append(gray)
    return ids, rasters


def raster_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas 1->1: (doc_id, payload) -> (doc_id, raster) decoded
    32x32 gray rasters — the decode stage factored out ONCE so the
    three hash builders (pHash64 / pHash256 / DCT coefficients) share
    one render+decode pass of the corpus instead of running it each
    (OPTIMIZATION_r12; at corpus scale that is two fewer full decode
    passes)."""
    for pdf in batches:
        ids, rasters = _decode_batch_rasters(pdf)
        yield pd.DataFrame({
            "doc_id": pd.array(ids, dtype="int64"),
            "raster": rasters,
        })


def _phash_rows_from_rasters(ids, rasters):
    """Shared 8x8 pHash tensor core over decoded rasters (bit-identical
    to the pure-Python `phash_blocks`, which tests pin it against) —
    the per-doc Python loop was ~20x slower at sf0.1."""
    import numpy as np

    from kinesyslog_spark.operators.png import PHASH_DCT_T

    if not len(ids):
        return pd.DataFrame(columns=["doc_id", "j", "bv"])
    T = np.array(PHASH_DCT_T, dtype=np.int64)  # (8, 32)
    G = np.stack(
        [np.frombuffer(r, dtype=np.uint8) for r in rasters]
    ).astype(np.int64).reshape(-1, 32, 32)
    R = G @ T.T                                  # (n, 32 y, 8 u)
    C = np.einsum("vy,nyu->nuv", T, R)           # (n, 8 u, 8 v)
    flat = C.reshape(-1, 64)
    nondc = flat[:, 1:]                          # DC is index (0,0)
    med = np.sort(nondc, axis=1)[:, 31]          # 32nd smallest of 63
    bits = flat > med[:, None]
    bits[:, 0] = False                           # DC bit forced 0
    weights = np.array([1 << (7 - v) for v in range(8)], dtype=np.int64)
    bv = (bits.reshape(-1, 8, 8) * weights).sum(axis=2)  # (n, 8)
    return pd.DataFrame({
        "doc_id": np.repeat(np.asarray(ids, dtype=np.int64), 8),
        "j": np.tile(np.arange(8, dtype=np.int32), len(ids)),
        "bv": bv.reshape(-1),
    })


def phash_block_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas 1->8: (doc_id, payload) -> (doc_id, j, bv) pHash
    blocks via the REAL decode path."""
    for pdf in batches:
        ids, rasters = _decode_batch_rasters(pdf)
        yield _phash_rows_from_rasters(ids, rasters)


def phash_raster_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas 1->8 over PRE-DECODED (doc_id, raster) rows (the
    hot_image_rasters artifact)."""
    for pdf in batches:
        yield _phash_rows_from_rasters(
            list(pdf["doc_id"]), [bytes(r) for r in pdf["raster"]]
        )


def _q124_oracle() -> str:
    n = SHINGLE_N
    return f"""
    WITH sh AS (
      SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, strlen(text) - {n} + 2),
                      i -> substring(lower(text), i, {n}))) AS g
        FROM documents WHERE strlen(text) >= {n}
      ) GROUP BY doc_id, g
    ), cells AS (
      SELECT doc_id, cell, LEAST(255, {CELL_GAIN} * SUM(c)) AS gv
      FROM (
        SELECT doc_id,
               CAST('0x' || substring(md5(g), 1, 15) AS BIGINT) % 1024
                 AS cell,
               c
        FROM sh
      ) GROUP BY doc_id, cell
    ), dctt AS (
      SELECT * FROM (VALUES {dct_table_sql_values()}) AS t(u, x, tv)
    ), rd AS (
      SELECT c.doc_id, c.cell // 32 AS y, t.u, SUM(c.gv * t.tv) AS rv
      FROM cells c JOIN dctt t ON t.x = c.cell % 32
      GROUP BY c.doc_id, c.cell // 32, t.u
    ), co AS (
      SELECT r.doc_id, r.u, t.u AS v, SUM(r.rv * t.tv) AS cv
      FROM rd r JOIN dctt t ON t.x = r.y
      GROUP BY r.doc_id, r.u, t.u
    ), md AS (
      SELECT doc_id, quantile_disc(cv, 0.5) AS med
      FROM co WHERE NOT (u = 0 AND v = 0) GROUP BY doc_id
    ), bl AS (
      SELECT co.doc_id, co.u AS j,
             CAST(SUM(CASE WHEN NOT (co.u = 0 AND co.v = 0)
                                AND co.cv > md.med
                           THEN 1 << (7 - co.v) ELSE 0 END) AS BIGINT)
               AS bv
      FROM co JOIN md ON md.doc_id = co.doc_id
      GROUP BY co.doc_id, co.u
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bl a JOIN bl b
        ON a.j = b.j AND a.bv = b.bv AND a.doc_id < b.doc_id
    ), ham AS (
      SELECT p.doc_a, p.doc_b,
             CAST(SUM(bit_count(xor(a.bv, b.bv))) AS BIGINT) AS hamming
      FROM cand p
      JOIN bl a ON a.doc_id = p.doc_a
      JOIN bl b ON b.doc_id = p.doc_b AND b.j = a.j
      GROUP BY p.doc_a, p.doc_b
    )
    SELECT doc_a, doc_b, hamming FROM ham
    WHERE hamming <= {HAM_T}
    ORDER BY doc_a, doc_b
    """


# number of coarse groups the buckets hash into for the grouped-map
# pair kernel: per-GROUP overhead in the Arrow grouped-map path
# measured ~3 ms, so one group per (g, v) bucket cost seconds of pure
# dispatch; 64 coarse groups amortize it while the intra-group bucket
# loop runs at pandas-groupby C speed.
_PHASH_GROUPS = 64

# Slot-budget guardrail (the q121 PFJ_MAX_CANDIDATES pattern, adapted
# to multi-index hamming): the kernel's comparison count is EXACTLY
# Σ C(n,2) over exact buckets + Σ m0*m1 over masked buckets — one cheap
# aggregate over the bucket keys (the hash artifact is memoized, so the
# estimate pass is a cache re-read; only distinct bucket keys cross the
# wire thanks to partial aggregation). SCALING_R8.md measured why this
# must fail FAST instead of slow: any fixed 64-bit hash saturates its
# key space around 10^6 correlated images (sf10 = 4.2B slots, 101x for
# 10x docs, and q174 proved longer DCT hashes don't add blocking
# entropy) — past the budget the honest paths are the recall-bounded
# streaming twin (W20) or a tighter hot-bucket cap, and the guard names
# them. The default admits the sf1 probe (41.5M slots 64-bit / 208M
# 256-bit) and rejects the saturated decade (~4.2B). Set to 0 to
# disable (unset keeps the default budget; malformed values fall back).
PHASH_MAX_SLOTS: int | None = env_budget(
    "SPARK_GRAFT_PHASH_MAX_SLOTS", 500_000_000
)


def _mih_slot_budget_check(name: str, keys: DataFrame) -> None:
    """Fail fast if the multi-index kernel would admit more pair slots
    than PHASH_MAX_SLOTS.

    `keys` is the exploded (g, b, v, side) bucket-key frame. The
    estimate mirrors the kernel bit-for-bit: per (g, b, v) bucket,
    exact buckets (b = -1) contribute C(n, 2) comparisons and masked
    buckets m0*m1 cross comparisons, and buckets the kernel's
    hot-bucket cap skips are excluded — so the admitted number IS the
    kernel's comparison count, not an upper bound."""
    if not PHASH_MAX_SLOTS:
        return
    from kinesyslog_spark.queries.dedup import LSH_MAX_BUCKET
    from kinesyslog_spark.queries.resolution import CandidateBudgetExceeded

    m1 = F.col("s1")
    m0 = F.col("n") - m1
    exact = F.col("b") == -1
    slots = F.when(
        exact, (F.col("n") * (F.col("n") - 1) / 2).cast("double")
    ).otherwise((m0 * m1).cast("double"))
    skipped = (
        F.when(exact, F.col("n") > F.lit(LSH_MAX_BUCKET))
        .otherwise(F.greatest(m0, m1) > F.lit(LSH_MAX_BUCKET))
        if LSH_MAX_BUCKET
        else F.lit(False)
    )
    row = (
        keys.groupBy("g", "b", "v")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("side").alias("s1"))
        .agg(
            F.sum(F.when(~skipped, slots).otherwise(F.lit(0.0))).alias("adm"),
            F.sum(F.when(skipped, slots).otherwise(F.lit(0.0))).alias("cap"),
        )
        .collect()[0]
    )
    adm = int(row["adm"] or 0)
    if adm > PHASH_MAX_SLOTS:
        raise CandidateBudgetExceeded(
            f"{name} multi-index join would admit ~{adm:,} pair slots "
            f"(budget {PHASH_MAX_SLOTS:,}; a further ~{int(row['cap'] or 0):,} "
            "already excluded by the hot-bucket cap). A fixed-width "
            "perceptual hash saturates its key space on ~10^6 correlated "
            "images (SCALING_R8.md) — at this scale use the recall-bounded "
            "streaming twin (W20 continuous image near-dup), lower "
            "SPARK_GRAFT_LSH_MAX_BUCKET, or raise SPARK_GRAFT_PHASH_MAX_SLOTS."
        )


def _pack64(a):
    """64-bit hashes packed as 8 8-bit block values -> byte matrix."""
    import numpy as np

    return a.astype(np.uint64).view(np.uint8).reshape(len(a), 64)


def _phash_bucket_pairs(pdf):
    """q124/q175's multi-index kernel over 64-bit hashes."""
    return _mih_bucket_pairs(pdf, HAM_T, _pack64)


def _mih_bucket_pairs(pdf, thr, pack):
    """The multi-index kernel the queries run per coarse (gid) group
    through applyInPandas; the math is _mih_pairs_np."""
    import numpy as np
    import pandas as pd

    empty = pd.DataFrame(
        {"doc_a": [], "doc_b": [], "hamming": []}
    ).astype("int64")
    if len(pdf) < 2:
        return empty
    got = _mih_pairs_np(
        pdf["g"].to_numpy(dtype=np.int64),
        pdf["b"].to_numpy(dtype=np.int64),
        pdf["v"].to_numpy(dtype=np.int64),
        pdf["side"].to_numpy(dtype=np.int64),
        pdf["doc_id"].to_numpy(dtype=np.int64),
        np.stack(pdf["ba"].to_numpy()),
        thr, pack,
    )
    if got is None:
        return empty
    a, bb, h = got
    return pd.DataFrame({"doc_a": a, "doc_b": bb, "hamming": h})


def _mih_pairs_np(g, b, v, side, ids, ba, thr, pack):
    """Shared math of the multi-index kernel — one coarse group = many
    whole multi-index buckets: emit every candidate pair with
    hamming <= thr over the full hash (`pack` turns the stacked
    block-value matrix into the per-doc byte matrix). numpy xor +
    uint8-LUT popcount, row-at-a-time against the member matrix (peak
    temp is one (m, nbytes) uint8 slab). Returns (doc_a, doc_b,
    hamming) int64 arrays or None.

    Two bucket kinds, keyed (g, b, v):
    - b = -1: EXACT buckets (v = the doc's group value) — all member
      pairs, i.e. group distance 0;
    - b >= 0: MASKED buckets (v = group value with bit b cleared,
      `side` = that bit) — cross pairs side-0 x side-1 only, i.e. group
      distance EXACTLY 1 at bit b, so every distance-1 pair is found
      exactly once and distance-0 pairs never duplicate here (same
      side).
    Buckets whose exact membership (or either masked side) exceeds the
    global hot-bucket cap are skipped, mirroring cap_hot_buckets."""
    import numpy as np

    from kinesyslog_spark.queries.dedup import LSH_MAX_BUCKET

    m = len(ids)
    pop = _POP_LUT
    # Bucket runs via ONE lexsort instead of a pandas groupby: a coarse
    # partition holds millions of near-singleton (g, b, v) buckets and
    # per-group sub-frame construction measured ~10 us each — the
    # groupby dominated the whole query. Runs of length 1 now cost one
    # vectorized diff; only multi-member buckets enter the Python loop.
    order = np.lexsort((ids, side, v, b, g))
    g, b, v, side, ids = g[order], b[order], v[order], side[order], ids[order]
    bv8 = pack(ba[order])
    change = (np.diff(g) != 0) | (np.diff(b) != 0) | (np.diff(v) != 0)
    starts = np.concatenate(([0], np.flatnonzero(change) + 1, [m]))
    lens = np.diff(starts)
    multi = np.flatnonzero(lens >= 2)
    out_a, out_b, out_h = [], [], []
    for r in multi:
        s, e = int(starts[r]), int(starts[r + 1])
        n = e - s
        if b[s] < 0:
            # exact bucket: all pairs (ids ascend within the run)
            if LSH_MAX_BUCKET and n > LSH_MAX_BUCKET:
                continue
            for i in range(s, e - 1):
                h = pop[np.bitwise_xor(bv8[i + 1:e], bv8[i])].sum(
                    axis=1, dtype=np.int64
                )
                sel = np.nonzero(h <= thr)[0]
                if len(sel):
                    out_a.append(np.full(len(sel), ids[i], dtype=np.int64))
                    out_b.append(ids[i + 1 + sel])
                    out_h.append(h[sel])
            continue
        # masked bucket: cross side-0 x side-1 (side ascends in the run)
        k = s + int(np.searchsorted(side[s:e], 1))
        m0, m1 = k - s, e - k
        if m0 == 0 or m1 == 0:
            continue
        if LSH_MAX_BUCKET and max(m0, m1) > LSH_MAX_BUCKET:
            continue
        for i in range(k, e):
            h = pop[np.bitwise_xor(bv8[s:k], bv8[i])].sum(
                axis=1, dtype=np.int64
            )
            sel = np.nonzero(h <= thr)[0]
            if len(sel):
                out_a.append(np.minimum(ids[s:k][sel], ids[i]))
                out_b.append(np.maximum(ids[s:k][sel], ids[i]))
                out_h.append(h[sel])
    if not out_a:
        return None
    return (
        np.concatenate(out_a),
        np.concatenate(out_b),
        np.concatenate(out_h),
    )


def _make_pop_lut():
    import numpy as np

    return np.array([bin(x).count("1") for x in range(256)], dtype=np.uint8)


_POP_LUT = _make_pop_lut()


# Session artifacts (doc_id, ba) pHash vectors per sf_dir — the
# render -> PNG roundtrip -> DCT hash stages are the query's dominant
# LINEAR cost (~7.6 s at sf1) and are exactly the artifact an image
# dedup service keeps materialized (the hot_shingle_sigs pattern).
# Released by tables.release_hot.


def hot_image_rasters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session artifact (doc_id, raster): decoded 32x32 gray rasters —
    ONE render + REAL-decode pass of the corpus shared by the three
    hash builders (each previously re-rendered and re-decoded the whole
    corpus). Released by tables.release_hot."""

    def build(keep):
        docs = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "text")
            # the test parquet is one split; spread the (CPU-bound)
            # Python stages across the executor cores. At corpus scale
            # the input already has thousands of splits and this is a
            # near-no-op.
            .repartition(spark.sparkContext.defaultParallelism)
        )
        payloads = docs.mapInPandas(
            render_png_batches, schema="doc_id long, payload binary"
        )
        return payloads.mapInPandas(raster_batches, schema=RASTER_SCHEMA)

    return artifact(spark, sf_dir, "image_rasters", build)


def _hash_vectors(spark: SparkSession, sf_dir: str, family: str,
                  batches, schema: str) -> DataFrame:
    """Session artifact (doc_id, ba): one raster-hash family's per-doc
    block-value vectors, built from hot_image_rasters."""

    def build(keep):
        blocks = hot_image_rasters(spark, sf_dir).mapInPandas(
            batches, schema=schema
        )
        return (
            blocks.groupBy("doc_id")
            .agg(F.array_sort(F.collect_list(F.struct("j", "bv"))).alias("s"))
            .select(
                "doc_id",
                F.transform("s", lambda st: st["bv"]).alias("ba"),
            )
        )

    return artifact(spark, sf_dir, family, build)


def hot_phash_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session artifact (doc_id, ba[8]): 64-bit DCT pHash vectors."""
    return _hash_vectors(spark, sf_dir, "phash64", phash_raster_batches,
                         PHASH_SCHEMA)


def _mih64_tail(spark: SparkSession, v: DataFrame, name: str) -> DataFrame:
    """The 4x16-bit multi-index hamming join over a (doc_id, ba[8])
    hash frame — shared by q124 (DCT pHash) and q175 (rank-centered
    projection hash): group values, exact + masked bucket keys, the
    slot-budget fail-fast, and the lexsort-run pair kernel."""
    from kinesyslog_spark.queries.dedup import _par

    def _group_val(g: int) -> str:
        # 16-bit interleaved group value as a flat codegen sum: bit k of
        # the 64-bit hash is shiftright(ba[k/8], 7 - k%8) & 1 (block
        # values are MSB-first), group g takes k = g, g+4, ..., g+60.
        terms = []
        for i in range(16):
            k = g + 4 * i
            terms.append(
                f"shiftleft(shiftright(ba[{k // 8}], {7 - k % 8}) & 1,"
                f" {15 - i})"
            )
        return "(" + " + ".join(terms) + ")"

    gv = F.array(*[F.expr(_group_val(g)) for g in range(4)])
    keyed = v.withColumn("gv", gv).select(
        "doc_id",
        "ba",
        F.explode(
            F.expr(
                "flatten(transform(sequence(0, 3), g -> "
                "  array(named_struct("
                "    'g', g, 'b', -1, 'v', gv[g], 'side', 0)) || "
                "  transform(sequence(0, 15), b -> named_struct("
                "    'g', g, 'b', b,"
                "    'v', gv[g] & ~shiftleft(1L, b),"
                "    'side', int(shiftright(gv[g], b) & 1)))"
                "))"
            )
        ).alias("k"),
    ).select(
        "doc_id", "ba", F.col("k.g").alias("g"), F.col("k.b").alias("b"),
        F.col("k.v").alias("v"), F.col("k.side").alias("side"),
    ).withColumn(
        "gid", F.pmod(F.hash("g", "b", "v"), F.lit(_PHASH_GROUPS)).cast("int")
    )
    _mih_slot_budget_check(name, keyed.select("g", "b", "v", "side"))
    # MEASURED AND KEPT AS applyInPandas (r13, guide §4.3 A/B): a
    # mapInArrow twin (fine (g, b, v) repartition + an arrow kernel,
    # since removed; VERDICT r13 keeps the numbers) measured 1.51 s vs
    # 0.92 s for this shape in an interleaved same-session noop A/B at
    # sf0.1 — the opposite of q38, whose arrow
    # port cut 28%. The difference: q38 ships few wide GEMM blocks
    # (object-array stacking dominated); this kernel ships 68 skinny
    # rows/doc into near-singleton buckets, already amortized by the
    # coarse gid grouping, and the arrow path's whole-partition
    # concat+copy costs more than the pandas conversion it removes.
    pairs = keyed.groupBy("gid").applyInPandas(
        _phash_bucket_pairs, "doc_a long, doc_b long, hamming long"
    )
    return (
        pairs.repartition(_par(pairs))
        .distinct()
        .orderBy("doc_a", "doc_b")
    )


@query("q124_image_phash_neardup", oracle=_q124_oracle())
def q124_image_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-doc 8-long hash vector, carried INTO the buckets so hamming is
    # computed during pair expansion with no verify join.
    #
    # Candidate generation is MULTI-INDEX HAMMING (Norouzi et al. 2012):
    # the 64-bit hash splits into 4 disjoint 16-bit groups; hamming <= 7
    # forces SOME group to distance floor(7/4) = 1, so candidates are
    # pairs at group distance 0 (same 16-bit exact bucket) or exactly 1
    # (same bit-b-masked bucket, opposite bit values) — complete at the
    # threshold by pigeonhole, like the 8x8-bit scheme it replaces. The
    # 8-bit scheme's value space was only 256 buckets per block, so
    # bucket OCCUPANCY grew linearly with the corpus and pair slots
    # quadratically even for uncorrelated hashes (sf1: 309M pair slots,
    # max bucket ~7k members). Group bits are INTERLEAVED across the 8
    # DCT blocks (group g takes bit positions g, g+4, ..., g+60): the
    # corpus's high-frequency blocks correlate heavily, and mixing two
    # bits of every block into each group spreads the 16-bit values
    # (sf1: 41.5M slots interleaved vs 57.9M contiguous vs 309M for the
    # old scheme — a 7.4x slot cut). Emission is 68 linear rows per doc
    # (4 exact + 64 masked), each carrying the 8-long hash vector; the
    # hot-bucket cap still bounds adversarial value skew.
    v = hot_phash_vectors(spark, sf_dir)
    return _mih64_tail(spark, v, "q124_image_phash_neardup")


# ---------------------------------------------------------------------------
# Q174 — 256-bit pHash near-dup: the "longer hash" hypothesis, measured
# ---------------------------------------------------------------------------
# SCALING_R8.md measured the 64-bit hash's honest limit: an exhaustive
# hamming join over ANY fixed 64-bit hash saturates its 4x16-bit
# multi-index key space around 10^6 correlated images (4.2B pair slots
# at 500k docs). The obvious fix is a longer hash — this query BUILDS
# it so the hypothesis could be measured instead of asserted: the same
# raster hashed with the 16x16 block of the same fixed-point DCT
# (operators/png.py PHASH_DCT_T16, rows 8-15 re-derived independently
# with a 50-digit Decimal Taylor cosine) gives 256 bits = 16 disjoint
# 16-bit multi-index groups at hamming <= HAM_T256 = 28
# (<= 16*(1+1) - 1 = 31 keeps the distance<=1 pigeonhole). RESULT
# (SCALING_R8.md): the added bits widen the VERIFY margin enormously
# (cluster pairs hamming ~0-10 vs background ~90+, vs 64 bits' 0-2 vs
# ~20) but carry almost no BLOCKING entropy on this DCT family — sf1
# slots measure ~208M under every bit partition tried vs the 64-bit
# index's 42M. So q124 remains the candidate-generation scale path and
# this query is the high-precision measurement twin.

PHASH256_SCHEMA = "doc_id long, j int, bv long"


def phash256_block_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas 1->16: (doc_id, payload) -> (doc_id, j, bv) 16-bit
    pHash blocks via the REAL decode path (the phash_block_batches
    tensor contraction with the 16-row DCT table; bit-identical to the
    pure-Python phash256_blocks, pinned in tests)."""
    for pdf in batches:
        ids, rasters = _decode_batch_rasters(pdf)
        yield _phash256_rows_from_rasters(ids, rasters)


def _phash256_rows_from_rasters(ids, rasters):
    import numpy as np

    from kinesyslog_spark.operators.png import PHASH_DCT_T16

    if not len(ids):
        return pd.DataFrame(columns=["doc_id", "j", "bv"])
    T = np.array(PHASH_DCT_T16, dtype=np.int64)  # (16, 32)
    G = np.stack(
        [np.frombuffer(r, dtype=np.uint8) for r in rasters]
    ).astype(np.int64).reshape(-1, 32, 32)
    R = G @ T.T                                  # (n, 32 y, 16 u)
    C = np.einsum("vy,nyu->nuv", T, R)           # (n, 16 u, 16 v)
    flat = C.reshape(-1, 256)
    nondc = flat[:, 1:]                          # DC is index (0,0)
    med = np.sort(nondc, axis=1)[:, 127]         # 128th smallest of 255
    bits = flat > med[:, None]
    bits[:, 0] = False                           # DC bit forced 0
    weights = np.array(
        [1 << (15 - v) for v in range(16)], dtype=np.int64
    )
    bv = (bits.reshape(-1, 16, 16) * weights).sum(axis=2)  # (n, 16)
    return pd.DataFrame({
        "doc_id": np.repeat(np.asarray(ids, dtype=np.int64), 16),
        "j": np.tile(np.arange(16, dtype=np.int32), len(ids)),
        "bv": bv.reshape(-1),
    })


def phash256_raster_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas 1->16 over PRE-DECODED (doc_id, raster) rows (the
    hot_image_rasters artifact)."""
    for pdf in batches:
        yield _phash256_rows_from_rasters(
            list(pdf["doc_id"]), [bytes(r) for r in pdf["raster"]]
        )


def hot_phash256_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session artifact (doc_id, ba[16]): 256-bit pHash vectors — same
    artifact economics as hot_phash_vectors."""
    return _hash_vectors(spark, sf_dir, "phash256", phash256_raster_batches,
                         PHASH256_SCHEMA)


def _q174_oracle() -> str:
    n = SHINGLE_N
    return f"""
    WITH sh AS (
      SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, strlen(text) - {n} + 2),
                      i -> substring(lower(text), i, {n}))) AS g
        FROM documents WHERE strlen(text) >= {n}
      ) GROUP BY doc_id, g
    ), cells AS (
      SELECT doc_id, cell, LEAST(255, {CELL_GAIN} * SUM(c)) AS gv
      FROM (
        SELECT doc_id,
               CAST('0x' || substring(md5(g), 1, 15) AS BIGINT) % 1024
                 AS cell,
               c
        FROM sh
      ) GROUP BY doc_id, cell
    ), dctt AS (
      SELECT * FROM (VALUES {dct_table_sql_values(16)}) AS t(u, x, tv)
    ), rd AS (
      SELECT c.doc_id, c.cell // 32 AS y, t.u, SUM(c.gv * t.tv) AS rv
      FROM cells c JOIN dctt t ON t.x = c.cell % 32
      GROUP BY c.doc_id, c.cell // 32, t.u
    ), co AS (
      SELECT r.doc_id, r.u, t.u AS v, SUM(r.rv * t.tv) AS cv
      FROM rd r JOIN dctt t ON t.x = r.y
      GROUP BY r.doc_id, r.u, t.u
    ), md AS (
      SELECT doc_id, quantile_disc(cv, 0.5) AS med
      FROM co WHERE NOT (u = 0 AND v = 0) GROUP BY doc_id
    ), bl AS (
      SELECT co.doc_id, co.u AS j,
             CAST(SUM(CASE WHEN NOT (co.u = 0 AND co.v = 0)
                                AND co.cv > md.med
                           THEN 1 << (15 - co.v) ELSE 0 END) AS BIGINT)
               AS bv
      FROM co JOIN md ON md.doc_id = co.doc_id
      GROUP BY co.doc_id, co.u
    ), bh AS (
      -- per-doc 16-value hash list: the all-pairs hamming below brute
      -- forces the WHOLE join, independently verifying the Spark
      -- side's multi-index candidate completeness (a first oracle cut
      -- replicated the multi-index in SQL; its masked-key self-join
      -- materialized out of DuckDB's memory at sf0.1, and brute force
      -- is the stronger check anyway — memory is two doc-count list
      -- tables, the 16-term popcount is vectorized)
      SELECT doc_id, list(bv ORDER BY j) AS bs FROM bl GROUP BY doc_id
    )
    SELECT doc_a, doc_b, hamming FROM (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(list_sum(list_transform(range(1, 17),
                  i -> bit_count(xor(a.bs[i], b.bs[i])))) AS BIGINT)
               AS hamming
      FROM bh a JOIN bh b ON a.doc_id < b.doc_id
    ) WHERE hamming <= {HAM_T256}
    ORDER BY doc_a, doc_b
    """


def _pack256(a):
    """256-bit hashes packed as 16 16-bit block values -> byte matrix."""
    import numpy as np

    return a.astype(np.uint16).view(np.uint8).reshape(len(a), 32)


def _phash256_bucket_pairs(pdf):
    """q174's multi-index kernel over 256-bit hashes."""
    return _mih_bucket_pairs(pdf, HAM_T256, _pack256)


@query("q174_image_phash256_neardup", oracle=_q174_oracle())
def q174_image_phash256_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesyslog_spark.queries.dedup import _par

    # 16 groups x 16 bits, interleaved: group g takes bit position
    # (15-g) of every block j with weight 1 << (15-j).
    #
    # MEASURED FINDING (the reason this query exists alongside q124):
    # on this raster family the extra 192 DCT bits add VERIFY PRECISION
    # (cluster pairs measure hamming ~0-10 vs background ~90+, a far
    # wider margin than 64 bits' 0-2 vs ~20) but almost no BLOCKING
    # entropy — the 16-bit group values stay corpus-correlated whatever
    # the bit partition (sf1 slots: 208M column-interleaved, 228M
    # diagonal, 235M per-row vs the 64-bit index's 42M). Longer hashes
    # scale the key space only when the added bits carry entropy; for
    # this DCT family they don't, so the 64-bit multi-index (q124)
    # remains the candidate-generation scale path and this query is the
    # high-precision measurement twin. Two shapes were measured at sf1:
    # the skinny-key codegen self-join + join-back verify (94 s — every
    # slot materializes as a shuffled row) and this in-kernel-verify
    # shape (27.5 s fresh / 13.1 s warm — slots stay numpy-resident),
    # confirming the q124 kernel regime still applies at these slot
    # densities.
    v = hot_phash256_vectors(spark, sf_dir)

    def _group_val(g: int) -> str:
        terms = []
        for j in range(16):
            terms.append(
                f"shiftleft(shiftright(ba[{j}], {15 - g}) & 1, {15 - j})"
            )
        return "(" + " + ".join(terms) + ")"

    gv = F.array(*[F.expr(_group_val(g)) for g in range(16)])
    keyed = v.withColumn("gv", gv).select(
        "doc_id",
        "ba",
        F.explode(
            F.expr(
                "flatten(transform(sequence(0, 15), g -> "
                "  array(named_struct("
                "    'g', g, 'b', -1, 'v', gv[int(g)], 'side', 0)) || "
                "  transform(sequence(0, 15), b -> named_struct("
                "    'g', g, 'b', b,"
                "    'v', gv[int(g)] & ~shiftleft(1L, b),"
                "    'side', int(shiftright(gv[int(g)], b) & 1)))"
                "))"
            )
        ).alias("k"),
    ).select(
        "doc_id", "ba", F.col("k.g").alias("g"), F.col("k.b").alias("b"),
        F.col("k.v").alias("v"), F.col("k.side").alias("side"),
    ).withColumn(
        "gid", F.pmod(F.hash("g", "b", "v"), F.lit(_PHASH_GROUPS)).cast("int")
    )
    _mih_slot_budget_check(
        "q174_image_phash256_neardup", keyed.select("g", "b", "v", "side")
    )
    # applyInPandas kept after a measured A/B — see _mih64_tail's note.
    pairs = keyed.groupBy("gid").applyInPandas(
        _phash256_bucket_pairs, "doc_a long, doc_b long, hamming long"
    )
    return (
        pairs.repartition(_par(pairs))
        .distinct()
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# Q175 — rank-centered random-projection image hash: the independent-bit
# blocking family q124's saturation analysis called for
# ---------------------------------------------------------------------------
# SCALING_R8.md measured the 64-bit DCT pHash saturating its multi-index
# key space (~10^6 correlated images -> 4.2B pair slots) and q174 proved
# the obvious fix wrong: more DCT rows add verify precision but NO
# blocking entropy, because the added bits inherit the same corpus
# correlation. This query builds the measured alternative — bits that
# are independent BY CONSTRUCTION:
#   1. the full 256-coefficient 16x16 DCT vector per image (exact
#      integers, the q174 artifact before binarization);
#   2. each coefficient replaced by its CENTERED CORPUS RANK
#      2*rank - (n+1) (min-rank over the corpus, exact integers) —
#      without this, the handful of huge low-frequency coefficients
#      dominate every projection and background pairs stay correlated
#      (measured at sf0.01: raw projections put 2,029 of 124,750
#      background pairs under hamming 7; rank-centered puts 26, which
#      is the planted cluster-pair count);
#   3. 64 random +-1 projections (sign(p,i) from md5("q175:p:i"), so
#      DuckDB replays them bit-exactly) over the centered ranks;
#   4. each projection binarized at its own corpus MEDIAN (exact
#      lower-median, quantile_disc semantics) — every bit is 50/50
#      balanced by construction;
#   5. the same 4x16-bit multi-index join as q124 (shared tail, shared
#      kernel, shared slot budget) at hamming <= HAM_T.
#
# Separation (sf0.01, vs q124's pair set): cluster pairs measure
# hamming 0-6 (one weak pair at 22 — it sits at the 64-bit pHash
# threshold boundary too), background median 32 (the theoretical ideal
# for independent bits). Blocking entropy: exact-bucket slots 69 vs the
# DCT hash's 3,097 at the same sf.
#
# Scale: the rank transform is the one extra shuffle family vs q124 —
# a per-coefficient histogram aggregate (groupBy (i, cv), map-side
# combined), a window over the HISTOGRAM (not the corpus; distinct
# values per coefficient << rows), and a join back on (i, cv). All
# linear in corpus size and partition-parallel over 256 coefficients.
# Medians come from the same histogram machinery (64 values to the
# driver). Everything downstream is the q124 tail, budget-guarded.

HAM_T175 = HAM_T          # same radius; the hash family is the variable
_PROJ_BITS = 64
_PROJ_DIM = 256
_PROJ_SEED = "q175"

_PROJ_MATRIX = None


def _proj_matrix():
    """(64, 256) +-1 int64 matrix, sign(p,i) = 1 - 2*(first md5 nibble
    of "q175:p:i" mod 2) — derived, never shipped, so any worker and
    the DuckDB oracle rebuild it identically."""
    global _PROJ_MATRIX
    if _PROJ_MATRIX is None:
        import numpy as np

        m = np.empty((_PROJ_BITS, _PROJ_DIM), dtype=np.int64)
        for p in range(_PROJ_BITS):
            for i in range(_PROJ_DIM):
                h = hashlib.md5(
                    f"{_PROJ_SEED}:{p}:{i}".encode("utf-8")
                ).hexdigest()
                m[p, i] = 1 - 2 * (int(h[0], 16) % 2)
        _PROJ_MATRIX = m
    return _PROJ_MATRIX


COEFF_SCHEMA = "doc_id long, cv array<long>"


def dct_coeff_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas 1->1: (doc_id, payload) -> (doc_id, cv[256]) exact
    integer 16x16 DCT coefficients via the REAL PNG decode path (the
    phash256_block_batches tensor contraction, stopped before
    binarization)."""
    for pdf in batches:
        ids, rasters = _decode_batch_rasters(pdf)
        yield _dct_rows_from_rasters(ids, rasters)


def _dct_rows_from_rasters(ids, rasters):
    import numpy as np

    from kinesyslog_spark.operators.png import PHASH_DCT_T16

    if not len(ids):
        return pd.DataFrame({"doc_id": [], "cv": []})
    T = np.array(PHASH_DCT_T16, dtype=np.int64)  # (16, 32)
    G = np.stack(
        [np.frombuffer(r, dtype=np.uint8) for r in rasters]
    ).astype(np.int64).reshape(-1, 32, 32)
    R = G @ T.T                                  # (n, 32 y, 16 u)
    C = np.einsum("vy,nyu->nuv", T, R)           # (n, 16 u, 16 v)
    flat = C.reshape(-1, 256)
    return pd.DataFrame({
        "doc_id": np.asarray(ids, dtype=np.int64),
        "cv": list(flat),
    })


def dct_raster_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas 1->1 over PRE-DECODED (doc_id, raster) rows (the
    hot_image_rasters artifact)."""
    for pdf in batches:
        yield _dct_rows_from_rasters(
            list(pdf["doc_id"]), [bytes(r) for r in pdf["raster"]]
        )


def hot_dct_coeffs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized (doc_id, cv[256]) exact DCT coefficient vectors
    (a session artifact, released by tables.release_hot)."""
    return artifact(
        spark, sf_dir, "dct_coeffs",
        lambda keep: hot_image_rasters(spark, sf_dir).mapInPandas(
            dct_raster_batches, schema=COEFF_SCHEMA
        ),
    )


PROJ_SCHEMA = "doc_id long, pj array<long>"


def _proj_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas 1->1: (doc_id, cr[256] centered ranks) ->
    (doc_id, pj[64]) exact integer projections cr @ P.T (|cr| <= n and
    256 terms, so |pj| <= 256n — int64-safe at any conceivable corpus).
    """
    import numpy as np

    P = _proj_matrix()
    for pdf in batches:
        if not len(pdf):
            yield pd.DataFrame({"doc_id": [], "pj": []})
            continue
        cr = np.stack(pdf["cr"].to_numpy()).astype(np.int64)
        pj = cr @ P.T
        yield pd.DataFrame({
            "doc_id": pdf["doc_id"].to_numpy(dtype=np.int64),
            "pj": list(pj),
        })


def _q175_oracle() -> str:
    n = SHINGLE_N
    return f"""
    WITH sh AS (
      SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, strlen(text) - {n} + 2),
                      i -> substring(lower(text), i, {n}))) AS g
        FROM documents WHERE strlen(text) >= {n}
      ) GROUP BY doc_id, g
    ), cells AS (
      SELECT doc_id, cell, LEAST(255, {CELL_GAIN} * SUM(c)) AS gv
      FROM (
        SELECT doc_id,
               CAST('0x' || substring(md5(g), 1, 15) AS BIGINT) % 1024
                 AS cell,
               c
        FROM sh
      ) GROUP BY doc_id, cell
    ), dctt AS (
      SELECT * FROM (VALUES {dct_table_sql_values(16)}) AS t(u, x, tv)
    ), rd AS (
      SELECT c.doc_id, c.cell // 32 AS y, t.u, SUM(c.gv * t.tv) AS rv
      FROM cells c JOIN dctt t ON t.x = c.cell % 32
      GROUP BY c.doc_id, c.cell // 32, t.u
    ), co AS MATERIALIZED (
      SELECT r.doc_id, r.u, t.u AS v, SUM(r.rv * t.tv) AS cv
      FROM rd r JOIN dctt t ON t.x = r.y
      GROUP BY r.doc_id, r.u, t.u
    ), nn AS (SELECT COUNT(DISTINCT doc_id) AS n FROM co),
    rk AS (
      -- centered corpus min-rank per coefficient: 2*rank - (n+1)
      SELECT doc_id, u * 16 + v AS i,
             2 * RANK() OVER (PARTITION BY u, v ORDER BY cv)
               - (SELECT n FROM nn) - 1 AS cr
      FROM co
    ), sgn AS MATERIALIZED (
      SELECT p.range AS p, i.range AS i,
             1 - 2 * (CAST('0x' || substring(
                 md5('{_PROJ_SEED}:' || p.range || ':' || i.range), 1, 1)
                 AS INT) % 2) AS s
      FROM range(0, {_PROJ_BITS}) p, range(0, {_PROJ_DIM}) i
    ), pr AS MATERIALIZED (
      SELECT r.doc_id, g.p, SUM(g.s * r.cr) AS pv
      FROM rk r JOIN sgn g ON g.i = r.i
      GROUP BY r.doc_id, g.p
    ), med AS (
      SELECT p, quantile_disc(pv, 0.5) AS m FROM pr GROUP BY p
    ), bl AS (
      SELECT pr.doc_id, pr.p // 8 AS j,
             CAST(SUM(CASE WHEN pr.pv > med.m
                           THEN 1 << (7 - (pr.p % 8)) ELSE 0 END)
                  AS BIGINT) AS bv
      FROM pr JOIN med ON med.p = pr.p
      GROUP BY pr.doc_id, pr.p // 8
    ), bh AS (
      -- brute-force all-pairs hamming, like q174's oracle: independently
      -- verifies the Spark side's multi-index candidate completeness
      SELECT doc_id, list(bv ORDER BY j) AS bs FROM bl GROUP BY doc_id
    )
    SELECT doc_a, doc_b, hamming FROM (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(list_sum(list_transform(range(1, 9),
                  i -> bit_count(xor(a.bs[i], b.bs[i])))) AS BIGINT)
               AS hamming
      FROM bh a JOIN bh b ON a.doc_id < b.doc_id
    ) WHERE hamming <= {HAM_T175}
    ORDER BY doc_a, doc_b
    """


@query("q175_image_projhash_neardup", oracle=_q175_oracle())
def q175_image_projhash_neardup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql.window import Window as W

    coeffs = hot_dct_coeffs(spark, sf_dir)
    n_docs = coeffs.count()  # cached frame: cheap action
    # centered corpus rank per coefficient, histogram-shaped so no
    # corpus-sized window runs: the window walks the (i, cv) HISTOGRAM
    # (map-side-combined counts; distinct values per coefficient are a
    # small fraction of rows), and ranks join back on (i, cv).
    flat = coeffs.select(
        "doc_id", F.posexplode("cv").alias("i", "c")
    )
    hist = flat.groupBy("i", "c").agg(F.count(F.lit(1)).alias("cnt"))
    wcum = (
        W.partitionBy("i").orderBy("c")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    ranks = hist.withColumn(
        "cum", F.sum("cnt").over(wcum)
    ).select(
        "i", "c",
        # min-rank = strictly-smaller count + 1; centered = 2*rank-(n+1)
        (2 * (F.col("cum") - F.col("cnt") + 1) - F.lit(n_docs + 1))
        .alias("cr"),
    )
    centered = (
        flat.join(ranks, ["i", "c"])
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "cr"))),
                lambda st: st["cr"],
            ).alias("cr")
        )
    )
    proj = artifact(
        spark, sf_dir, "q175_projections",
        lambda keep: centered.mapInPandas(_proj_batches, schema=PROJ_SCHEMA),
    )
    # exact per-projection lower median (quantile_disc semantics: the
    # value at ascending rank ceil(n/2)) from the projection histogram;
    # 64 rows to the driver.
    k = (n_docs + 1) // 2
    pflat = proj.select(F.posexplode("pj").alias("p", "v"))
    phist = pflat.groupBy("p", "v").agg(F.count(F.lit(1)).alias("cnt"))
    pcum = (
        W.partitionBy("p").orderBy("v")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    med_rows = (
        phist.withColumn("cum", F.sum("cnt").over(pcum))
        .filter(F.col("cum") >= k)
        .groupBy("p")
        .agg(F.min("v").alias("m"))
        .collect()
    )
    med = {r["p"]: r["m"] for r in med_rows}
    blocks = [
        sum(
            (
                F.when(F.col("pj")[8 * j + b] > F.lit(med[8 * j + b]), 1)
                .otherwise(0)
                * (1 << (7 - b))
                for b in range(8)
            ),
            F.lit(0),
        ).cast("long")
        for j in range(8)
    ]
    v = proj.select("doc_id", F.array(*blocks).alias("ba"))
    return _mih64_tail(spark, v, "q175_image_projhash_neardup")
