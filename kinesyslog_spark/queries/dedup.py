r"""Near-duplicate detection over `documents` (north-star dedup family).

Three independent candidate-generation strategies, each verified with an
exact measure — the standard shape of dedup at 100 TB, where the all-pairs
cross product is impossible and the shuffle key must be a *bucket*:

- q26 MinHash + LSH banding   (shuffle key = band bucket)
- q27 SimHash + combo LSH     (shuffle key = 6-of-10-block combination
                               over bias-balanced blocks of the 64-bit
                               fingerprint; hamming<=4 leaves >=6 clean
                               blocks, so blocking loses no candidates —
                               see the SIMHASH_SNAKE_BLOCKS note)
- q28 char-n-gram Jaccard     (shuffle key = length band — near-dups have
                               near-equal length, a standard prefix filter;
                               dups here cross the lang column, so lang is
                               deliberately NOT a blocking key)

Each emits (doc_a, doc_b, measure) pairs, doc_a < doc_b, fully ordered.
Exact dedup (hash-groupBy) is q20 in queries/llm.py.

Scale notes:
- Candidate pairs are generated per-bucket, so the worst case is the
  largest bucket, not N². At 100 TB: raise bands/rows (q26), widen the
  block count (q27), narrow length bands (q28), and salt/cap hot buckets
  (boilerplate documents) before the self-join.
- Verification joins back to the per-doc shingle arrays by doc_id — two
  hash joins on the (small) candidate set, never a re-shuffle of the
  corpus.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesyslog_spark.operators.localframe import local_frame
from kinesyslog_spark.env import env_budget, env_int
from kinesyslog_spark.operators.text import (
    HEX_HIGH,
    TOKEN_RE,
    char_grams,
    fp_halves,
    hamming_from_halves,
    jaccard,
    lsh_band_keys,
    minhash_df,
    simhash_df,
    word_shingles,
)
from kinesyslog_spark.queries import query
from kinesyslog_spark.tables import artifact, hot_table, hot_tokens

MINHASH_K = 12
LSH_BANDS = 4
LSH_ROWS = 3
JACCARD_THR = 0.5
SIMHASH_BITS = 64
HAMMING_THR = 4
# q27 blocking: GENERALIZED pigeonhole over bias-balanced blocks
# (round-10 verdict #1 — the 5x13 contiguous scheme saturated).
#
# Why the old 5-block scheme died: SimHash sign bits are corpus-
# correlated — common tokens push every document's per-bit +-1 sums
# the same way, so a RANDOM doc pair agrees on ~0.72 of the bits
# (measured, tools/probe_simhash_blocking.py) instead of 0.5, and a
# 13-bit exact-match block collides 0.72^13 ~ 1.4% of all pairs:
# ~150x the uniform floor, Θ(N²) with a constant that reached 12.8B
# slots at sf10 (2.41B admitted + 10.4B cap-excluded).
#
# The probe killed every re-thresholding fix: median/rank-centered
# bits (the q175 playbook) make CHANCE agreement 0.5 but flip 17/64
# bits for TRUE pairs (near-dups differ in ~19% of tokens; only the
# bias-robust SIGN is stable for them), and widening to sign-of-256
# sha256 bits flips the extra dims at ~16% for pairs selected on
# ham64<=4. Blocking must use the SAME 64 sign bits the verify uses —
# and there the fix is combinatorial, not statistical:
#
#   B = 10 blocks; <= 4 errors leave >= 6 clean blocks, so keying
#   every C(10,6) = 210 6-block combination (~38-bit keys) preserves
#   EXACT recall at the threshold while each key is 3x wider than the
#   old 13-bit block. Chance collision per combo ~ 0.72^38.
#
# Two multipliers stack on top (both measured, all three SFs):
# - bias-BALANCED block assignment: bits ranked by corpus majority
#   count, dealt serpentine so every block carries an equal mix of
#   biased and balanced bits (AM-GM: the sum over combos of per-combo
#   collision products is minimized at equal block entropies).
# - distinct-fingerprint collapse: identical fps group BEFORE
#   blocking (their C(m,2) hamming-0 pairs are OUTPUT, not slots, and
#   a found group pair expands member x member — output-bound), so
#   boilerplate clusters never enter the quadratic.
#
# Measured admitted slots (sum C(n,2) over buckets, cap 10k):
#   sf0.1:  1.24M -> 67k;  sf1: 126.8M -> 6.0M;
#   sf10: 12.8B (2.41B adm + 10.4B cap-excl) -> 454M adm, 0 excl
# — 19-28x under the old family, nothing cap-excluded, and q27 now
# RUNS at the third decade under the default LSH_MAX_SLOTS budget.
SIMHASH_SNAKE_BLOCKS = 10
SIMHASH_COMBO_CLEAN = SIMHASH_SNAKE_BLOCKS - HAMMING_THR  # 6 per key


def _snake_assignment(pmaj: dict[int, int]) -> list[list[int]]:
    """Block assignment from per-bit majority counts: rank bits 1..64
    by majority count DESC (ties by bit index ASC), deal in serpentine
    order over SIMHASH_SNAKE_BLOCKS blocks. Returns the sorted bit
    list per block. Integer counts + pure rank arithmetic, so the
    DuckDB oracle reproduces it with one window function."""
    order = sorted(range(1, SIMHASH_BITS + 1),
                   key=lambda j: (-pmaj[j], j))
    nb = SIMHASH_SNAKE_BLOCKS
    blocks: list[list[int]] = [[] for _ in range(nb)]
    for r, j in enumerate(order):
        idx = r % (2 * nb)
        blocks[idx if idx < nb else 2 * nb - 1 - idx].append(j)
    return [sorted(b) for b in blocks]


def snake_blocks_for(grp: DataFrame) -> list[list[int]]:
    """Bias-balanced snake block assignment from a distinct-fingerprint
    frame (one NARROW aggregate — posexplode -> 64 groups with map-side
    combine; the 64-column wide form compiled a multi-second codegen
    method per call, the q166 lesson). 64 rows to the driver. Shared by
    the batch build (hot_simhash_groups) and the W34 streaming twin's
    frozen-artifact trainer — training and serving MUST rank bits with
    this one implementation."""
    stat_rows = (
        grp.select(
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.lit(SIMHASH_BITS)),
                    lambda j: (F.col("fp").substr(j, F.lit(1)) == "1")
                    .cast("int"),
                )
            ).alias("p", "b")
        )
        .groupBy("p")
        .agg(F.sum("b").alias("c1"), F.count(F.lit(1)).alias("d"))
        .collect()
    )
    pmaj = {
        int(r["p"]) + 1: max(int(r["c1"] or 0), int(r["d"]) - int(r["c1"] or 0))
        for r in stat_rows
    }
    for j in range(1, SIMHASH_BITS + 1):  # empty corpus: identity order
        pmaj.setdefault(j, 0)
    return _snake_assignment(pmaj)


def _simhash_combos() -> list[tuple[int, ...]]:
    from itertools import combinations

    return list(
        combinations(range(SIMHASH_SNAKE_BLOCKS), SIMHASH_COMBO_CLEAN)
    )


def _block_int_cols(blocks: list[list[int]]) -> list:
    """Each snake block as ONE long column built from the hi/lo halves
    by shift-and-mask (bit j is 1-based from the fingerprint's MSB):
    pure integer arithmetic, no per-bit string ops — the 210-combo
    projection below then folds plain longs. Bit order within a block
    is ascending j, matching the oracle's string_agg(... ORDER BY j)
    bijectively (same bits -> same value)."""
    def bit(j):
        if j <= 32:
            return F.shiftrightunsigned(F.col("hi"), 32 - j).bitwiseAND(
                F.lit(1)
            )
        return F.shiftrightunsigned(F.col("lo"), 64 - j).bitwiseAND(
            F.lit(1)
        )

    out = []
    for k, bs in enumerate(blocks):
        w = len(bs)
        acc = None
        for i, j in enumerate(bs):
            term = bit(j) * F.lit(1 << (w - 1 - i))
            acc = term if acc is None else acc + term
        out.append(acc.cast("long").alias(f"b{k}"))
    return out


def combo_keyed(blk: DataFrame) -> DataFrame:
    """(doc_id, hi, lo, cid, ckey) — one row per (rep, combo): the
    C(B,k) combination table joined as broadcast DATA (210 rows), with
    ckey packing the combo's 6 block values base-128 (every block is
    <= 7 bits wide), a 42-bit long — bijective with the block tuple,
    so equality matches the oracle's '|'-joined block strings (the
    oracle's cmember VALUES table is the same thing in SQL).

    Data, not expressions, deliberately: the first cut emitted the 210
    combos as an array-of-structs literal projection (~2.5k expression
    nodes), and Catalyst re-analyzed + re-codegen'd that tree on every
    plan build — several seconds of DRIVER time per q27 call at any
    SF. As a 210-row broadcast the combo table costs ~30 expression
    nodes and one BroadcastNestedLoopJoin."""
    spark = blk.sparkSession
    k = SIMHASH_COMBO_CLEAN
    cdf = local_frame(
        spark,
        [(cid, *combo) for cid, combo in enumerate(_simhash_combos())],
        "cid int, " + ", ".join(f"i{t} int" for t in range(k)),
    )
    ckey = None
    for t in range(k):
        term = F.element_at(F.col("ba"), F.col(f"i{t}") + 1) * F.lit(
            128 ** (k - 1 - t)
        )
        ckey = term if ckey is None else ckey + term
    return (
        blk.crossJoin(F.broadcast(cdf))
        .select(
            "doc_id", "hi", "lo", "cid",
            ckey.cast("long").alias("ckey"),
        )
    )
NGRAM_N = 5
LEN_BAND = 25
# q28/q117 blocking: 8 tables x 3-row bands — the (b, r) that LSH
# theory tunes to the jaccard 0.5 threshold ((1/b)^(1/r) = 0.5).
# 2-row bands collided chance pairs at j^2, which is CONSTANT per doc
# pair, so candidates grew Theta(N^2): the round-7 sf1 probe measured
# q117's decade ratio at 41x (165 s). At j^3 the chance rate drops
# 30-80x (typical cross-doc 5-gram jaccard is 1-5%) while every real
# dup family survives: the corpus' kept pairs all sit at j >= 0.8,
# where 1-(1-j^3)^8 >= 0.997; at the j=0.5 threshold recall is 0.66
# (vs 0.76 before) — a documented trade on a band no real pair
# occupies. Same asymptotics caveat as all fixed-(b,r) LSH: rows must
# grow ~log N to keep chance candidates subquadratic forever; the
# hot-bucket cap below bounds the damage per bucket either way.
#
# ROWS IS THE SCALE DIAL (SCALING_R9 decomposition): at fixed rows the
# per-pair chance collision rate is constant, so chance candidates are
# Theta(N^2) — measured sf1 -> sf10: verified pairs grew 10.2x (linear,
# planted-dup-bound) while REJECTED chance candidates grew 100x
# (39.5k -> 3.95M, 99.3% of the verify work at 500k docs), refuting the
# round-8 "output-bound" attribution. The fix is the documented
# rows ~ log N schedule, operational via SPARK_GRAFT_NGRAM_ROWS:
# rows=4 measured at sf10 cuts rejected 21.7x (3.95M -> 182k) and
# slots 12.6x while keeping 99.1% of verified output (26,699 ->
# 26,450; the lost pairs sit at the j=0.5 band edge where the rows=4
# collision curve is 0.40 — the standard LSH trade, now measured).
# Default stays 3 (exactly right through ~10^5 docs and what the
# pinned recall-floor tests certify); deployments at the 10^6-doc
# decade set 4. Both engines read this constant at oracle-registration
# time, so the dial keeps Spark and DuckDB in lockstep (verified:
# rows=4 oracle-green at sf0.01).
NGRAM_BANDS = 8
NGRAM_ROWS = env_int("SPARK_GRAFT_NGRAM_ROWS", 3)


def auto_ngram_rows(n_docs: int) -> int:
    """The rows ~ log10(N) schedule as a callable, for the engine-API
    path (callers OUTSIDE the registry that run ngram-style blocking on
    their own corpora and can derive the dial from the materialized
    signature count at call time — the same shape as graph.py's
    _pr_broadcast_cap deriving the broadcast cap from executor memory).
    The REGISTERED q28 deliberately keeps the constant NGRAM_ROWS: both
    engines read the dial at oracle-registration time, so a data-
    dependent value would break the Spark/DuckDB lockstep.

    3 rows through 10^5 docs (the regime the pinned recall-floor tests
    certify), then +1 per decade: 10^6 -> 4 (the measured sf10 setting:
    21.7x chance-candidate cut keeping 99.1% of output, SCALING_R9),
    10^7 -> 5, ... Chance-candidate mass stays ~subquadratic because the
    per-pair collision probability falls geometrically in rows while
    true pairs at jaccard >= 0.8 survive (1-(1-j^r)^8 stays >= 0.94
    through rows=6)."""
    import math

    if n_docs <= 100_000:
        return 3
    return 3 + (math.ceil(math.log10(n_docs)) - 5)
# Blocking shingles are LONGER than the verify shingles: the verify
# measure stays char-5-gram jaccard (the declared q28 semantic), but
# 5-grams are template-saturated on this corpus — random same-length
# doc pairs measure MEDIAN 5-gram jaccard 0.20, so even 3-row bands
# collide 6% of chance pairs and candidates grow quadratically (the
# sf1 probe: 9.6M candidates). 9-gram jaccard separates: chance pairs
# drop to median 0.03 (band collision 7e-4, an 87x cut) while every
# real kept pair measures >= 0.83 (band collision >= 0.999). Docs
# shorter than 9 chars leave the candidate universe (corpus min is 44).
NGRAM_BLOCK_N = 9
# Hot-bucket cap for all LSH self-joins (q26-q29, q38). A bucket of B
# members emits B^2 candidate pairs, so a single boilerplate bucket can
# dominate the job at corpus scale. The default is far above anything a
# test-SF corpus produces (oracle parity is unaffected) but bounds the
# worst bucket to ~10^8 pairs at 100 TB; tune per-corpus via env.
LSH_MAX_BUCKET: int | None = env_budget("SPARK_GRAFT_LSH_MAX_BUCKET", 10_000)
# Slot-budget fail-fast for the band-bucket expansion family (q26/q28
# and the q96/q117/q122/q163 compositions; q27's codegen self-join gets
# the same check) — the PHASH_MAX_SLOTS pattern from
# queries/imagehash.py applied to the last quadratic-capable pair
# expansion that lacked one (round-9 verdict). The expansion's emitted
# pair count is EXACTLY Σ C(n,2) over bucket occupancies (n = distinct
# members per bucket key), known from one cheap aggregate over the
# already-persisted signature frame before the expansion launches;
# cap-excluded buckets are subtracted, mirroring the size filter inside
# _pair_candidates. The hot-bucket cap bounds the worst BUCKET, not the
# total: q28's sf10 decomposition (SCALING_R9) measured chance
# candidates Θ(N²) at fixed rows with every bucket under the cap, so
# without this budget nothing stops a 10^7-doc corpus from launching
# the saturated join. Set to 0 to disable (unset keeps the default;
# malformed values fall back). The default (= PHASH_MAX_SLOTS') admits
# every family member at the certified sf1 decade (worst: q27 at 126.8M
# slots, which runs in ~13 s) and rejects the measured sf10 saturation
# (q27: 2.41B admitted + 10.4B already cap-excluded, 101x per decade —
# the guard trips in the ~27 s estimate pass instead; SCALING_R10.md).
LSH_MAX_SLOTS: int | None = env_budget(
    "SPARK_GRAFT_LSH_MAX_SLOTS", 500_000_000
)


def hot_shingles(spark, sf_dir: str) -> DataFrame:
    """Session artifact (doc_id, sh): word-3-gram shingle sets — the
    corpus shingle pass shared by the MinHash family (hot_shingle_sigs)
    AND the prefix-filter joins (resolution.hot_shingle_rank). One
    entry whichever family runs first, and a stored one (disk load)
    lands in the same entry, so the corpus shingles are resident once."""

    def build(keep):
        return (
            hot_tokens(spark, sf_dir)
            .filter(F.size("toks") >= 3)
            .select("doc_id", word_shingles(F.col("toks"), 3).alias("sh")),
        )

    return artifact(spark, sf_dir, "shingles", build,
                    knobs=(MINHASH_ARTIFACT_V, 3), store=True)[0]


def hot_shingle_sigs(spark, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Session artifacts (shingles, minhash signatures) over `documents` —
    the shared artifact of the whole MinHash family (q26 self-dedup, q96
    incremental dedup; a dedup service keeps exactly these materialized).
    Returns (sh: (doc_id, sh), sigs: (doc_id, mh0..mhK-1)), both
    persisted; released by `tables.release_hot`."""
    sh = hot_shingles(spark, sf_dir)
    sigs = artifact(
        spark, sf_dir, "minhash_sigs",
        lambda keep: (minhash_df(sh, ["doc_id"], "sh", MINHASH_K),),
        knobs=(MINHASH_ARTIFACT_V, MINHASH_K, 3), store=True,
    )[0]
    return sh, sigs


def _par(df: DataFrame) -> int:
    return df.sparkSession.sparkContext.defaultParallelism


def cap_hot_buckets(keyed: DataFrame, key_cols: list[str],
                    max_bucket: int | None,
                    id_col: str = "doc_id",
                    unique_ids: bool = False) -> DataFrame:
    """Drop buckets with more than `max_bucket` members before a bucket
    self-join.

    The standard skew guard for LSH candidate generation: a bucket of B
    members costs B^2 pairs, so one boilerplate bucket (empty documents,
    a template header) can dominate the whole job. Members of a dropped
    bucket can still pair through their *other* bands/blocks — recall
    degrades only for docs whose every band is hot, which at the default
    cap means near-identical boilerplate that exact dedup (q20) already
    collapses. The aggregation is a cheap count per bucket key +
    broadcast-sized anti-join.

    Bucket size is COUNT(DISTINCT id_col) — the same definition
    lsh_slot_estimate and _pair_candidates' in-aggregate size filter
    use, so the budget's admitted/excluded split always mirrors what
    this cap actually drops (a caller with duplicate (id, key) rows
    would otherwise see the two guards disagree). unique_ids=True is
    the same caller-guaranteed fast path as lsh_slot_estimate's: one
    row per (id, key) by construction -> COUNT(*), one shuffle."""
    if not max_bucket:
        return keyed
    n = F.count(F.lit(1)) if unique_ids else F.countDistinct(id_col)
    hot = (
        keyed.groupBy(*key_cols)
        .agg(n.alias("_n"))
        .filter(F.col("_n") > max_bucket)
        .select(*key_cols)
    )
    return keyed.join(F.broadcast(hot), on=key_cols, how="left_anti")


def lsh_slot_estimate(keyed: DataFrame, key_cols: list[str],
                      max_bucket: int | None,
                      side=None, unique_ids: bool = False) -> tuple[int, int]:
    """(admitted, cap_excluded) pair-slot counts for a band-bucket
    expansion over `keyed` — the exact arithmetic behind
    _lsh_slot_budget_check, exposed for the scale probes
    (tools/probe_lsh_slots.py). One aggregate; see the check's
    docstring for the bucket-kind arithmetic.

    unique_ids=True asserts the caller CONSTRUCTED keyed with at most
    one row per (doc_id, *key_cols) — e.g. one explode of a distinct
    per-doc frame — letting bucket size be COUNT(*) instead of
    COUNT(DISTINCT doc_id). Same number by the invariant, but the
    distinct form shuffles the frame twice (measured 28 s vs 8 s on
    q27's 10.5M-row combo frame at sf1). cap_hot_buckets takes the
    same flag so the two guards keep one bucket-size definition."""
    g = keyed.groupBy(*key_cols)
    if side is None:
        n = (F.count(F.lit(1)) if unique_ids
             else F.countDistinct("doc_id"))
        counts = g.agg(n.alias("n"))
        slots = (F.col("n") * (F.col("n") - 1) / 2).cast("double")
        total = F.col("n")
    else:
        counts = g.agg(
            F.countDistinct(F.when(side, F.col("doc_id"))).alias("n1"),
            F.countDistinct(F.when(~side, F.col("doc_id"))).alias("n0"),
        )
        slots = (F.col("n1") * F.col("n0")).cast("double")
        total = F.col("n1") + F.col("n0")
    skipped = (total > F.lit(max_bucket)) if max_bucket else F.lit(False)
    row = counts.agg(
        F.sum(F.when(~skipped, slots).otherwise(F.lit(0.0))).alias("adm"),
        F.sum(F.when(skipped, slots).otherwise(F.lit(0.0))).alias("cap"),
    ).collect()[0]
    return int(row["adm"] or 0), int(row["cap"] or 0)


def _lsh_slot_budget_check(name: str, keyed: DataFrame, key_cols: list[str],
                           max_bucket: int | None, side=None,
                           cache_key=None, family: str | None = None,
                           unique_ids: bool = False) -> tuple[int, int]:
    """Fail fast if a band-bucket expansion would emit more candidate
    pair slots than LSH_MAX_SLOTS.

    `keyed` is the exploded (doc_id, *key_cols) bucket frame BEFORE the
    hot-bucket cap. The estimate mirrors the expansion bit-for-bit:
    per bucket of n distinct members, the self-join family
    (_pair_candidates / q27's codegen join) emits C(n, 2) ordered pairs
    pre-distinct; with `side` given (q96's asymmetric new-vs-old probe)
    a bucket with n1 new and n0 old members emits n1*n0. Buckets the
    hot-bucket cap excludes (total membership > max_bucket) are
    subtracted — so the admitted number IS the expansion's emitted pair
    count, not an upper bound. One aggregate over the (persisted)
    signature frame; only distinct bucket keys cross the wire thanks to
    partial aggregation."""
    if not LSH_MAX_SLOTS:
        return (-1, -1)  # disabled: nothing measured
    from kinesyslog_spark.queries.resolution import CandidateBudgetExceeded

    def estimate(keep):
        return lsh_slot_estimate(keyed, key_cols, max_bucket, side=side,
                                 unique_ids=unique_ids)

    # The estimate is a pure function of (corpus, blocking family, cap)
    # and reads a session artifact; re-running the aggregate on every
    # query call measured ~1 s at sf0.1 (a 12% headline hit on q26). So
    # a caller naming its corpus (cache_key) gets a session artifact
    # per blocking FAMILY, not caller: q26/q163 (identical minhash
    # bands frame) share one estimate.
    adm, cap = (
        artifact(keyed.sparkSession, cache_key, f"slots:{family or name}",
                 estimate, knobs=(max_bucket,))
        if cache_key is not None else estimate(None)
    )
    if adm > LSH_MAX_SLOTS:
        raise CandidateBudgetExceeded(
            f"{name} band-bucket expansion would emit ~{adm:,} candidate "
            f"pair slots (budget {LSH_MAX_SLOTS:,}; a further "
            f"~{cap:,} already excluded by the hot-bucket "
            "cap). Fixed-(bands, rows) LSH collides chance pairs at a "
            "constant per-pair rate, so slots grow Θ(N²) in corpus size "
            "(SCALING_R9/R10) — at this scale raise the blocking "
            "selectivity (SPARK_GRAFT_NGRAM_ROWS for the n-gram family: "
            "rows ~ log N keeps chance candidates subquadratic, rows=4 "
            "measured a 21.7x cut at 500k docs keeping 99.1% of output; "
            "more/wider blocks for SimHash), use the recall-bounded "
            "streaming twin (W9 continuous near-dup dedups within a "
            "horizon at O(new) cost), lower SPARK_GRAFT_LSH_MAX_BUCKET, "
            "or raise SPARK_GRAFT_LSH_MAX_SLOTS."
        )
    return adm, cap


_USE_GLOBAL_CAP = object()  # sentinel: resolve LSH_MAX_BUCKET at call time


def _pair_candidates(keyed: DataFrame, key_cols: list[str],
                     max_bucket=_USE_GLOBAL_CAP,
                     name: str = "LSH",
                     budget_cache_key=None,
                     budget_family: str | None = None,
                     unique_ids: bool = False) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs sharing every key column.

    One groupBy per bucket key collects the member set, applies the
    hot-bucket cap as a size filter *inside the same aggregate* (no
    separate count + anti-join pass), and expands each bucket's sorted
    member array into its ordered pairs with array expressions — a
    single shuffle where the former self-join formulation needed a
    count, an anti-join, two explicit repartitions and a join.

    The quadratic expansion still runs one task per bucket (hash
    partitioning on the bucket key), so the skew bound is unchanged: the
    worst bucket costs |bucket|^2 pairs, which is exactly what the cap
    limits. The explicit repartition before the expansion keeps the
    bytes-small bucket table wide under AQE (the expansion is
    compute-heavy, output-quadratic)."""
    if max_bucket is _USE_GLOBAL_CAP:
        max_bucket = LSH_MAX_BUCKET
    _lsh_slot_budget_check(name, keyed, key_cols, max_bucket,
                           cache_key=budget_cache_key,
                           family=budget_family,
                           unique_ids=unique_ids)
    members = (
        keyed.groupBy(*key_cols)
        .agg(F.array_sort(F.collect_set("doc_id")).alias("_ms"))
        .filter(F.size("_ms") >= 2)
    )
    if max_bucket:
        members = members.filter(F.size("_ms") <= max_bucket)
    ms = F.col("_ms")
    pairs = F.flatten(
        F.transform(
            ms,
            lambda a, i: F.transform(
                F.slice(ms, i + F.lit(2), F.size(ms)),
                lambda b: F.struct(a.alias("doc_a"), b.alias("doc_b")),
            ),
        )
    )
    # Pair dedup rides the SAME exchange that spreads the verify: a
    # user-specified hash repartition on (doc_a, doc_b) both satisfies
    # dropDuplicates' clustering requirement (no second exchange) and is
    # exempt from AQE coalescing, so the downstream per-pair verify
    # stays wide without _verify_jaccard's former extra round-robin
    # repartition. The old tail (.distinct() then repartition in the
    # verify) paid two full exchanges of the pair frame (guide §2.4).
    return (
        members.repartition(_par(keyed))
        .select(F.explode(pairs).alias("_p"))
        .select("_p.doc_a", "_p.doc_b")
        .repartition(_par(keyed), "doc_a", "doc_b")
        .dropDuplicates()
    )


def _verify_jaccard(cand: DataFrame, sh: DataFrame, thr: float,
                    ordered: bool = True) -> DataFrame:
    """Join shingle arrays back by doc_id and keep exact Jaccard >= thr.

    cand (_pair_candidates output) arrives already hash-repartitioned
    wide on (doc_a, doc_b) — a user repartition AQE will not coalesce —
    so the per-pair array_intersect verify runs wide with no extra
    exchange here. The shingle sides broadcast (runtime-sized by
    AQE). ordered=False skips the output sort for callers that persist
    or re-aggregate the pairs (the sort would be a wasted range
    exchange there)."""
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    out = (
        cand.join(a, "doc_a").join(b, "doc_b")
        .select("doc_a", "doc_b", F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 4).alias("jaccard"))
        .filter(F.col("jaccard") >= thr)
    )
    return out.orderBy("doc_a", "doc_b") if ordered else out


# ---------------------------------------------------------------------------
# Q26 — MinHash + LSH banding (word 3-gram shingles)
# ---------------------------------------------------------------------------

def _mh_expr(i: int, src: str = "sh") -> str:
    """DuckDB twin of minhash_df's two-hash scheme (operators/text.py)."""
    h1 = "CAST('0x' || substring(md5(s), 1, 10) AS BIGINT)"
    h2 = "CAST('0x' || substring(md5(s), 11, 10) AS BIGINT)"
    return (
        f"list_min(list_transform({src}, s -> ({h1} + {i} * {h2}) % {1 << 40}))"
    )


def minhash_vpairs_cte() -> str:
    """CTE chain ending in `vpairs(doc_a, doc_b, jaccard)` — the
    VERIFIED MinHash near-dup pairs. Shared by the q26 oracle and any
    oracle that composes near-dup pairs (q163's split-leakage audit)."""
    sig = ",\n      ".join(_mh_expr(i) for i in range(MINHASH_K))
    bands = ", ".join(str(b) for b in range(LSH_BANDS))
    return f"""tk AS (
      SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks FROM documents
    ), docs AS (
      SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
             i -> array_to_string(toks[i:i+2], ' '))) AS sh
      FROM tk WHERE len(toks) >= 3
    ), sigs AS (
      SELECT doc_id, [{sig}] AS sig FROM docs
    ), bands AS (
      SELECT doc_id, b.band_idx,
             md5(sig[{LSH_ROWS}*b.band_idx + 1]::VARCHAR || ',' || sig[{LSH_ROWS}*b.band_idx + 2]::VARCHAR
                 || ',' || sig[{LSH_ROWS}*b.band_idx + 3]::VARCHAR) AS band_key
      FROM sigs CROSS JOIN (SELECT unnest([{bands}]) AS band_idx) b
    ), cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM bands x JOIN bands y
        ON x.band_idx = y.band_idx AND x.band_key = y.band_key AND x.doc_id < y.doc_id
    ), vpairs AS (
      SELECT doc_a, doc_b, jaccard FROM (
        SELECT doc_a, doc_b,
          ROUND(len(list_intersect(a.sh, b.sh)) /
            CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE), 4) AS jaccard
        FROM cand JOIN docs a ON a.doc_id = cand.doc_a JOIN docs b ON b.doc_id = cand.doc_b
      ) WHERE jaccard >= {JACCARD_THR}
    )"""


def _minhash_oracle() -> str:
    return f"""
    WITH {minhash_vpairs_cte()}
    SELECT doc_a, doc_b, jaccard FROM vpairs
    ORDER BY doc_a, doc_b
    """


def hot_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session artifact: the verified MinHash pair graph — the
    MinHash-family artifact (the hot_simhash_pairs / hot_image_pairs
    pattern). Six consumers (q26's report, q40/q107 via cluster_labels,
    q163's leakage count, q172's recall audit, q173's threshold sweep,
    q177's provenance rollup) each re-derived the band + candidate +
    verify plan per call; one persisted build per session serves them
    all, and the candidate expansion + exact-Jaccard verify run once.
    Keyed on the effective budget knobs so a re-tuned cap rebuilds
    instead of returning pairs computed under the old guard."""

    def build(keep):
        # Shingles + signatures are the family's session artifacts
        # (hot_shingle_sigs): the shingling (interpreted, HOF-heavy)
        # and the explode+MIN signature aggregation run once per
        # session and are shared with q96's incremental dedup.
        sh, sigs = hot_shingle_sigs(spark, sf_dir)
        # bands is read TWICE in the build (slot-budget estimate +
        # member aggregate): keep the skinny (doc_id, band_idx,
        # band_key) frame for the two passes instead of re-running the
        # band-key md5 explode; the registry drops it once the pairs
        # are materialized, or when the budget check raises (guide §5:
        # persist only what >=2 consumers read, for exactly as long as
        # they read it). unique_ids=True: sigs is one row per doc and
        # the explode emits distinct band_idx values, so the
        # bucket-size aggregate can run COUNT(*) in ONE shuffle instead
        # of COUNT(DISTINCT doc_id)'s two.
        bands = keep(sigs.select(
            "doc_id",
            F.explode(
                lsh_band_keys([f"mh{i}" for i in range(MINHASH_K)], LSH_BANDS, LSH_ROWS)
            ).alias("bd"),
        ).select("doc_id", "bd.band_idx", "bd.band_key"))
        cand = _pair_candidates(bands, ["band_idx", "band_key"],
                                name="q26_minhash_lsh",
                                budget_cache_key=sf_dir.rstrip("/"),
                                budget_family="minhash_bands",
                                unique_ids=True)
        # Unordered build: every consumer either persists (here), joins,
        # or re-aggregates — q26 alone re-sorts its 0(pairs) report.
        return _verify_jaccard(cand, sh, JACCARD_THR, ordered=False)

    return artifact(spark, sf_dir, "minhash_pairs", build,
                    knobs=(LSH_MAX_BUCKET, LSH_MAX_SLOTS))


@query("q26_minhash_lsh", oracle=_minhash_oracle())
def q26_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hot_minhash_pairs(spark, sf_dir).orderBy("doc_a", "doc_b")


# ---------------------------------------------------------------------------
# Q27 — SimHash fingerprint + block LSH, Hamming-distance verify
# ---------------------------------------------------------------------------

def simhash_ham_sql(fa: str = "fa", fb: str = "fb") -> str:
    """64-term hamming over two '0'/'1' fingerprint columns (DuckDB)."""
    return " + ".join(
        f"(CASE WHEN substring({fa}, {j}, 1) <> substring({fb}, {j}, 1)"
        " THEN 1 ELSE 0 END)"
        for j in range(1, SIMHASH_BITS + 1)
    )


def simhash_pairs_ctes() -> str:
    """CTE chain ending in `allpairs(doc_a, doc_b, hamming)` — the full
    q27 pipeline in DuckDB (fps, distinct-fp grp, bias-balanced snake
    block assignment, C(10,6) combo keys, candidate group pairs,
    hamming verify, member expansion). Shared by the q27 oracle and
    the q181 recall audit (which also reads fps/grp/ckeys for its
    missed-pair attribution)."""
    high = ", ".join(f"'{h}'" for h in HEX_HIGH)
    bit = (
        "CASE WHEN list_sum(list_transform(hl, h -> CASE WHEN substring(h, {j}, 1)"
        f" IN ({high}) THEN 1 ELSE -1 END)) > 0 THEN '1' ELSE '0' END"
    )
    fp = " || ".join(bit.format(j=j) for j in range(1, SIMHASH_BITS + 1))
    ham = simhash_ham_sql()
    nb = SIMHASH_SNAKE_BLOCKS
    cmember = ", ".join(
        f"({cid}, {blk})"
        for cid, combo in enumerate(_simhash_combos())
        for blk in combo
    )
    return f"""tk AS (
      SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks FROM documents
    ), hs AS (
      SELECT doc_id, list_transform(toks, t -> sha256(t)) AS hl FROM tk WHERE len(toks) >= 1
    ), fps AS MATERIALIZED (
      SELECT doc_id, ({fp}) AS fp FROM hs
    ), grp AS MATERIALIZED (
      -- distinct-fingerprint collapse: blocking runs on distinct fps
      SELECT fp, MIN(doc_id) AS rep, list_sort(list(doc_id)) AS members
      FROM fps GROUP BY fp
    ), ham0 AS (
      -- identical fingerprints pair directly (hamming 0), never
      -- entering the blocking quadratic
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, 0 AS hamming
      FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
    ), bitstats AS MATERIALIZED (
      -- per-bit majority count over DISTINCT fps (integer, so both
      -- engines rank identically)
      SELECT jt.range AS j,
             SUM(CASE WHEN substring(g.fp, CAST(jt.range AS INT), 1) = '1'
                 THEN 1 ELSE 0 END) AS c1,
             COUNT(*) AS d
      FROM grp g CROSS JOIN range(1, {SIMHASH_BITS + 1}) jt
      GROUP BY jt.range
    ), rk AS (
      SELECT j, ROW_NUMBER() OVER
        (ORDER BY GREATEST(c1, d - c1) DESC, j ASC) - 1 AS r
      FROM bitstats
    ), asg AS MATERIALIZED (
      -- serpentine deal of the bias-ranked bits over {nb} blocks
      SELECT CAST(j AS INT) AS j,
             CASE WHEN r % {2 * nb} < {nb} THEN r % {2 * nb}
                  ELSE {2 * nb - 1} - (r % {2 * nb}) END AS blk
      FROM rk
    ), blocks AS MATERIALIZED (
      SELECT g.rep, a.blk,
             string_agg(substring(g.fp, a.j, 1), '' ORDER BY a.j) AS bv
      FROM grp g CROSS JOIN asg a
      GROUP BY g.rep, a.blk
    ), cmember(cid, blk) AS (VALUES {cmember}
    ), ckeys AS MATERIALIZED (
      SELECT bl.rep, cm.cid,
             string_agg(bl.bv, '|' ORDER BY bl.blk) AS ckey
      FROM blocks bl JOIN cmember cm ON cm.blk = bl.blk
      GROUP BY bl.rep, cm.cid
    ), cand AS (
      SELECT DISTINCT x.rep AS rep_a, y.rep AS rep_b
      FROM ckeys x JOIN ckeys y
        ON x.cid = y.cid AND x.ckey = y.ckey AND x.rep < y.rep
    ), gp AS MATERIALIZED (
      SELECT rep_a, rep_b, ({ham}) AS hamming FROM (
        SELECT c.rep_a, c.rep_b, a.fp AS fa, b.fp AS fb
        FROM cand c JOIN grp a ON a.rep = c.rep_a
                    JOIN grp b ON b.rep = c.rep_b
      ) WHERE ({ham}) <= {HAMMING_THR}
    ), mem AS (
      SELECT rep, unnest(members) AS doc FROM grp
    ), cross_pairs AS (
      SELECT LEAST(ma.doc, mb.doc) AS doc_a,
             GREATEST(ma.doc, mb.doc) AS doc_b, gp.hamming
      FROM gp JOIN mem ma ON ma.rep = gp.rep_a
              JOIN mem mb ON mb.rep = gp.rep_b
    ), allpairs AS (
      SELECT * FROM ham0 UNION ALL SELECT * FROM cross_pairs
    )"""


def _simhash_oracle() -> str:
    return f"""
    WITH {simhash_pairs_ctes()}
    SELECT doc_a, doc_b, hamming FROM allpairs
    ORDER BY doc_a, doc_b
    """


SIMHASH_ARTIFACT_V = 1  # bump when fingerprint/snake/tokenize changes
MINHASH_ARTIFACT_V = 1  # bump when shingle/signature/tokenize changes


def _simhash_knobs() -> tuple:
    """Everything the SimHash family artifact depends on besides the
    corpus: its artifact knobs and its disk-store scheme."""
    return (SIMHASH_ARTIFACT_V, SIMHASH_BITS, SIMHASH_SNAKE_BLOCKS,
            SIMHASH_COMBO_CLEAN)


def hot_simhash_groups(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Session-memoized SimHash family artifacts — the q26-style
    hot_shingle_sigs contract for the SimHash side. Returns
    (grp, blk), both persisted; released by `tables.release_hot`;
    stored on disk when SPARK_GRAFT_ARTIFACT_DIR is set.

    grp: one row per DISTINCT fingerprint — (fp, rep = min doc_id,
    members sorted array, hi/lo int halves). The distinct-fp collapse:
    identical fps pair directly (hamming 0, output-bound) and never
    enter the blocking quadratic.

    blk: (doc_id = rep, hi, lo, ba array<long>[10]) — the bias-
    balanced snake blocks as small longs. The snake assignment comes from one NARROW
    aggregate over grp (posexplode -> 64 groups with map-side combine;
    the 64-column wide form compiled a multi-second codegen method per
    call — the q166 lesson), integer majority counts so the oracle's
    bitstats/rk/asg CTEs rank identically; 64 rows to the driver (the
    q175 median-collect pattern). The budget estimate and both
    self-join branches explode combo keys from this cached frame with
    pure long arithmetic (the first cut concatenated bit STRINGS per
    combo, inlining ~8k substring nodes into one codegen method —
    4.7 s of compile at sf0.1)."""

    def build(keep):
        toks = hot_tokens(spark, sf_dir).filter(F.size("toks") >= 1)
        hi, lo = fp_halves(F.col("fp"))
        # kept: the snake assignment below aggregates over grp, then
        # blk derives from it
        grp = keep(
            simhash_df(toks, ["doc_id"], "toks")
            .groupBy("fp")
            .agg(
                F.min("doc_id").alias("rep"),
                F.array_sort(F.collect_list("doc_id")).alias("members"),
            )
            .select("fp", "rep", "members", hi.alias("hi"), lo.alias("lo"))
        )
        blk = grp.select(
            F.col("rep").alias("doc_id"), "hi", "lo",
            F.array(*_block_int_cols(snake_blocks_for(grp))).alias("ba"),
        )
        return grp, blk

    return artifact(spark, sf_dir, "simhash_groups", build,
                    knobs=_simhash_knobs(), store=True)


@query("q27_simhash_pairs", oracle=_simhash_oracle())
def q27_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    grp, blk = hot_simhash_groups(spark, sf_dir)
    # identical-fp groups emit their C(m,2) pairs directly (hamming 0):
    # OUTPUT, not candidate slots — boilerplate clusters never enter
    # the blocking quadratic (same expansion idiom as _pair_candidates)
    ms = F.col("members")
    in_group = F.flatten(
        F.transform(
            ms,
            lambda a, i: F.transform(
                F.slice(ms, i + F.lit(2), F.size(ms)),
                lambda b: F.struct(a.alias("doc_a"), b.alias("doc_b")),
            ),
        )
    )
    ham0 = (
        grp.filter(F.size(ms) >= 2)
        .select(F.explode(in_group).alias("_p"))
        .select(
            "_p.doc_a", "_p.doc_b",
            F.lit(0).cast("int").alias("hamming"),
        )
    )
    # C(10,6) combo keys (42-bit longs) — generalized pigeonhole:
    # <= 4 errors leave >= 6 clean blocks, so every true pair matches
    # at least one combo exactly (recall stays EXACT, see the scheme
    # note at SIMHASH_SNAKE_BLOCKS)
    keyed = combo_keyed(blk)
    # abort needs no cleanup: grp/blk are SESSION artifacts
    # (hot_simhash_groups, released by tables.release_hot), and nothing
    # is persisted per-call
    _adm, cap_excl = _lsh_slot_budget_check(
        "q27_simhash_pairs", keyed, ["cid", "ckey"], LSH_MAX_BUCKET,
        cache_key=sf_dir.rstrip("/"), family="simhash_combos",
        unique_ids=True,  # one row per (rep, combo) by construction
    )
    if cap_excl != 0:
        # only pay the anti-join pass when the (memoized) estimate saw
        # a hot bucket — at every measured SF through sf10 the combo
        # keys leave nothing cap-excluded, so this is normally skipped
        keyed = cap_hot_buckets(keyed, ["cid", "ckey"], LSH_MAX_BUCKET,
                                unique_ids=True)
    # codegen self-join on the combo key carrying the hi/lo halves, so
    # the verify never re-joins the corpus; hamming is evaluated and
    # thresholded BEFORE the distinct so fingerprints never shuffle
    n_par = _par(grp)
    x = keyed.select(
        "cid", "ckey", F.col("doc_id").alias("rep_a"),
        F.col("hi").alias("hi_a"), F.col("lo").alias("lo_a"),
    ).repartition(n_par, "cid", "ckey")
    y = keyed.select(
        "cid", "ckey", F.col("doc_id").alias("rep_b"),
        F.col("hi").alias("hi_b"), F.col("lo").alias("lo_b"),
    ).repartition(n_par, "cid", "ckey")
    gpairs = (
        x.join(y, on=["cid", "ckey"])
        .filter(F.col("rep_a") < F.col("rep_b"))
        .select(
            "rep_a", "rep_b",
            hamming_from_halves(
                F.col("hi_a"), F.col("lo_a"), F.col("hi_b"), F.col("lo_b")
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= HAMMING_THR)
        .distinct()
    )
    # expand found group pairs to member pairs — output-bound (every
    # emitted row is a true pair; a doc pair lives in exactly one
    # group pair, so no distinct is needed)
    mem_a = grp.select(F.col("rep").alias("rep_a"), F.explode("members").alias("da"))
    mem_b = grp.select(F.col("rep").alias("rep_b"), F.explode("members").alias("db"))
    cross = (
        gpairs.join(mem_a, "rep_a")
        .join(mem_b, "rep_b")
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            "hamming",
        )
    )
    return ham0.unionByName(cross).orderBy("doc_a", "doc_b")


# ---------------------------------------------------------------------------
# Q28 — character-n-gram Jaccard with (lang, length-band) blocking
# ---------------------------------------------------------------------------
# Length banding is a principled prefix filter: Jaccard >= t implies
# |len_a - len_b| is bounded, so near-dup pairs land in the same or
# adjacent band (each doc is emitted into both), and distant-length pairs
# are never even candidates.

def _ngram_block_ctes() -> str:
    """WITH-body through `cand` — q28's char-5-gram band blocking,
    shared with q117's edit-distance verify (same candidate space,
    different similarity measure)."""
    bands = ", ".join(str(b) for b in range(NGRAM_BANDS))
    return f"""
    docs AS (
      SELECT doc_id, lang, length(text) AS n,
             list_distinct(list_transform(range(1, length(text) - {NGRAM_N - 2}),
                 i -> text[i:i+{NGRAM_N - 1}])) AS sh,
             list_distinct(list_transform(range(1, length(text) - {NGRAM_BLOCK_N - 2}),
                 i -> text[i:i+{NGRAM_BLOCK_N - 1}])) AS sh_b
      FROM documents WHERE length(text) >= {NGRAM_BLOCK_N}
    ), keyed AS (
      SELECT doc_id, n, sh,
             [{", ".join(_mh_expr(i, "sh_b") for i in range(NGRAM_BANDS * NGRAM_ROWS))}] AS sig
      FROM docs
    ), blocked AS (
      SELECT doc_id, n, t.t,
             md5({" || ',' || ".join(
                 f"sig[{NGRAM_ROWS}*t.t + {r + 1}]::VARCHAR"
                 for r in range(NGRAM_ROWS)
             )}) AS bk,
             n // {LEN_BAND} + o.off AS bucket
      FROM keyed
      CROSS JOIN (SELECT unnest([0, 1]) AS off) o
      CROSS JOIN (SELECT unnest([{bands}]) AS t) t
    ), cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM blocked x JOIN blocked y
        ON x.t = y.t AND x.bk = y.bk AND x.bucket = y.bucket AND x.doc_id < y.doc_id
      WHERE abs(x.n - y.n) <= {LEN_BAND}
    )"""


def _ngram_oracle() -> str:
    return f"""
    WITH {_ngram_block_ctes()}
    SELECT doc_a, doc_b, jaccard FROM (
      SELECT doc_a, doc_b,
        ROUND(len(list_intersect(a.sh, b.sh)) /
          CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE), 4) AS jaccard
      FROM cand JOIN docs a ON a.doc_id = cand.doc_a JOIN docs b ON b.doc_id = cand.doc_b
    ) WHERE jaccard >= {JACCARD_THR}
    ORDER BY doc_a, doc_b
    """


def ngram_candidates_frame(
    docs: DataFrame,
    keep,
    rows: int | None = None,
    name: str = "ngram_candidates",
    budget_cache_key=None,
) -> tuple[DataFrame, DataFrame, int]:
    """Engine-API form of q28's blocking over an ARBITRARY
    (doc_id, text) frame: returns (cand, base, rows_used) where cand =
    distinct (doc_a < doc_b) candidate pairs and base = (doc_id, n, sh),
    both persisted through `keep` (an artifact build's callback, or
    tables.scratch() for a one-shot caller), which also owns the
    signature frame the expansion reads.

    rows=None derives the LSH rows dial from the MATERIALIZED
    signature count via auto_ngram_rows — the graph.py pattern of
    deriving a scale dial from the data at call time, so an engine-API
    caller with a 500k-doc frame gets rows=4 (the measured sf10
    setting) without knowing about SPARK_GRAFT_NGRAM_ROWS. The
    REGISTERED q28 path passes rows=NGRAM_ROWS explicitly: its DuckDB
    oracle reads the same constant at registration time, so a
    data-dependent value there would break engine/oracle lockstep.

    Blocking = length band (prefix filter) AND a rows-row MinHash band
    agreeing in one of NGRAM_BANDS tables; see the constants' note for
    the chance-candidate math. The bands*rows minhash coordinates cost
    the same explode+md5 pass regardless of rows (two-hash scheme:
    extra coordinates are extra MIN aggregates, not extra hashes).
    Pair expansion is the grouped single-shuffle form (high-entropy-key
    rule: md5 band keys make near-singleton buckets). The
    |na - nb| <= LEN_BAND refinement rides the caller's verify join —
    blocking already bounds it below 2 bands, and the n column is on
    the same persisted row as the shingles."""
    docs = docs.filter(F.length("text") >= NGRAM_BLOCK_N)
    # Persisted: feeds both verify-join sides (5-gram shingles — the
    # declared similarity measure) AND, when rows is underived, the
    # count that picks the dial.
    base = keep(
        docs.select(
            "doc_id",
            F.length("text").alias("n"),
            char_grams(F.col("text"), NGRAM_N).alias("sh"),
        )
    )
    if rows is None:
        rows = auto_ngram_rows(keep.count(base))
    # Blocking signatures run over the LONGER 9-gram shingles (see the
    # NGRAM_BLOCK_N note): same minhash machinery, different gram size.
    keyed = keep(
        minhash_df(
            docs.select(
                "doc_id",
                F.length("text").alias("n"),
                char_grams(F.col("text"), NGRAM_BLOCK_N).alias("sh_b"),
            ),
            ["doc_id", "n"],
            "sh_b",
            NGRAM_BANDS * rows,
        )
    )
    blocked = (
        keyed.select(
            "doc_id", "n",
            F.explode(
                lsh_band_keys(
                    [f"mh{i}" for i in range(NGRAM_BANDS * rows)],
                    NGRAM_BANDS, rows,
                )
            ).alias("bd"),
            ((F.col("n") / LEN_BAND).cast("int")).alias("b0"),
        )
        .select(
            "doc_id", "n",
            F.col("bd.band_idx").alias("t"),
            F.col("bd.band_key").alias("bk"),
            F.explode(F.array(F.col("b0"), F.col("b0") + 1)).alias("bucket"),
        )
    )
    # unique_ids=True: one keyed row per (doc, n) and the explode emits
    # distinct (t, bucket) per doc, so bucket size is a plain COUNT(*) —
    # one shuffle instead of COUNT(DISTINCT doc_id)'s two in the slot
    # estimate (the q27 combo-frame lesson: 28 -> 8 s at sf1). The
    # estimate's family carries the actual rows dial, so derived-rows
    # callers never share an estimate across dials. keyed feeds ONLY
    # the expansion: its owner drops it once cand is live, or on the
    # budget abort.
    cand = keep(
        _pair_candidates(blocked, ["t", "bk", "bucket"],
                         name=name,
                         budget_cache_key=budget_cache_key,
                         budget_family=f"ngram_bands:rows={rows}",
                         unique_ids=True)
    )
    return cand, base, rows


def ngram_candidates(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """q28's registered blocking: ngram_candidates_frame over the
    `documents` table at the oracle-lockstep NGRAM_ROWS dial. Shared
    with q117's edit-distance verify.

    Session artifact (cand, base): every q28/q117 call previously
    re-ran the whole shingle + signature + expansion build — a fresh
    candidate build per bench run where one per session suffices.
    Keyed on the budget knobs (the hot_minhash_pairs pattern)."""

    def build(keep):
        cand, base, _rows = ngram_candidates_frame(
            hot_table(spark, sf_dir, "documents"), keep,
            rows=NGRAM_ROWS,
            name="q28_ngram_jaccard",
            budget_cache_key=sf_dir.rstrip("/"),
        )
        return cand, base

    return artifact(spark, sf_dir, "ngram_candidates", build,
                    knobs=(NGRAM_ROWS, LSH_MAX_BUCKET, LSH_MAX_SLOTS))


@query("q28_ngram_jaccard", oracle=_ngram_oracle())
def q28_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    cand, base = ngram_candidates(spark, sf_dir)
    a = base.select(
        F.col("doc_id").alias("doc_a"), F.col("n").alias("na"),
        F.col("sh").alias("sh_a"),
    )
    b = base.select(
        F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"),
        F.col("sh").alias("sh_b"),
    )
    # cand arrives persisted and already hash-partitioned wide on
    # (doc_a, doc_b) by the build (ngram_candidates memo) — a per-run
    # repartition here would add a redundant exchange over the cache.
    return (
        cand
        .join(a, "doc_a").join(b, "doc_b")
        .filter(F.abs(F.col("na") - F.col("nb")) <= LEN_BAND)
        .select(
            "doc_a", "doc_b",
            F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_THR)
        .orderBy("doc_a", "doc_b")
    )
