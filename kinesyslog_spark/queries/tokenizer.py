"""Q83 — BPE tokenizer-trainer merges (the HuggingFace-trainer shape).

Byte-pair-encoding induction over the corpus: count word frequencies
ONCE (the only corpus-scale pass), then run BPE_ROUNDS merge rounds
over the vocabulary table — each round counts adjacent symbol pairs
weighted by word frequency, picks the most frequent pair
(tie-break: count DESC, s1 ASC, s2 ASC), and fuses every non-
overlapping occurrence left-to-right. Output: one row per round
(rnd, s1, s2, merged, cnt) — the learned merge table, which IS a BPE
tokenizer.

Exact-canonical merge application with a single string replace():
symbol sequences are stored as double-space-joined strings with
double-space sentinels ("  h  e  y  "), and a merge of (a, b) is
`replace(rep, ' a  b ', ' ab ')`. The pattern consumes one space of
each boundary and the replacement restores it, so consecutive
occurrences ("a a a a") all merge in ONE leftmost scan — byte-for-byte
the canonical BPE merge pass, with identical semantics in Spark
(`F.replace`) and DuckDB (`replace`), no regex, no iteration.

Scale notes (100 TB posture): this is how production BPE trainers
work — the corpus is touched exactly once (token hash-aggregate with
map-side combine); every merge round then runs on the VOCABULARY table
(orders of magnitude smaller; persisted), with a driver round-trip per
round collecting one (s1, s2, cnt) scalar — the same O(1)-per-round
driver traffic as k-means' centroids (q77). Pair counting per round is
a map-side-combined hash aggregate over vocab-sized input.

Reference parity: no analog (the reference is a relay); extends the
SURVEY §2b LLM-pipeline inventory (token counting q22/q33's training-
side sibling).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesyslog_spark.operators.localframe import local_frame
from kinesyslog_spark.operators.text import TOKEN_RE
from kinesyslog_spark.queries import query
from kinesyslog_spark.tables import artifact, hot_tokens

BPE_ROUNDS = 6


def _bpe_ctes(rounds: int = BPE_ROUNDS) -> str:
    """WITH-body computing the merge scalars p1..p{rounds} (shared with
    q109's encoder oracle)."""
    parts = [
        f"""
    tok AS (
      SELECT unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS word
      FROM documents
    ),
    w AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM tok GROUP BY word),
    r0 AS (
      SELECT freq, '  ' || regexp_replace(word, '(.)', '\\1  ', 'g') AS rep
      FROM w
    )"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"""
    p{i} AS MATERIALIZED (
      SELECT syms[i] AS s1, syms[i + 1] AS s2, CAST(SUM(freq) AS BIGINT) AS cnt
      FROM (SELECT freq, string_split(trim(rep), '  ') AS syms FROM r{i - 1}) t,
           unnest(range(1, len(syms))) AS u(i)
      GROUP BY 1, 2
      QUALIFY ROW_NUMBER() OVER (ORDER BY cnt DESC, s1, s2) = 1
    )"""
        )
        if i < rounds:
            parts.append(
                f"""
    r{i} AS MATERIALIZED (
      SELECT freq,
             replace(rep,
                     ' ' || (SELECT s1 FROM p{i}) || '  ' || (SELECT s2 FROM p{i}) || ' ',
                     ' ' || (SELECT s1 || s2 FROM p{i}) || ' ') AS rep
      FROM r{i - 1}
    )"""
            )
    return ",".join(parts)


def _q83_oracle(rounds: int = BPE_ROUNDS) -> str:
    rows = " UNION ALL ".join(
        f"SELECT {i} AS rnd, s1, s2, s1 || s2 AS merged, cnt FROM p{i}"
        for i in range(1, rounds + 1)
    )
    return f"WITH {_bpe_ctes(rounds)} {rows} ORDER BY rnd"


def bpe_merges(spark: SparkSession, sf_dir: str) -> list[tuple]:
    """The learned merge table as driver-side literals — a session
    artifact so q83 (trainer output) and q109 (encoder) train once."""
    return artifact(spark, sf_dir, "bpe_merges",
                    lambda keep: _train_bpe(spark, sf_dir, keep),
                    knobs=(BPE_ROUNDS,))


@query("q83_bpe_merges", oracle=_q83_oracle())
def q83_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return local_frame(
        spark, bpe_merges(spark, sf_dir),
        "rnd int, s1 string, s2 string, merged string, cnt bigint",
    ).orderBy("rnd")


def _train_bpe(spark: SparkSession, sf_dir: str, keep) -> list[tuple]:
    # the single corpus-scale pass: word frequencies; each round's
    # rewritten vocabulary is kept for the next round's pair count
    # (vocabulary-sized frames, dropped when training ends)
    words = keep(
        hot_tokens(spark, sf_dir)
        .select(F.explode("toks").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            "freq",
            F.concat(
                F.lit("  "), F.regexp_replace("word", "(.)", "$1  ")
            ).alias("rep"),
        )
    )

    merges: list[tuple] = []
    rep_df = words
    for rnd in range(1, BPE_ROUNDS + 1):
        syms = F.split(F.trim(F.col("rep")), "  ")
        pair_structs = F.transform(
            F.sequence(F.lit(1), F.size(syms) - 1),
            lambda i: F.struct(
                F.element_at(syms, i).alias("s1"),
                F.element_at(syms, i + 1).alias("s2"),
            ),
        )
        best_rows = (
            rep_df.filter(F.size(syms) >= 2)
            .select("freq", F.explode(pair_structs).alias("p"))
            .groupBy("p.s1", "p.s2")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), "s1", "s2")
            .limit(1)
            .collect()
        )
        if not best_rows:  # vocabulary fully merged (oracle rounds empty too)
            break
        best = best_rows[0]
        merges.append((rnd, best.s1, best.s2, best.s1 + best.s2, best.cnt))
        if rnd < BPE_ROUNDS:
            nxt = rep_df.select(
                "freq",
                F.replace(
                    "rep",
                    F.lit(f" {best.s1}  {best.s2} "),
                    F.lit(f" {best.s1}{best.s2} "),
                ).alias("rep"),
            )
            rep_df = keep(nxt)
    return merges


# ---------------------------------------------------------------------------
# Q109 — BPE ENCODING with the trained merges: tokenize every document
# under the q83 tokenizer and report its token count + compression
# ratio. Each learned merge is ONE string replace over the double-space
# symbol form (see module header); word boundaries concatenate to FOUR
# spaces, which the ' s1  s2 ' (exactly two inner spaces) pattern can
# never match — so per-word merge semantics survive whole-document
# concatenation, and encoding a document is BPE_ROUNDS replaces, not a
# per-word loop.
#
# Scale notes: merges are driver-side literals (bpe_merges, the q77
# centroid pattern); encoding is a single map-only pass over the
# corpus. This is how production tokenizer *application* distributes —
# broadcast the merge table, map the corpus.
# ---------------------------------------------------------------------------


def _q109_oracle(rounds: int = BPE_ROUNDS) -> str:
    parts = [
        _bpe_ctes(rounds),
        r"""
    dt AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      FROM documents
    ),
    d0 AS (
      SELECT doc_id, toks,
             array_to_string(list_transform(toks,
               w -> '  ' || regexp_replace(w, '(.)', '\1  ', 'g')), '') AS rep
      FROM dt WHERE len(toks) >= 1
    )""",
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"""
    d{i} AS (
      SELECT doc_id, toks,
             replace(rep,
                     ' ' || (SELECT s1 FROM p{i}) || '  ' || (SELECT s2 FROM p{i}) || ' ',
                     ' ' || (SELECT s1 || s2 FROM p{i}) || ' ') AS rep
      FROM d{i - 1}
    )"""
        )
    return f"""
    WITH {",".join(parts)}
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_words,
           CAST(len(list_filter(string_split(trim(rep), '  '), s -> s <> ''))
                AS BIGINT) AS n_tokens,
           FLOOR(CAST(list_sum(list_transform(toks, w -> length(w))) AS DOUBLE)
                 / len(list_filter(string_split(trim(rep), '  '), s -> s <> ''))
                 * 10000 + 0.5) / 10000 AS chars_per_token
    FROM d{rounds}
    ORDER BY doc_id
    """


@query("q109_bpe_encode", oracle=_q109_oracle())
def q109_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    merges = bpe_merges(spark, sf_dir)
    toks = hot_tokens(spark, sf_dir).filter(F.size("toks") >= 1)
    rep = F.concat_ws(
        "",
        F.transform(
            "toks",
            lambda w: F.concat(F.lit("  "), F.regexp_replace(w, "(.)", "$1  ")),
        ),
    )
    for _, s1, s2, _, _ in merges:
        rep = F.replace(rep, F.lit(f" {s1}  {s2} "), F.lit(f" {s1}{s2} "))
    syms = F.filter(F.split(F.trim(rep), "  "), lambda s: s != "")
    n_chars = F.aggregate(
        F.transform("toks", lambda w: F.length(w).cast("long")),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    n_tokens = F.size(syms).cast("long")
    return toks.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_words"),
        n_tokens.alias("n_tokens"),
        (
            F.floor(n_chars.cast("double") / n_tokens * 10000 + F.lit(0.5)) / 10000
        ).alias("chars_per_token"),
    ).orderBy("doc_id")
