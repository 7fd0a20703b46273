"""W27 — continuous data-quality monitoring (streaming twin of q145).

Every metric q145 audits is ALGEBRAIC — counts, null counts, min/max,
integer sums — so the cumulative corpus-so-far metrics are a MERGE of
per-batch metric rows, exactly the HLL/W22 posture: per-epoch state is
one tiny row, merging is associative+commutative+idempotent-under-
retry-by-overwrite, and the check verdicts are recomputed from the
merged state after every epoch (a completeness breach in batch 7 flips
the cumulative verdict from that epoch on).

State/exactly-once design (the W22 epoch-snapshot pattern): each epoch
writes its CUMULATIVE metric row under state_dir/epoch=N (resolved by
latest-complete _SUCCESS snapshot, pruned best-effort through the
Hadoop FS API), and the per-epoch report row lands under
out_dir/epoch_id=N by overwrite — a foreachBatch retry replaces both
of its own outputs. NOTE the merge here is NOT idempotent under
re-merge (SUMs double-count, unlike HLL MAX), which is exactly why the
state snapshot is keyed by epoch: a retried epoch re-reads the PREVIOUS
epoch's snapshot and overwrites its own, never compounding.

Scale posture: per-batch work is one map-side-combined aggregate over
the batch (1-row result); state is O(#metrics) bytes forever.

Reference parity: none; streaming counterpart of SURVEY §2b q145.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from kinesyslog_spark.streaming.epoch_state import (
    latest_state_epoch,
    prune_state_epochs,
)

_METRIC_SCHEMA = (
    "n long, null_text long, empties long, len_min long, len_max long, "
    "len_sum long"
)


def batch_metrics(batch: DataFrame, text_col: str = "text") -> DataFrame:
    """One metric row for a document micro-batch (algebraic components
    only — every field merges by SUM except min/max)."""
    ln = F.length(text_col)
    return batch.agg(
        F.count(F.lit(1)).alias("n"),
        (F.count(F.lit(1)) - F.count(text_col)).alias("null_text"),
        F.coalesce(F.sum((ln == 0).cast("long")), F.lit(0)).alias("empties"),
        F.coalesce(F.min(ln), F.lit(0)).cast("long").alias("len_min"),
        F.coalesce(F.max(ln), F.lit(0)).cast("long").alias("len_max"),
        F.coalesce(F.sum(ln), F.lit(0)).cast("long").alias("len_sum"),
    )


def merge_metrics(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two metric rows (associative + commutative)."""
    return (
        a.unionByName(b)
        .agg(
            F.sum("n").alias("n"),
            F.sum("null_text").alias("null_text"),
            F.sum("empties").alias("empties"),
            F.min("len_min").alias("len_min"),
            F.max("len_max").alias("len_max"),
            F.sum("len_sum").alias("len_sum"),
        )
    )


def verdict_rows(metrics: DataFrame, epoch_id: int,
                 empty_max_frac: float = 0.5) -> DataFrame:
    """q145-shaped (check_name, metric, passed) rows from a cumulative
    metric row, stamped with the epoch."""
    empty_frac = F.col("empties").cast("double") / F.greatest(
        F.col("n"), F.lit(1)
    )
    def row(name, metric, passed):
        return F.struct(
            F.lit(name).alias("check_name"),
            metric.cast("double").alias("metric"),
            passed.cast("int").alias("passed"),
        )
    checks = F.array(
        row("docs_rows_nonzero", F.col("n"), (F.col("n") > 0).cast("int")),
        row("docs_text_complete", F.col("null_text"),
            (F.col("null_text") == 0).cast("int")),
        row("docs_empty_text_frac", F.round(empty_frac, 6),
            (empty_frac < empty_max_frac).cast("int")),
        row("docs_len_max_sane", F.col("len_max"),
            (F.col("len_max") >= F.col("len_min")).cast("int")),
    )
    return metrics.select(
        F.lit(int(epoch_id)).alias("epoch"),
        F.explode(checks).alias("c"),
    ).select("epoch", "c.check_name", "c.metric", "c.passed")


def make_fold(out_dir: str, state_dir: str, text_col: str = "text"):
    """foreachBatch body, exposed for direct retry-contract tests."""

    def fold(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        new = batch_metrics(batch, text_col)
        # strictly-before: a retried epoch must merge into its
        # PREDECESSOR's cumulative state, never its own partial attempt
        # (SUM-merge would double-count the batch)
        latest = latest_state_epoch(spark, state_dir, before=int(epoch_id))
        if latest is not None:
            cum = merge_metrics(
                spark.read.parquet(f"{state_dir}/epoch={latest}"), new
            )
        else:
            cum = new
        row = cum.collect()[0]  # 1 row — driver-size by design
        snap = spark.createDataFrame([row], _METRIC_SCHEMA)
        snap.coalesce(1).write.mode("overwrite").parquet(
            f"{state_dir}/epoch={epoch_id}"
        )
        # keep the predecessor snapshot too: if the checkpoint commit
        # fails AFTER this fold, the retry of this epoch needs it
        prune_state_epochs(
            spark, state_dir,
            keep=latest if latest is not None else int(epoch_id),
        )
        verdict_rows(snap, int(epoch_id)).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{out_dir}/epoch_id={epoch_id}")

    return fold


def streaming_quality(docs: DataFrame, out_dir: str, state_dir: str,
                      checkpoint_dir: str, text_col: str = "text",
                      trigger: str = "1 second") -> StreamingQuery:
    """Continuously audit a document stream; cumulative q145-style
    verdict rows land under out_dir/epoch_id=N per micro-batch."""
    fold = make_fold(out_dir, state_dir, text_col)
    return (
        docs.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=trigger)
        .start()
    )
