"""W29 — continuous model-quality monitoring (streaming binned AUC).

The streaming twin of q159: scored-and-labeled examples arrive
continuously (a shadow-deployed classifier, a feedback loop) and the
running AUC must be readable after every epoch without re-ranking
history. The per-class fixed-bin score histogram is the mergeable
state — per-epoch (bkt, pos_b, neg_b) counts SUM-merge exactly like
W27's metric row, and the binned Mann-Whitney estimate is recomputed
from the merged histogram each epoch (queries/ml.py:auc_from_histogram,
the same code path the batch twin runs — parity by construction).

Bins are FIXED at monitor creation (score_lo/score_hi from the trained
model's calibration range): a streaming monitor cannot rescale bins
per batch without invalidating merged history; out-of-range scores
clamp to the edge bins.

State/exactly-once: W27's epoch-snapshot pattern — histogram under
state_dir/epoch=N (latest-complete resolution, Hadoop FS), per-epoch
AUC row under out_dir/epoch_id=N by overwrite; retried epochs merge
into the snapshot strictly BEFORE their id (SUM-merge is not
retry-idempotent) and pruning keeps that predecessor.

Scale posture: per-batch work is one map-side-combined histogram
aggregate; state is <= 2*AUC_BINS longs forever.

Reference parity: none; §2c extension (q159's streaming twin).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from kinesyslog_spark.queries.ml import AUC_BINS, auc_from_histogram
from kinesyslog_spark.streaming.epoch_state import (
    latest_state_epoch,
    prune_state_epochs,
)

_HIST_SCHEMA = "bkt long, pos_b long, neg_b long"


def batch_histogram(
    batch: DataFrame, score_lo: float, score_hi: float,
    score_col: str = "score", label_col: str = "y",
) -> DataFrame:
    """Fixed-bin (bkt, pos_b, neg_b) counts for one micro-batch;
    out-of-range scores clamp to the edge bins."""
    span = score_hi - score_lo
    raw = F.floor(
        (F.col(score_col) - F.lit(score_lo)) / F.lit(span) * AUC_BINS
    ).cast("long")
    bkt = F.greatest(F.least(raw, F.lit(AUC_BINS - 1)), F.lit(0))
    return (
        batch.select(bkt.alias("bkt"), F.col(label_col).alias("y"))
        .groupBy("bkt")
        .agg(
            F.sum("y").cast("long").alias("pos_b"),
            F.sum(1 - F.col("y")).cast("long").alias("neg_b"),
        )
    )


def merge_histograms(a: DataFrame, b: DataFrame) -> DataFrame:
    return (
        a.unionByName(b)
        .groupBy("bkt")
        .agg(
            F.sum("pos_b").alias("pos_b"), F.sum("neg_b").alias("neg_b")
        )
    )


def make_fold(out_dir: str, state_dir: str, score_lo: float,
              score_hi: float, score_col: str = "score",
              label_col: str = "y"):
    """foreachBatch body, exposed for direct retry-contract tests."""

    def fold(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        new = batch_histogram(batch, score_lo, score_hi, score_col,
                              label_col)
        latest = latest_state_epoch(spark, state_dir, before=int(epoch_id))
        if latest is not None:
            cum = merge_histograms(
                spark.read.parquet(f"{state_dir}/epoch={latest}"), new
            )
        else:
            cum = new
        rows = cum.collect()  # <= AUC_BINS rows — driver-size by design
        snap = spark.createDataFrame(rows, _HIST_SCHEMA)
        snap.coalesce(1).write.mode("overwrite").parquet(
            f"{state_dir}/epoch={epoch_id}"
        )
        prune_state_epochs(
            spark, state_dir,
            keep=latest if latest is not None else int(epoch_id),
        )
        auc_from_histogram(snap).select(
            F.lit(int(epoch_id)).alias("epoch"), "p", "n", "auc_binned"
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{out_dir}/epoch_id={epoch_id}"
        )

    return fold


def streaming_model_monitor(
    scored: DataFrame, out_dir: str, state_dir: str, checkpoint_dir: str,
    score_lo: float, score_hi: float, score_col: str = "score",
    label_col: str = "y", trigger: str = "1 second",
) -> StreamingQuery:
    """Continuously fold scored examples into the class histogram; the
    running binned AUC lands under out_dir/epoch_id=N per micro-batch."""
    fold = make_fold(out_dir, state_dir, score_lo, score_hi, score_col,
                     label_col)
    return (
        scored.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=trigger)
        .start()
    )
