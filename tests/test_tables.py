"""Scale guards on the table-loading layer (tables.py).

`spread()` and `hot_table()` are LOCAL optimizations (tiny test parquet
arrives as one split); at 100 TB an unconditional round-robin shuffle or
a whole-corpus persist would be a scale-killer, so both are gated and the
gates are pinned here.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kinesyslog_spark.tables import (
    HOT_TABLE_MAX_BYTES,
    _plan_size_bytes,
    hot_table,
    load_table,
    spread,
)


def test_spread_repartitions_undersplit_input(spark, sf_dir):
    df = load_table(spark, sf_dir, "documents")
    n = spark.sparkContext.defaultParallelism
    assert df.rdd.getNumPartitions() < n  # tiny file = few splits
    assert spread(df).rdd.getNumPartitions() == n


def test_spread_is_noop_on_well_split_input(spark):
    n = spark.sparkContext.defaultParallelism
    df = spark.range(0, 10_000, numPartitions=n)
    out = spread(df)
    assert out is df, "well-split input must NOT be reshuffled"
    # and no Exchange appears in the plan
    assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString()


def test_spread_respects_explicit_partitions(spark):
    df = spark.range(0, 1000, numPartitions=1)
    assert spread(df, 8).rdd.getNumPartitions() == 8


def test_plan_size_estimate_reasonable(spark, sf_dir):
    df = load_table(spark, sf_dir, "documents")
    size = _plan_size_bytes(df)
    # parquet scan estimate tracks the file size: positive, under the cap
    assert 0 < size < HOT_TABLE_MAX_BYTES


def test_hot_table_caches_small_tables(spark, sf_dir):
    df = hot_table(spark, sf_dir, "documents")
    assert df.is_cached
    assert hot_table(spark, sf_dir, "documents") is df  # memoized


def test_hot_table_refuses_oversized_tables(spark, sf_dir, monkeypatch):
    """Above the byte bound hot_table must return a plain uncached load —
    'persist the corpus' can never fire at scale."""
    import kinesyslog_spark.tables as T

    # drop any artifact from earlier tests — the gate applies at build time
    T.release_artifacts(spark, sf_dir, family="table:embeddings")
    monkeypatch.setattr(T, "HOT_TABLE_MAX_BYTES", 1)  # force 'too big'
    df = T.hot_table(spark, sf_dir, "embeddings")
    assert not df.is_cached
    assert not [a for a in T.artifact_inventory(spark)
                if a["family"] == "table:embeddings"
                and a["corpus"] == sf_dir.rstrip("/")]
    # still a correct load
    assert df.select(F.count("*")).collect()[0][0] > 0


def test_hot_postings_matches_exploded_counts(spark, sf_dir):
    """The postings artifact must equal the per-(doc, token) counts of a
    fresh token-stream explode — every consumer (q55/q68/q69/q79/q129/
    q131/q132) derives its aggregates from exactly these rows."""
    from kinesyslog_spark.tables import hot_postings, hot_tokens

    post = hot_postings(spark, sf_dir)
    assert post.is_cached
    assert hot_postings(spark, sf_dir) is post  # memoized
    truth = (
        hot_tokens(spark, sf_dir)
        .select("doc_id", F.explode("toks").alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    assert dict(post.dtypes) == dict(truth.dtypes)
    assert post.exceptAll(truth).count() == 0
    assert truth.exceptAll(post).count() == 0


def test_hot_vocab_matches_global_counts(spark, sf_dir):
    """Vocabulary counts == SUM(tf) over postings == instance counts of
    the raw token stream."""
    from kinesyslog_spark.tables import hot_tokens, hot_vocab

    vocab = hot_vocab(spark, sf_dir)
    assert vocab.is_cached
    truth = (
        hot_tokens(spark, sf_dir)
        .select(F.explode("toks").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    assert dict(vocab.dtypes) == dict(truth.dtypes)
    assert vocab.exceptAll(truth).count() == 0
    assert truth.exceptAll(vocab).count() == 0


def test_release_hot_drops_postings(spark, sf_dir):
    """release_hot must evict the postings/vocab artifacts with the rest
    of the hot layer (they are registry entries under the sf_dir key)."""
    import kinesyslog_spark.tables as T

    def resident():
        return [a for a in T.artifact_inventory(spark)
                if a["corpus"] == sf_dir.rstrip("/")
                and a["family"] in ("postings", "vocab")]

    post = T.hot_postings(spark, sf_dir)
    vocab = T.hot_vocab(spark, sf_dir)
    assert len(resident()) == 2
    T.release_hot(spark, sf_dir)
    assert not resident()
    assert not post.is_cached and not vocab.is_cached
