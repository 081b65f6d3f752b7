"""Small-file parallelism guard + scan-regime probe (operators/parallelism).

The r16 fan-out pipelines gate checkpoint EAGERNESS on the scan regime
(operators.parallelism.narrow_scan): lazy at bench SFs where the
fan-out legs are too short to race, eager at scale where concurrent
broadcast-build jobs race to compute a lazy checkpoint's partitions. These
tests pin the probe semantics both layers depend on.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from data_engineering_assignment_spark.operators.parallelism import (
    _PART_COUNT_MEMO,
    ensure_min_parallelism,
    narrow_scan,
    scan_partitions,
)


def test_scan_partitions_matches_rdd(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    assert scan_partitions(df) == df.rdd.getNumPartitions()


def test_scan_partitions_memoizes(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    key = "test-scan-partitions-memo"
    n = scan_partitions(df, memo_key=key)
    sc = spark.sparkContext
    memo_key = (sc.applicationId, key, sc.defaultParallelism)
    assert _PART_COUNT_MEMO[memo_key] == n
    # a poisoned memo value must short-circuit the probe (proves the memo
    # is consulted, not re-probed)
    _PART_COUNT_MEMO[memo_key] = n + 99
    assert scan_partitions(df, memo_key=key) == n + 99
    del _PART_COUNT_MEMO[memo_key]


def test_ensure_min_parallelism_widens_narrow_input(spark):
    narrow = spark.range(100).coalesce(1).select(F.col("id").alias("doc_id"))
    assert narrow.rdd.getNumPartitions() == 1
    widened = ensure_min_parallelism(narrow)
    assert (
        widened.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )
    # round-robin repartition never changes the row multiset
    assert widened.count() == 100


def test_ensure_min_parallelism_noop_when_wide(spark):
    target = spark.sparkContext.defaultParallelism
    wide = spark.range(100, numPartitions=target + 2)
    assert ensure_min_parallelism(wide) is wide


def test_narrow_scan_regime(spark, sf_dir):
    from data_engineering_assignment_spark.tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id")
    # the committed test SFs are single-row-group files: always the small
    # regime (this is what keeps the fan-out pipelines' checkpoints LAZY
    # under the driver's bench)
    assert narrow_scan(docs, memo_key=f"doc_ids:{sf_dir}") is True
    # a frame already at the default parallelism is not narrow
    target = spark.sparkContext.defaultParallelism
    assert narrow_scan(spark.range(100, numPartitions=target)) is False
