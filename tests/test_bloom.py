"""Bloom-filter semi-join pruning (operators/bloom.py) and the skew
report (operators/skew.skew_report)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nspc_etl_basic_spark.operators.bloom import (
    bloom_might_contain,
    build_bloom,
)
from nspc_etl_basic_spark.operators.skew import skew_report


@pytest.fixture(scope="module")
def dim_fact(spark):
    dim = spark.createDataFrame(
        [(i,) for i in range(0, 2000, 7)], "k long"  # 286 members
    )
    fact = spark.createDataFrame(
        [(i, i % 2000) for i in range(8000)], "row_id long, k long"
    )
    return dim, fact


@pytest.mark.parametrize("hash_fn", ["md5", "xxhash64"])
def test_bloom_no_false_negatives(spark, dim_fact, hash_fn):
    dim, fact = dim_fact
    words = build_bloom(dim, "k", hash_fn=hash_fn)
    passed = fact.where(
        bloom_might_contain(words, F.col("k"), hash_fn=hash_fn)
    )
    members = fact.join(
        F.broadcast(dim.distinct()), "k", "left_semi"
    )
    # every true member survives the bloom (no false negatives, ever)
    missing = members.join(passed, "row_id", "left_anti").count()
    assert missing == 0


@pytest.mark.parametrize("hash_fn", ["md5", "xxhash64"])
def test_bloom_fp_rate_bounded(spark, dim_fact, hash_fn):
    dim, fact = dim_fact
    words = build_bloom(dim, "k", hash_fn=hash_fn)
    n_pass = fact.where(
        bloom_might_contain(words, F.col("k"), hash_fn=hash_fn)
    ).count()
    n_true = fact.join(F.broadcast(dim.distinct()), "k", "left_semi").count()
    n_nonmember = fact.count() - n_true
    fp_rate = (n_pass - n_true) / max(1, n_nonmember)
    # 286 keys in 2^16 bits, k=5 -> theoretical fp ~ 2e-8; allow 1%
    assert fp_rate < 0.01


def test_bloom_membership_is_projection(spark, dim_fact):
    """The pruned scan must contain no join and no exchange before the
    filter — the filter words ride as a literal."""
    dim, fact = dim_fact
    words = build_bloom(dim, "k")
    plan_df = fact.where(bloom_might_contain(words, F.col("k")))
    from nspc_etl_basic_spark.plans.audit import plan_summary

    s = plan_summary(plan_df)
    assert s["exchanges"] == 0 and s["sort_merge_joins"] == 0
    assert s["cartesian"] == 0


def test_bloom_validates_geometry(spark, dim_fact):
    dim, _ = dim_fact
    with pytest.raises(ValueError, match="multiple of 32"):
        build_bloom(dim, "k", m_bits=100)


def test_skew_report_values(spark):
    rows = [("hot", i) for i in range(90)] + [
        (f"k{i}", i) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "key string, v long")
    got = {r["key"]: r for r in skew_report(df, "key", top_n=3).collect()}
    hot = got["hot"]
    # 90 of 100 rows, 11 distinct keys
    assert hot["cnt"] == 90
    assert hot["share_ppm"] == 900_000
    assert hot["skew_x"] == (90 * 11) // 100  # 9
    assert hot["salt_factor"] == -(-90 * 11 // 100)  # ceil = 10
    # uniform keys report skew_x 0 (below the mean) and salt 1
    other = [r for k, r in got.items() if k != "hot"]
    assert all(r["salt_factor"] == 1 for r in other)
