"""binaryFile directory ingestion + streaming data-quality gate tests."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nspc_etl_basic_spark.operators.codecs import encode_png
from nspc_etl_basic_spark.operators.quality import Check, completeness, minimum
from nspc_etl_basic_spark.sources.reader import read_binary_dir
from nspc_etl_basic_spark.streaming.quality import (
    QualityGateError,
    run_stream_quality,
)


def _write_pngs(tmp_path, n=3, size=8):
    paths = []
    for i in range(n):
        arr = np.full((size, size), i * 40, dtype=np.uint8)
        p = tmp_path / f"img{i}.png"
        p.write_bytes(encode_png(arr))
        paths.append(p)
    return paths


def test_read_binary_dir_globs_and_size_guard(spark, tmp_path):
    _write_pngs(tmp_path, n=3)
    (tmp_path / "notes.txt").write_text("not an image")
    (tmp_path / "big.png").write_bytes(b"\x89PNG" + b"\0" * 10_000)

    df = read_binary_dir(spark, str(tmp_path), glob="*.png")
    assert df.count() == 4  # txt filtered by glob
    assert {"path", "modificationTime", "length", "content"} <= set(df.columns)

    small = read_binary_dir(spark, str(tmp_path), glob="*.png", max_bytes=5_000)
    assert small.count() == 3  # 10 KB file filtered by metadata


def _stream(spark, src, schema):
    return (
        spark.readStream.schema(schema).format("parquet").load(str(src))
    )


def test_stream_quality_records_metrics(spark, tmp_path):
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.DoubleType())]
    )
    src = tmp_path / "in"
    src.mkdir()
    metrics = str(tmp_path / "metrics")
    ckpt = str(tmp_path / "ckpt")
    checks = [
        Check("v_complete", completeness("v"), lo=1.0),
        Check("v_min", minimum("v"), lo=0.0),
    ]

    spark.createDataFrame([(1, 1.0), (2, 2.0)], schema).coalesce(1).write.parquet(
        str(src), mode="append"
    )
    run_stream_quality(_stream(spark, src, schema), checks, metrics, ckpt)
    m = spark.read.parquet(metrics)
    assert m.count() == 2
    assert {r["check_name"]: r["passed"] for r in m.collect()} == {
        "v_complete": True,
        "v_min": True,
    }

    # second batch with a violation — recorded but not fatal by default
    spark.createDataFrame([(3, -5.0)], schema).coalesce(1).write.parquet(
        str(src), mode="append"
    )
    run_stream_quality(_stream(spark, src, schema), checks, metrics, ckpt)
    m2 = spark.read.parquet(metrics)
    assert m2.count() == 4
    failed = m2.where(~F.col("passed")).collect()
    assert [r["check_name"] for r in failed] == ["v_min"]
    assert failed[0]["batch_id"] == 1


def test_stream_quality_gate_raises_and_records(spark, tmp_path):
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.DoubleType())]
    )
    src = tmp_path / "in"
    src.mkdir()
    metrics = str(tmp_path / "metrics")
    ckpt = str(tmp_path / "ckpt")
    checks = [Check("v_min", minimum("v"), lo=0.0)]

    spark.createDataFrame([(1, -1.0)], schema).coalesce(1).write.parquet(
        str(src), mode="append"
    )
    with pytest.raises(QualityGateError) as exc:
        run_stream_quality(
            _stream(spark, src, schema), checks, metrics, ckpt,
            fail_on_violation=True,
        )
    assert "v_min" in str(exc.value)
    # the violating batch's metrics were appended before the raise
    m = spark.read.parquet(metrics)
    assert m.count() == 1 and m.collect()[0]["passed"] is False
