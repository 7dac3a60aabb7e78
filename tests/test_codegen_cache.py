"""The session factory sizes Spark's generated-class cache
(``session.CODEGEN_CACHE_ENTRIES``) so that a warm curation pass finds
every class it generates already compiled by the passes before it. At
Spark's default of 100 entries the pass's ~106 classes evicted each
other, and every pass recompiled about half of them."""

from __future__ import annotations

import os

from nspc_etl_basic_spark.plans.curation import run_curation
from nspc_etl_basic_spark.session import CODEGEN_CACHE_ENTRIES, codegen_compiles

# every stage of the runner: quality -> MinHash/LSH dedup -> split -> pack
RECIPE = {"curation": {
    "quality": {"min_chars": 100, "min_tokens": 20, "max_punct_ratio": 0.1,
                "min_stopword_ratio": 0.02},
    "dedup": {"quality_col": "n_chars"},
    "split": {"weights": {"train": 0.8, "val": 0.1, "test": 0.1}},
    "pack": {"seq_len": 2048, "n_buckets": 8, "split": "train"},
}}


def _curation_pass(spark, docs) -> None:
    for df in run_curation(spark, docs, RECIPE).values():
        df.write.format("noop").mode("overwrite").save()


def test_session_runs_the_factory_cache_size(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )


def test_warm_curation_pass_compiles_nothing(spark, sf_dir):
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    _curation_pass(spark, docs)
    compiles = []
    for _ in range(3):
        before = codegen_compiles(spark)[0]
        _curation_pass(spark, docs)
        compiles.append(codegen_compiles(spark)[0] - before)
    # on some passes one stage (a broadcast join feeding a hash
    # aggregation on two long keys) is generated in another form: 2 new
    # classes at any cache size, cached from then on. A thrashing cache
    # recompiles 50-70 on every pass.
    assert 0 in compiles, compiles
