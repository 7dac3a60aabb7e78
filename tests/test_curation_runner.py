"""Config-driven curation runner (plans/curation.py). The composed
quality -> dedup -> split recipe is oracled as the corpus_end_to_end
query, which calls this runner; these tests pin what that query does
not reach: stage gating, custom column names, packing, and the
side-input stages."""

from __future__ import annotations

import os

from nspc_etl_basic_spark.plans.curation import run_curation

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _docs(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))


def test_runner_quality_stage_matches_semi_join_reference(spark):
    """The single-scan quality stage returns exactly the rows and the
    column order of re-joining the gate survivors against ``docs`` —
    with custom id/text names and a docs column (``n_chars``) that
    shares its name with a gate feature but not its values."""
    from nspc_etl_basic_spark.operators.text import quality_filter

    good = "the cat and the dog sat in the house of the king to rest"
    texts = [
        good,
        good + " again",
        "the end",  # too short
        good.replace(" ", ";; "),  # punctuation-heavy
        "el perro que los gatos de la casa el perro que los",  # not en
        good + " and more of the same",
    ]
    # id in the middle; n_chars is NOT the text length
    docs = spark.createDataFrame(
        [(t, 100 + i, i * 7) for i, t in enumerate(texts)],
        ["body", "id", "n_chars"],
    )
    q_cfg = {"min_chars": 20, "min_tokens": 5, "max_punct_ratio": 0.1,
             "min_stopword_ratio": 0.1}
    got = run_curation(
        spark, docs, {"curation": {"quality": q_cfg}},
        id_col="id", text_col="body",
    )["quality"]
    want = docs.join(
        quality_filter(docs, text_col="body", id_col="id", **q_cfg)
        .select("id"),
        "id", "left_semi",
    )
    assert got.columns == want.columns == ["id", "body", "n_chars"]
    g = sorted(tuple(r) for r in got.collect())
    assert g == sorted(tuple(r) for r in want.collect())
    assert {r[0] for r in g} == {100, 101, 105}


def test_runner_stage_gating_and_pack(spark):
    """Stages run only when configured; without dedup the split keys on
    the doc id and packing covers exactly the train split."""
    cfg = {
        "curation": {
            "split": {"weights": {"train": 0.5, "val": 0.5}},
            "pack": {"seq_len": 512, "n_buckets": 8, "split": "train"},
        }
    }
    out = run_curation(spark, _docs(spark), cfg)
    assert set(out) == {"split", "assignment", "pack_report"}
    split = out["split"]
    n_train = split.where("split = 'train'").count()
    assert 0 < n_train < split.count()
    # one assignment row per train doc, nothing else
    assert out["assignment"].count() == n_train
    rep = out["pack_report"]
    assert rep.count() > 0
    # packing only ran over packable docs; report totals reconcile
    tot = rep.groupBy().sum("n_docs", "n_oversize").collect()[0]
    assert tot[0] + tot[1] <= n_train


def test_runner_empty_config_is_identity(spark):
    out = run_curation(spark, _docs(spark), {})
    assert out == {}


def test_runner_full_recipe_dedup_then_pack(spark):
    """The natural full recipe quality -> dedup -> split -> pack must
    work end-to-end: the id column travels through keep_best's rename
    and the weight re-joins on the renamed id."""
    cfg = {
        "curation": {
            "quality": {
                "min_chars": 100, "max_chars": 20000, "min_tokens": 20,
                "max_punct_ratio": 0.1, "min_stopword_ratio": 0.02,
                "lang": "en",
            },
            "dedup": {"quality_col": "n_chars"},
            "split": {"weights": {"train": 0.8, "val": 0.1, "test": 0.1}},
            "pack": {"seq_len": 512, "n_buckets": 8, "split": "train"},
        }
    }
    out = run_curation(spark, _docs(spark), cfg)
    n_train = out["split"].where("split = 'train'").count()
    assert out["assignment"].count() == n_train > 0
    assert "kept_doc_id" in out["assignment"].columns


def test_runner_forwards_column_names(spark):
    """Non-default id/text column names reach every operator."""
    docs = _docs(spark).selectExpr(
        "doc_id AS id", "text AS body", "lang", "n_chars"
    )
    cfg = {
        "curation": {
            "quality": {"min_chars": 10, "min_tokens": 2,
                        "max_punct_ratio": 1.0, "min_stopword_ratio": 0.0},
            "dedup": {"quality_col": "n_chars"},
            "split": {"weights": {"train": 1.0}},
        }
    }
    out = run_curation(spark, docs, cfg, id_col="id", text_col="body")
    assert "kept_id" in out["split"].columns
    assert out["split"].count() > 0


def _emb(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))


def test_runner_semantic_dedup_stage(spark):
    """The semantic_dedup stage must equal a hand-run semantic_dedup on
    the kept docs' embeddings, and docs WITHOUT an embedding row must
    pass through untouched."""
    from pyspark.sql import functions as F

    from nspc_etl_basic_spark.operators.semdedup import semantic_dedup

    docs = _docs(spark)
    emb = _emb(spark).filter(F.col("vec_id") < 400)  # coverage gap
    out = run_curation(
        spark, docs,
        {"curation": {"semantic_dedup": {"n_cells": 8, "threshold": 0.3}}},
        embeddings=emb,
    )
    labels = semantic_dedup(
        emb.join(docs.select(F.col("doc_id").alias("vec_id")),
                 "vec_id", "left_semi"),
        n_cells=8, threshold=0.3,
    )
    dropped = {r["vec_id"] for r in labels.where(~F.col("keep")).collect()}
    kept_ids = {r["doc_id"] for r in out["semantic_kept"].select("doc_id").collect()}
    all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    assert kept_ids == all_ids - dropped
    # every doc id >= 400 (no embedding row) survived
    assert {i for i in all_ids if i >= 400} <= kept_ids


def test_runner_decontaminate_stage_and_raises_without_side_inputs(spark):
    import pytest
    from pyspark.sql import functions as F

    docs = _docs(spark)
    # eval set: one real corpus document -> its n-grams flag at least
    # that document itself
    eval_docs = docs.filter(F.col("doc_id") == 0).select("doc_id", "text")
    out = run_curation(
        spark, docs,
        {"curation": {"decontaminate": {"ngram_n": 5}}},
        eval_docs=eval_docs,
    )
    kept_ids = {r["doc_id"] for r in out["decontaminate"].select("doc_id").collect()}
    assert 0 not in kept_ids
    assert len(kept_ids) < docs.count()

    with pytest.raises(ValueError, match="eval_docs"):
        run_curation(
            spark, docs, {"curation": {"decontaminate": {"ngram_n": 5}}}
        )
    with pytest.raises(ValueError, match="embeddings"):
        run_curation(
            spark, docs,
            {"curation": {"decontaminate": {"ngram_n": 5, "semantic": {}}}},
            eval_docs=eval_docs,
        )
    with pytest.raises(ValueError, match="embeddings"):
        run_curation(
            spark, docs,
            {"curation": {"semantic_dedup": {"n_cells": 8}}},
        )


def test_runner_semantic_decontaminate_semantic_sweep(spark):
    from pyspark.sql import functions as F

    docs = _docs(spark)
    emb = _emb(spark)
    eval_docs = docs.filter(F.col("doc_id") == 0).select("doc_id", "text")
    eval_emb = emb.filter(F.col("vec_id") % 20 == 0)
    out = run_curation(
        spark, docs,
        {"curation": {"decontaminate": {
            "ngram_n": 5,
            "semantic": {"threshold": 0.3, "n_cells": 8},
        }}},
        embeddings=emb, eval_docs=eval_docs, eval_embeddings=eval_emb,
    )
    n = out["decontaminate"].count()
    # the semantic sweep drops strictly more than the n-gram sweep alone
    ngram_only = run_curation(
        spark, docs, {"curation": {"decontaminate": {"ngram_n": 5}}},
        eval_docs=eval_docs,
    )["decontaminate"].count()
    assert n < ngram_only
