"""Hashed-n-gram importance scoring for data selection (DSIR-style).

Data Selection via Importance Resampling (Xie et al., 2023, public
arXiv 2302.03169) ranks a raw corpus by how target-like each document
is: featurize documents into a small hashed n-gram space, estimate the
feature distribution of a TARGET corpus (the domain you want more of)
and of the RAW source corpus, and score each document by the
likelihood ratio of its features under target vs source.

This implementation keeps the published shape but swaps the
log-likelihood ratio for a FIXED-POINT INTEGER ratio so the whole
chain is exact and value-hash replayable (the engine-wide no-
transcendentals oracle contract):

    w(b)      = ((target_count(b) + 1) * SCALE) div (source_count(b) + 1)
    score(d)  = sum over d's tokens t of w(bucket(t))

Laplace add-one smoothing, BIGINT floor division, md5 token bucketing
on the same 32-bit ring as every other hash in the engine. Monotone
transforms don't change a top-k selection, and sum-of-ratios is the
standard hashed approximation once features are bucket counts.

Scale: two corpus scans (source stats, scoring) + one target scan.
Feature distributions are explode -> groupBy(bucket) aggregates that
map-side-combine to ``n_buckets`` rows (tiny). Scoring pre-aggregates
per (doc, bucket) BEFORE joining, so the broadcast join against the
``n_buckets``-row weight table touches at most n_buckets rows per doc,
then one groupBy(doc) sum. No corpus-to-corpus join anywhere; the
weight table is the only state and it broadcasts at any corpus size.

Reference parity: no counterpart in /root/reference — extension
surface (LLM-pipeline family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nspc_etl_basic_spark.operators.text import word_tokens

__all__ = ["dsir_scores", "dsir_weights", "hashed_token_counts"]

SCALE = 1_000_000


def _token_bucket(tok_col, n_buckets: int, salt: str):
    """md5 32-bit ring bucket of a token — the shared
    ``sampling.md5_ring32`` with a configurable modulus."""
    from nspc_etl_basic_spark.operators.sampling import md5_ring32

    return md5_ring32(tok_col, salt) % n_buckets


def hashed_token_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int = 1024,
    salt: str = "dsir",
) -> DataFrame:
    """Per-document hashed unigram counts: ``(id_col, bucket, cnt)``.
    One explode + one (id, bucket) aggregate — the pre-aggregation that
    keeps the downstream weight join bounded by n_buckets per doc."""
    if n_buckets <= 0:
        raise ValueError(f"n_buckets must be positive, got {n_buckets}")
    return (
        df.select(
            F.col(id_col),
            F.explode(word_tokens(F.col(text_col))).alias("__tok"),
        )
        .select(
            id_col, _token_bucket(F.col("__tok"), n_buckets, salt).alias("bucket")
        )
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def _corpus_bucket_counts(
    df: DataFrame, text_col: str, n_buckets: int, salt: str, name: str
) -> DataFrame:
    return (
        df.select(F.explode(word_tokens(F.col(text_col))).alias("__tok"))
        .select(_token_bucket(F.col("__tok"), n_buckets, salt).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias(name))
    )


def _bucket_weights(s: DataFrame, t: DataFrame) -> DataFrame:
    """``(bucket, w)`` from (bucket, s_cnt) x (bucket, t_cnt):
    ``w = ((t_b + 1) * SCALE) div (s_b + 1)`` — Laplace-smoothed
    fixed-point target/source ratio, exact BIGINT."""
    joined = s.join(t, "bucket", "full_outer").select(
        "bucket",
        F.coalesce("s_cnt", F.lit(0)).cast("long").alias("s_cnt"),
        F.coalesce("t_cnt", F.lit(0)).cast("long").alias("t_cnt"),
    )
    return joined.select(
        "bucket",
        F.expr(f"(t_cnt + 1) * CAST({SCALE} AS BIGINT) div (s_cnt + 1)").alias(
            "w"
        ),
    )


def dsir_weights(
    source: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    n_buckets: int = 1024,
    salt: str = "dsir",
) -> DataFrame:
    """Bucket-level importance weights ``(bucket, w)`` with
    ``w = ((t_b + 1) * SCALE) div (s_b + 1)`` — Laplace-smoothed
    fixed-point target/source ratio. Buckets unseen in both corpora
    are absent (their smoothed ratio is the constant SCALE and no
    document can reference them). Output is n_buckets rows — always
    broadcastable."""
    s = _corpus_bucket_counts(source, text_col, n_buckets, salt, "s_cnt")
    t = _corpus_bucket_counts(target, text_col, n_buckets, salt, "t_cnt")
    return _bucket_weights(s, t)


def dsir_scores(
    source: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1024,
    salt: str = "dsir",
) -> DataFrame:
    """Per-document target-likeness: ``(id_col, score)`` with
    ``score = sum(cnt_b * w_b)`` over the document's hashed token
    counts — exact BIGINT end-to-end. Select the top fraction by score
    (or hash-threshold within score bands) downstream.

    The ≤n_buckets weight rows are computed EAGERLY (one tokenize pass)
    and re-attached as a broadcast local relation, so the returned lazy
    plan re-tokenizes once more at materialization — TWO passes total,
    but nothing is pinned in the CacheManager across repeated
    invocations, and the scoring scan keeps its parquet pushdown."""
    doc_counts = hashed_token_counts(source, id_col, text_col, n_buckets, salt)
    t = _corpus_bucket_counts(target, text_col, n_buckets, salt, "t_cnt")
    s = doc_counts.groupBy("bucket").agg(
        F.sum("cnt").cast("long").alias("s_cnt")
    )
    rows = _bucket_weights(s, t).collect()
    weights = F.broadcast(
        source.sparkSession.createDataFrame(rows, "bucket bigint, w bigint")
    )
    return (
        doc_counts.join(weights, "bucket")
        .groupBy(id_col)
        .agg(F.sum(F.col("cnt") * F.col("w")).cast("long").alias("score"))
    )
