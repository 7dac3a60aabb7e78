"""Driver-contract parity: every queries() entry vs its oracle_sql() DuckDB
statement — row count, column names, and normalized value comparison.

This reproduces the driver's correctness gate locally (sort columns by
name, sort rows, compare normalized values) so mismatches surface before
the round's CORRECTNESS_r{N}.json does.
"""

from __future__ import annotations

import datetime
import math

import pytest

import __spark_entry__ as entrymod
from nspc_etl_basic_spark.materialize import scope

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # round-trip through a fixed precision to absorb fp representation
        return f"{v:.6f}"
    if isinstance(v, datetime.datetime):
        # microseconds: the driver hashes full-precision timestamp values,
        # so the local gate must be at least as strict (a seconds-level
        # normalizer masked the sessionize ms-truncation bug for 2 rounds)
        return v.replace(tzinfo=None).isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, bool):
        return "1" if v else "0"
    return str(v)


def _table(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    out.sort()
    return [cols[i] for i in order], out


# Cross-family representatives that stay in the DEFAULT test run (the
# full 209-query gate is `-m parity`, excluded by pytest.ini's addopts
# so the driver's verify budget holds — VERDICT r12 ask #3). One or two
# per operator family, biased toward the paths this round touches.
QUICK_PARITY = {
    "q1_pricing_summary", "q6_filter_pushdown", "d1_merge_upsert",
    "dedup_exact", "dedup_components_incr", "corpus_semantic_dedup",
    "corpus_quality_classifier", "text_bm25_topk", "text_tfidf_topk",
    "text_lm_familiarity", "sim_ann_ivf", "graph_pagerank",
    "events_sessionize", "events_bootstrap_ci", "scd2_apply",
    "stream_semdedup_replay", "multimodal_binary_meta",
    "corpus_pack_dataset", "text_hybrid_topk", "corpus_end_to_end",
    "corpus_classifier_holdout", "dq_profile", "schema_infer_stats",
    "warehouse_snapshot_diff", "corpus_split", "sim_ann_ivfpq_residual",
}


def query_ids():
    return [
        pytest.param(
            q, marks=() if q in QUICK_PARITY else (pytest.mark.parity,)
        )
        for q in sorted(QUERIES)
    ]


@pytest.mark.parametrize("qid", query_ids())
def test_parity(qid, spark, duck, sf_dir):
    # the query's held frames are released once its rows are read
    with scope():
        sdf = QUERIES[qid](spark, sf_dir)
        spark_rows = sdf.collect()
    spark_cols = sdf.columns

    if qid not in ORACLES:
        assert len(spark_rows) >= 0  # rows-only check for non-SQL ops
        return

    res = duck.execute(ORACLES[qid])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{qid}: column mismatch spark={sorted(spark_cols)} duck={sorted(duck_cols)}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{qid}: row count spark={len(spark_rows)} duck={len(duck_rows)}"
    )

    _, s_t = _table([tuple(r) for r in spark_rows], spark_cols)
    _, d_t = _table(duck_rows, duck_cols)
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(s_t, d_t)) if a != b
    ]
    assert not mismatches, f"{qid}: first mismatches {mismatches[:3]}"
