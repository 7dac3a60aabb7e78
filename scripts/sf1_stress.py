"""One-shot sf1 stress run of the heavy query family (round-8 VERDICT
ask #5): the 100 TB claims in SCALE.md extrapolate from sf0.1 plan
shapes; this script provides the 10x datapoint that validates the slope
and surfaces memory cliffs local[32] hides at toy scale.

No sf1 testdata ships with the harness, so the script synthesizes a
DETERMINISTIC 10x stand-in under /tmp/nspc_sf1 from the sf0.1 parquet
(10 perturbed copies per row — never written to /root/testdata):

- documents: copy c appends a short per-copy suffix, so the 10 copies of
  a doc are genuine NEAR-DUPS of each other (char-shingle Jaccard stays
  high) — the candidate graph densifies into ~10-cliques on top of the
  generator's planted pairs, a HARDER dedup/CC instance than a plain
  10x of independent docs. n_chars is recomputed from the new text.
- events: ids offset per copy, ts shifted +c days, user_id spread over
  5 copies' worth of new users.
- embeddings: ids offset, each component nudged by 1e-4 * c (keeps
  k-means from seeing exact duplicate points).

Run:  python scripts/sf1_stress.py            (writes JSON to stdout)

Timings are best-of-1 in ONE fresh session after a warm-up action, with
spark.catalog.clearCache() between queries and the dedup-tier work dirs
wiped up front so both scales pay the tier build cold. Per-query shuffle
read/write comes from the AppStatusStore stage deltas.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF1_DIR = "/tmp/nspc_sf1"
SRC = "/root/testdata/sf0.1"

HEAVY = [
    "dedup_components",       # cold tier build: MinHash -> LSH -> CC
    "dedup_keep_best",        # warm tier read + argmax
    "corpus_dup_rate_by_source",
    "dedup_components_incr",  # cold tier90 build + live batch fixpoint
    "corpus_span_dedup",
    "corpus_pack_materialize",
    "corpus_pack_multimodal",
    "corpus_quality_classifier",
    "sim_ann_ivf_trained",
    # round 9 additions
    "corpus_semantic_dedup",  # trained k-means + within-cell pairs + CC
    "corpus_semantic_dedup_incr",  # frozen codebook + contraction merge
    "sim_ann_ivfpq",          # IVF prune + PQ ADC + exact-recall tier
    "corpus_classifier_eval",
    # round 11 additions
    "text_bm25_df_capped",    # the degenerate-probe collapse datapoint
    "text_hybrid_topk",       # BM25 + residual-IVFPQ dense leg + RRF
    # round 12 additions
    "corpus_classifier_pr",   # train+score chain x the threshold sweep
    "corpus_quality_select_pr",  # curve -> max-F1 threshold -> test filter
    "dedup_band_retire",      # takedown: component-local rebuild
    "corpus_span_retire",     # takedown: gram-count decrement + clean
    # round 13 additions (VERDICT r12 ask #6)
    "corpus_end_to_end",      # composed pipeline: the single-scan claim
    "corpus_classifier_holdout",  # split-once + one-pass training chain
    "dedup_setjoin_exact",    # exact tier: shingle table materialized once
    "text_lm_familiarity",    # (doc, bigram, cnt) pre-aggregate
]


def synthesize() -> None:
    import duckdb

    os.makedirs(SF1_DIR, exist_ok=True)
    con = duckdb.connect()
    if not os.path.exists(f"{SF1_DIR}/documents.parquet"):
        con.execute(f"""
            COPY (
              SELECT doc_id + c * 1000000 AS doc_id,
                     CASE WHEN c = 0 THEN text
                          ELSE text || ' copyvariant' || c || ' marker' || c
                     END AS text,
                     lang, source,
                     CAST(length(CASE WHEN c = 0 THEN text
                          ELSE text || ' copyvariant' || c || ' marker' || c
                          END) AS BIGINT) AS n_chars
              FROM '{SRC}/documents.parquet'
              CROSS JOIN range(0, 10) t(c)
            ) TO '{SF1_DIR}/documents.parquet' (FORMAT PARQUET)
        """)
    if not os.path.exists(f"{SF1_DIR}/events.parquet"):
        con.execute(f"""
            COPY (
              SELECT event_id + c * 10000000 AS event_id,
                     ts + to_days(CAST(c AS INTEGER)) AS ts,
                     user_id + (c % 5) * 100000 AS user_id,
                     event_type, value, props
              FROM '{SRC}/events.parquet'
              CROSS JOIN range(0, 10) t(c)
            ) TO '{SF1_DIR}/events.parquet' (FORMAT PARQUET)
        """)
    if not os.path.exists(f"{SF1_DIR}/embeddings.parquet"):
        con.execute(f"""
            COPY (
              SELECT vec_id + c * 1000000 AS vec_id,
                     list_transform(embedding,
                         x -> CAST(x + 0.0001 * c AS FLOAT)) AS embedding,
                     label
              FROM '{SRC}/embeddings.parquet'
              CROSS JOIN range(0, 10) t(c)
            ) TO '{SF1_DIR}/embeddings.parquet' (FORMAT PARQUET)
        """)


def stage_totals(spark):
    """(shuffle_read_bytes, shuffle_write_bytes) summed over all stages
    so far, via the AppStatusStore."""
    try:
        store = spark._jsparkSession.sparkContext().statusStore()
        jvm = spark._jvm
        empty = jvm.java.util.ArrayList()
        # Spark 4 signature: stageList(statuses, details, withSummaries,
        # unsortedQuantiles, taskStatus)
        quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
        it = store.stageList(
            empty, False, False, quantiles, jvm.java.util.ArrayList()
        ).iterator()
        rd = wr = 0
        while it.hasNext():
            s = it.next()
            rd += s.shuffleReadBytes()
            wr += s.shuffleWriteBytes()
        return rd, wr
    except Exception:
        return None, None


def main() -> None:
    synthesize()
    # both scales pay the dedup tier cold
    import glob

    # no underscore after 'deduptier': the tier90 work dirs are named
    # nspc_asset_deduptier90_* and must go cold too, or the
    # dedup_components_incr datapoint measures a warm tier. Round 10
    # added two more materialized corpus assets with the same staleness
    # contract — the semdedup base tier and the trained IVF/PQ
    # codebooks — which must equally go cold here or the
    # corpus_semantic_dedup* / sim_ann_* datapoints measure warm reads.
    for pat in (
        "/tmp/nspc_asset_deduptier*",
        "/tmp/nspc_asset_semdedupbase90_*",
        "/tmp/nspc_asset_codebooks16_*",
        "/tmp/nspc_asset_residbooks16_*",
    ):
        for d in glob.glob(pat):
            shutil.rmtree(d, ignore_errors=True)

    import __spark_entry__ as entry
    from nspc_etl_basic_spark import get_spark

    # --only a,b,c: measure a subset (per-query cold-cache contract
    # unchanged — the wipe above already ran); default = full HEAVY
    run_list = HEAVY
    if "--only" in sys.argv:
        names = sys.argv[sys.argv.index("--only") + 1].split(",")
        unknown = [n for n in names if n not in HEAVY]
        if unknown:
            raise SystemExit(f"--only names not in HEAVY: {unknown}")
        run_list = names

    spark = get_spark(master="local[32]", shuffle_partitions=32)
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warm-up
    qs = entry.queries()

    out: dict[str, dict] = {}
    for sf_name, sf_dir in (("sf0.1", SRC), ("sf1", SF1_DIR)):
        for q in run_list:
            spark.catalog.clearCache()
            r0, w0 = stage_totals(spark)
            t0 = time.time()
            df = qs[q](spark, sf_dir)
            n = len(df.collect())
            dt = time.time() - t0
            r1, w1 = stage_totals(spark)
            plan = df._jdf.queryExecution().executedPlan().toString()
            out.setdefault(q, {})[sf_name] = {
                "sec": round(dt, 2),
                "rows": n,
                "shuffle_read_mb": None
                if r0 is None
                else round((r1 - r0) / 1e6, 1),
                "shuffle_write_mb": None
                if w0 is None
                else round((w1 - w0) / 1e6, 1),
                "aqe_final": "isFinalPlan=true" in plan,
                "smj": plan.count("SortMergeJoin"),
                "bhj": plan.count("BroadcastHashJoin"),
            }
            print(
                f"{sf_name} {q}: {dt:.1f}s rows={n} "
                f"shW={out[q][sf_name]['shuffle_write_mb']}MB",
                file=sys.stderr,
            )
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
