"""Unit tests for the dedup operator family's non-parity behaviors (the
value-level semantics are pinned by tests/test_parity.py against DuckDB;
these cover the knobs the oracle can't see)."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from nspc_etl_basic_spark.operators import dedup
from nspc_etl_basic_spark.operators.dedup import (
    exact_dedup,
    lsh_candidate_pairs,
    minhash_signatures,
    shingle_array,
)


def _corpus(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_lsh_bucket_cap_drops_mega_bucket_keeps_small(spark):
    # 30 identical boilerplate docs form a mega-bucket in EVERY band;
    # two near-duplicate long docs form small buckets.
    boiler = [(i, "lorem ipsum dolor sit amet " * 3) for i in range(30)]
    pair = [
        (100, "the quick brown fox jumps over the lazy dog again and again"),
        (101, "the quick brown fox jumps over the lazy dog again and again!"),
    ]
    docs = _corpus(spark, boiler + pair)
    sigs = minhash_signatures(docs).cache()

    uncapped = lsh_candidate_pairs(sigs)
    capped = lsh_candidate_pairs(sigs, max_bucket_size=10)

    unc_pairs = {(r.id_a, r.id_b) for r in uncapped.collect()}
    cap_pairs = {(r.id_a, r.id_b) for r in capped.collect()}

    # uncapped: the mega-bucket contributes 30*29/2 pairs plus the near-dup
    assert (100, 101) in unc_pairs
    assert len(unc_pairs) == 30 * 29 // 2 + 1
    # capped: ONLY the small-bucket pair survives
    assert cap_pairs == {(100, 101)}
    sigs.unpersist()


def test_lsh_cap_none_is_exact_default(spark):
    docs = _corpus(
        spark,
        [(1, "alpha beta gamma delta epsilon zeta"), (2, "alpha beta gamma delta epsilon zeta")],
    )
    sigs = minhash_signatures(docs)
    got = lsh_candidate_pairs(sigs).collect()
    assert [(r.id_a, r.id_b, r.n_shared_bands) for r in got] == [(1, 2, 4)]


def test_exact_dedup_groups_on_hash_not_id(spark):
    docs = _corpus(spark, [(3, "same"), (1, "same"), (2, "other")])
    got = {r.canonical_id: r.dup_count for r in exact_dedup(docs).collect()}
    assert got == {1: 2, 2: 1}


def test_lsh_bucket_cap_drops_mega_bucket(spark):
    # The hot-key guard: a degenerate boilerplate bucket (30 identical
    # docs, above a cap of 10) contributes zero candidate pairs, while a
    # distinct near-dup pair in small buckets survives.
    boiler = [(i, "lorem ipsum dolor sit amet " * 3) for i in range(30)]
    pair = [
        (100, "the quick brown fox jumps over the lazy dog again and again"),
        (101, "the quick brown fox jumps over the lazy dog again and again!"),
    ]
    sigs = minhash_signatures(_corpus(spark, boiler + pair))
    got = lsh_candidate_pairs(sigs, max_bucket_size=10).collect()
    assert {(r.id_a, r.id_b) for r in got} == {(100, 101)}


def test_minhash_null_text_dropped(spark):
    docs = spark.createDataFrame(
        [(1, "some text"), (2, None)], "doc_id long, text string"
    )
    sigs = minhash_signatures(docs)
    assert [r.doc_id for r in sigs.collect()] == [1]
    assert sigs.filter(F.col("mh_0").isNull()).count() == 0


# ---------------------------------------------------------------------------
# near-dup clustering: connected components over candidate pairs
# ---------------------------------------------------------------------------

def test_neardup_components_known_graph(spark):
    from nspc_etl_basic_spark.operators.dedup import neardup_components
    from pyspark.sql import functions as F

    nodes = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    # components: {0,1,2,3} as a chain (diameter 3 — needs >1 round),
    # {5,6}, singletons 4,7,8,9
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (5, 6)], "id_a long, id_b long"
    )
    # both kernels: the size-adaptive default (one-pass union-find at
    # this size) and the distributed fixpoint forced via a zero bound
    for kw in ({}, {"onepass_max_edges": 0}):
        out = neardup_components(nodes, pairs, **kw)
        got = {r.doc_id: r.component_id for r in out.collect()}
        assert got == {
            0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 5, 6: 5, 7: 7, 8: 8, 9: 9
        }, kw


def test_neardup_components_merges_via_bridge(spark):
    from nspc_etl_basic_spark.operators.dedup import neardup_components

    nodes = spark.createDataFrame([(i,) for i in range(7)], "doc_id long")
    # two clusters bridged by (3,4): all one component rooted at 0
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (5, 6), (3, 4), (0, 1)], "id_a long, id_b long"
    )
    for kw in ({}, {"onepass_max_edges": 0}):
        out = neardup_components(nodes, pairs, **kw)
        assert {r.component_id for r in out.collect()} == {0}, kw


def test_neardup_components_star_graph_hot_path(spark):
    """High-degree hub: with the threshold low enough to trigger the
    broadcast hot path, the result is identical to the shuffled
    single-path plan (threshold above max degree) — the skew handling
    is a physical rewrite only."""
    from nspc_etl_basic_spark.operators.dedup import neardup_components

    n = 60
    nodes = spark.createDataFrame([(i,) for i in range(n + 3)], "doc_id long")
    # star: hub 7 <- every other node in [0, 60) except itself, plus a
    # separate chain {60, 61, 62} that must stay untouched by the split
    pairs = spark.createDataFrame(
        [(7, i) for i in range(n) if i != 7] + [(60, 61), (61, 62)],
        "id_a long, id_b long",
    )
    # onepass_max_edges=0 forces the distributed fixpoint — the hot
    # branch under test lives there, and this graph is small enough
    # that the size-adaptive default would route around it
    hot = neardup_components(
        nodes, pairs, hot_degree_threshold=8, onepass_max_edges=0
    )
    cold = neardup_components(
        nodes, pairs, hot_degree_threshold=10**9, onepass_max_edges=0
    )
    got_hot = {r.doc_id: r.component_id for r in hot.collect()}
    got_cold = {r.doc_id: r.component_id for r in cold.collect()}
    assert got_hot == got_cold
    assert all(got_hot[i] == 0 for i in range(n))
    assert got_hot[60] == got_hot[61] == got_hot[62] == 60


def test_neardup_components_hub_is_min_label(spark):
    """Star whose hub IS the minimum id — the hot-path broadcast must
    propagate the hub's own label outward, not just fold spokes in."""
    from nspc_etl_basic_spark.operators.dedup import neardup_components

    nodes = spark.createDataFrame([(i,) for i in range(20)], "doc_id long")
    pairs = spark.createDataFrame(
        [(0, i) for i in range(1, 20)], "id_a long, id_b long"
    )
    out = neardup_components(
        nodes, pairs, hot_degree_threshold=5, onepass_max_edges=0
    )
    assert {r.component_id for r in out.collect()} == {0}


def test_neardup_components_empty_pairs(spark):
    from nspc_etl_basic_spark.operators.dedup import neardup_components

    nodes = spark.createDataFrame([(i,) for i in range(4)], "doc_id long")
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    out = neardup_components(nodes, pairs)
    assert {r.doc_id: r.component_id for r in out.collect()} == {
        0: 0, 1: 1, 2: 2, 3: 3
    }


def test_incremental_lsh_finds_corpus_and_batch_dups(spark):
    from nspc_etl_basic_spark.operators.dedup import (
        build_band_store,
        incremental_lsh_pairs,
        minhash_signatures,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    corpus = _corpus(
        spark,
        [(1, base), (2, "completely different text about spark engines"), (3, "third unrelated doc about benchmarks")],
    )
    batch = _corpus(
        spark,
        [
            (100, base + "!"),          # near-dup of corpus doc 1
            (101, "fresh novel content nothing matches this"),
            (102, "fresh novel content nothing matches this!"),  # near-dup of 101
        ],
    )
    store = build_band_store(minhash_signatures(corpus))
    assert "bucket_size" in store.columns
    pairs = {
        (r.id_a, r.id_b)
        for r in incremental_lsh_pairs(minhash_signatures(batch), store).collect()
    }
    assert (100, 1) in pairs            # batch-vs-corpus
    assert (101, 102) in pairs          # within-batch, id_a < id_b
    # no corpus-vs-corpus pairs ever (store is probed, never self-joined)
    assert all(a in (100, 101, 102) for a, _ in pairs)


def test_incremental_lsh_cap_drops_corpus_mega_bucket(spark):
    from nspc_etl_basic_spark.operators.dedup import (
        build_band_store,
        incremental_lsh_pairs,
        minhash_signatures,
    )

    boiler = "lorem ipsum dolor sit amet " * 3
    corpus = _corpus(spark, [(i, boiler) for i in range(30)])
    batch = _corpus(spark, [(100, boiler)])
    store = build_band_store(minhash_signatures(corpus))
    capped = incremental_lsh_pairs(
        minhash_signatures(batch), store, max_bucket_size=10
    )
    assert capped.count() == 0  # mega-bucket filtered by stored size
    uncapped = incremental_lsh_pairs(
        minhash_signatures(batch), store, max_bucket_size=None
    )
    assert uncapped.count() == 30


def test_containment_detects_doc_in_doc(spark):
    """A short doc pasted inside a long one: Jaccard is low (sizes
    differ) but containment of the short side is ~1 — the asymmetric
    signal Jaccard-only dedup misses."""
    from pyspark.sql import functions as F

    from nspc_etl_basic_spark.operators.dedup import (
        containment_on_candidates,
        jaccard_on_candidates,
    )

    short = "the quick brown fox jumps over the lazy dog"
    long_ = ("completely unrelated preamble text goes here first. " * 4
             + short
             + " and then a long unrelated tail continues afterwards. " * 4)
    docs = spark.createDataFrame(
        [(1, short), (2, long_)], "doc_id long, text string"
    )
    cand = spark.createDataFrame([(1, 2)], "id_a long, id_b long")

    cont = containment_on_candidates(docs, cand).collect()[0]
    jac = jaccard_on_candidates(docs, cand).collect()[0]
    assert cont.containment_a > 0.95          # short side fully contained
    assert cont.containment_b < 0.5           # long side is not
    assert jac.jaccard < 0.5                  # jaccard under-scores it
    # identity sanity: containment of X in X is 1
    cand_self = spark.createDataFrame([(1, 1)], "id_a long, id_b long")
    self_row = containment_on_candidates(docs, cand_self).collect()[0]
    assert self_row.containment_a == 1.0 and self_row.containment_b == 1.0


def test_keep_best_representative(spark):
    """Per cluster: argmax quality, lowest-id tiebreak, member count."""
    from nspc_etl_basic_spark.operators.dedup import keep_best_representative

    comp = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 5), (6, 5)],
        ["doc_id", "component_id"],
    )
    qual = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (4, 7), (5, 2), (6, 2)],
        ["doc_id", "n_chars"],
    )
    out = {
        r["component_id"]: (r["kept_doc_id"], r["n_chars"], r["n_members"])
        for r in keep_best_representative(comp, qual, "n_chars").collect()
    }
    assert out == {
        1: (2, 30, 3),  # tie 2 vs 3 at 30 -> lowest id
        4: (4, 7, 1),  # singleton keeps itself
        5: (5, 2, 2),
    }


def test_minhash_xxhash64_tier(spark):
    """Production-hash tier: long signatures, same plan shape, finds
    the same exact-duplicate structure LSH-banding-wise as md5."""
    from nspc_etl_basic_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    base = [
        (i, f"the quick brown fox jumps over dog number {i} " * 4)
        for i in range(40)
    ]
    dups = [(100 + i, t) for i, t in [(i, t) for i, t in base[:10]]]
    df = spark.createDataFrame(base + dups, ["doc_id", "text"])
    sigs = minhash_signatures(df, hash_fn="xxhash64")
    # long-typed signatures, deterministic under repartition
    assert all(f.dataType.simpleString() == "bigint"
               for f in sigs.schema.fields if f.name.startswith("mh_"))
    a = sorted(tuple(r) for r in sigs.collect())
    b = sorted(
        tuple(r)
        for r in minhash_signatures(
            df.repartition(5), hash_fn="xxhash64"
        ).collect()
    )
    assert a == b
    # every exact duplicate pair collides in all bands for BOTH tiers
    pairs_x = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(sigs).collect()
        if r["n_shared_bands"] == 4
    }
    pairs_m = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(minhash_signatures(df)).collect()
        if r["n_shared_bands"] == 4
    }
    expected = {(i, 100 + i) for i in range(10)}
    assert expected <= pairs_x and expected <= pairs_m
    import pytest as _pt

    with _pt.raises(ValueError):
        minhash_signatures(df, hash_fn="sha1")


def _per_position_shingles(text, k):
    """The formulation ``shingle_array`` replaced, kept as its reference:
    shingle i is ``substring(text, i, k)`` over ``sequence(1, L-k+1)``,
    an O(L²) walk per document."""
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(text) - (k - 1), F.lit(1))),
        lambda i: F.substring(text, i, k),
    )


SHINGLE_KS = (1, 5, 8, 12)
# one code point each: ASCII, a Latin accent, CJK, emoji outside the BMP
# (a surrogate pair in a Java string) and whitespace; the random texts
# also draw the two-code-point "\r\n"
_CODE_POINTS = [*"abcxyz ", "é", "中", "文", "😀", "🎉", "\t", "\n"]


def _assert_shingles_match_reference(spark, monkeypatch, seed):
    rng = random.Random(seed)
    texts = [None, ""]
    for k in SHINGLE_KS:
        texts += ["".join(rng.choices(_CODE_POINTS, k=n)) for n in (k - 1, k, k + 1)]
    texts += [
        "".join(rng.choices(_CODE_POINTS + ["\r\n"], k=rng.randint(0, 40)))
        for _ in range(150)
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")

    def rows(frame):
        return {r[0]: tuple(r[1:]) for r in frame.collect()}

    for k in SHINGLE_KS:
        got = rows(df.select("doc_id", shingle_array(F.col("text"), k)))
        ref = rows(df.select("doc_id", _per_position_shingles(F.col("text"), k)))
        assert got == ref, k
        sigs = {
            h: rows(minhash_signatures(df, k=k, hash_fn=h))
            for h in ("md5", "xxhash64")
        }
        with monkeypatch.context() as m:
            m.setattr(dedup, "shingle_array", _per_position_shingles)
            for h, got_sigs in sigs.items():
                assert got_sigs == rows(minhash_signatures(df, k=k, hash_fn=h)), (k, h)


def test_shingle_array_matches_per_position_reference_one_seed(spark, monkeypatch):
    # default-tier representative of the randomized suite below
    _assert_shingles_match_reference(spark, monkeypatch, 1515)


def test_shingle_array_matches_per_position_reference_randomized(spark, monkeypatch):
    for seed in (1616, 1717, 1818):
        _assert_shingles_match_reference(spark, monkeypatch, seed)


def test_shingle_array_builds_no_lambda(spark):
    """The kernel stays one linear scan: a higher-order function's lambda
    runs interpreted, and the per-position ``substring`` one re-walked
    the document for every shingle."""
    df = spark.createDataFrame([("abc",)], "text string")

    def analyzed(col):
        return df.select(col)._jdf.queryExecution().analyzed().toString()

    ref = analyzed(_per_position_shingles(F.col("text"), 8))
    assert "lambdafunction" in ref and "transform(" in ref
    plan = analyzed(shingle_array(F.col("text"), 8))
    assert "lambdafunction" not in plan and "transform(" not in plan, plan


def test_incremental_components_matches_batch_rebuild(spark):
    from nspc_etl_basic_spark.operators.dedup import (
        incremental_components,
        neardup_components,
    )

    old_nodes = spark.createDataFrame([(i,) for i in range(1, 11)], "doc_id long")
    old_pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_a long, id_b long"
    )
    existing = neardup_components(old_nodes, old_pairs)

    new_nodes = spark.createDataFrame(
        [(100,), (101,), (102,)], "doc_id long"
    )
    # 100 joins old {1,2,3}; 101 chains to 100 AND to old {5,6}: the
    # batch bridges TWO existing components through new docs; 102 has
    # no pairs (singleton)
    batch_pairs = spark.createDataFrame(
        [(100, 3), (100, 101), (101, 5)], "id_a long, id_b long"
    )
    incr = {
        r.doc_id: r.component_id
        for r in incremental_components(
            new_nodes, batch_pairs, existing
        ).collect()
    }

    rebuild = {
        r.doc_id: r.component_id
        for r in neardup_components(
            old_nodes.unionByName(new_nodes),
            old_pairs.unionByName(batch_pairs),
        ).collect()
    }
    assert incr == rebuild
    assert incr[101] == 1 and incr[5] == 1 and incr[6] == 1  # bridged
    assert incr[102] == 102 and incr[4] == 4  # singletons untouched
    assert len(incr) == 13  # one row per doc, existing + new


def test_incremental_components_empty_batch_and_reingest(spark):
    from nspc_etl_basic_spark.operators.dedup import (
        incremental_components,
        neardup_components,
    )

    old_nodes = spark.createDataFrame([(1,), (2,), (3,)], "doc_id long")
    old_pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    existing = neardup_components(old_nodes, old_pairs)

    # empty batch: labels unchanged, no extra rows
    empty_nodes = spark.createDataFrame([], "doc_id long")
    empty_pairs = spark.createDataFrame([], "id_a long, id_b long")
    out = {
        r.doc_id: r.component_id
        for r in incremental_components(
            empty_nodes, empty_pairs, existing
        ).collect()
    }
    assert out == {1: 1, 2: 1, 3: 3}

    # re-ingesting an existing doc id emits it ONCE, with its (possibly
    # merged) label
    reingest = spark.createDataFrame([(3,)], "doc_id long")
    pairs = spark.createDataFrame([(3, 2)], "id_a long, id_b long")
    rows = incremental_components(reingest, pairs, existing).collect()
    got = {r.doc_id: r.component_id for r in rows}
    assert len(rows) == 3 and got == {1: 1, 2: 1, 3: 1}


def test_incremental_components_randomized_equivalence(spark):
    # seeded random graphs: old corpus with random pairs, a batch with
    # random old-new and new-new pairs — the contraction path must
    # equal the from-scratch rebuild on every draw (the hand-built
    # cases can't cover chain/bridge shapes exhaustively)
    import random

    from nspc_etl_basic_spark.operators.dedup import (
        incremental_components,
        neardup_components,
    )

    rng = random.Random(80823)
    for _ in range(3):
        n_old, n_new = 30, 12
        old_ids = list(range(1, n_old + 1))
        new_ids = list(range(101, 101 + n_new))
        old_pairs = [
            (a, b)
            for a in old_ids
            for b in old_ids
            if a < b and rng.random() < 0.05
        ]
        batch_pairs = [
            (n, rng.choice(old_ids + new_ids))
            for n in new_ids
            if rng.random() < 0.7
        ]
        batch_pairs = [(a, b) for a, b in batch_pairs if a != b]
        old_nodes = spark.createDataFrame([(i,) for i in old_ids], "doc_id long")
        new_nodes = spark.createDataFrame([(i,) for i in new_ids], "doc_id long")
        op = spark.createDataFrame(
            old_pairs or [(1, 1)], "id_a long, id_b long"
        ).where("id_a != id_b")
        bp = spark.createDataFrame(
            batch_pairs or [(101, 101)], "id_a long, id_b long"
        ).where("id_a != id_b")
        existing = neardup_components(old_nodes, op)
        incr = {
            r.doc_id: r.component_id
            for r in incremental_components(new_nodes, bp, existing).collect()
        }
        rebuild = {
            r.doc_id: r.component_id
            for r in neardup_components(
                old_nodes.unionByName(new_nodes), op.unionByName(bp)
            ).collect()
        }
        assert incr == rebuild


def _assert_onepass_matches_fixpoint(spark, rng):
    # the round-12 one-pass union-find must produce EXACTLY the
    # min-label components the distributed fixpoint converges to, over
    # one seeded random graph (chains, bridges, isolated pairs)
    from nspc_etl_basic_spark.operators.dedup import (
        components_onepass,
        neardup_components,
    )

    ids = list(range(1, 61))
    pairs = [
        (a, b)
        for a in ids
        for b in ids
        if a < b and rng.random() < 0.04
    ]
    if not pairs:
        pairs = [(1, 2)]
    nodes = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    pdf = spark.createDataFrame(pairs, "id_a long, id_b long")
    fix = {
        r.doc_id: r.component_id
        # onepass_max_edges=0: force the DISTRIBUTED fixpoint —
        # the round-13 size-adaptive default would otherwise route
        # this small graph through onepass and the test would
        # compare the kernel with itself
        for r in neardup_components(
            nodes, pdf, onepass_max_edges=0
        ).collect()
    }
    one = {
        r.doc_id: r.component_id
        for r in components_onepass(pdf, id_col="doc_id").collect()
    }
    # onepass covers only paired ids; the fixpoint unions singletons
    paired = {a for a, _ in pairs} | {b for _, b in pairs}
    assert one == {k: v for k, v in fix.items() if k in paired}


def test_components_onepass_matches_fixpoint_one_seed(spark):
    # default-tier representative of the randomized suite below
    import random

    _assert_onepass_matches_fixpoint(spark, random.Random(141414))


def test_components_onepass_matches_fixpoint_randomized(spark):
    # three seeded graphs in single-group mode, then key-local (cell)
    # mode
    import random

    from nspc_etl_basic_spark.operators.dedup import components_onepass

    rng = random.Random(121212)
    for _ in range(3):
        _assert_onepass_matches_fixpoint(spark, rng)

    # key-local mode: two disjoint key groups, components never span keys
    kp = spark.createDataFrame(
        [(10, 1, 2), (10, 2, 3), (20, 7, 8), (20, 8, 9), (20, 7, 9)],
        "cell long, id_a long, id_b long",
    )
    got = {
        r.doc_id: r.component_id
        for r in components_onepass(kp, id_col="doc_id", key_col="cell").collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7, 9: 7}


def test_components_onepass_string_ids(spark):
    from nspc_etl_basic_spark.operators.dedup import components_onepass

    pdf = spark.createDataFrame(
        [("b", "c"), ("a", "b")], "id_a string, id_b string"
    )
    got = {
        r.doc_id: r.component_id
        for r in components_onepass(pdf, id_col="doc_id").collect()
    }
    assert got == {"a": "a", "b": "a", "c": "a"}
