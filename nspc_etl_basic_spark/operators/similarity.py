"""Similarity search over embedding columns (array<float>).

Two tiers, both pure DataFrame algebra (no Python UDFs in the hot path):

  - ``cosine_topk``: brute-force exact cosine top-k — the correctness
    baseline. O(|queries| x |corpus|) via a crossJoin; at scale you bound
    |queries| per job (it's the re-ranking stage, not the recall stage).
    The dot product is ``aggregate(zip_with(a, b, *), sum)`` in double —
    JVM higher-order functions, codegen'd, no shuffle until the top-k
    window (which shuffles only (query_id, dist) pairs, not vectors).

  - ``rp_lsh_topk``: random-hyperplane LSH (SimHash-for-vectors) as the
    scale path. Each vector gets a ``n_planes``-bit signature; candidates
    are corpus vectors sharing a signature bucket with the query; exact
    cosine re-ranks candidates only. The hyperplanes are DETERMINISTIC
    (component sign derived from md5(plane || '_' || dim)) so the same
    buckets are reproducible across engines — the DuckDB oracle in
    ``__spark_entry__.py`` derives the identical planes.

Scale notes: at 100 TB the corpus side is scanned once to signatures
(narrow projection), bucketed by signature (one shuffle), and only bucket
collisions are re-ranked. Brute force remains as the per-bucket kernel.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def dot(a: Column, b: Column) -> Column:
    """Sum of elementwise products, computed in double. Left-to-right fold
    — deterministic summation order (matches DuckDB list_dot_product)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    max_queries: int | None = 10_000,
) -> DataFrame:
    """Exact top-k by cosine for every query vector.

    ``queries`` must carry (query_id_col, vec_col). Self-matches (same id)
    are excluded when query ids live in the corpus id space. Ties broken by
    corpus id ascending — deterministic, SQL-expressible.

    ``max_queries`` guards the exact tier's O(|q| x |c|) crossJoin: this
    operator is the bounded re-rank/baseline kernel, and nothing else
    stops an accidental all-pairs launch at 100 TB. If the query side
    exceeds the bound (checked with a LIMIT-bounded count — never a full
    scan), raise and point at the ANN tiers. ``None`` disables the guard
    for callers that have already bounded the input.
    """
    if max_queries is not None:
        if queries.limit(max_queries + 1).count() > max_queries:
            raise ValueError(
                f"cosine_topk: query side exceeds max_queries={max_queries}; "
                "the exact crossJoin tier is for bounded re-ranking. Use "
                "ivf_topk or rp_lsh_topk for large query sets, or raise/"
                "disable max_queries explicitly."
            )
    # Norms are per-vector constants: compute each ONCE per side instead of
    # per pair — the arithmetic (dot / (norm_q * norm_c)) is unchanged, only
    # hoisted out of the O(|q| x |c|) loop. At scale this is the difference
    # between 3 and 1 higher-order array folds per candidate pair.
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("__qvec"),
        norm(F.col(vec_col)).alias("__qnorm"),
    )
    c = corpus.select(
        F.col(id_col),
        F.col(vec_col).alias("__cvec"),
        norm(F.col(vec_col)).alias("__cnorm"),
    )
    sim = (
        q.crossJoin(c)
        .filter(F.col(query_id_col) != F.col(id_col))
        .select(
            query_id_col,
            id_col,
            F.round(
                dot(F.col("__qvec"), F.col("__cvec"))
                / (F.col("__qnorm") * F.col("__cnorm")),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos_sim").desc(), F.col(id_col).asc()
    )
    return (
        sim.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .select(query_id_col, id_col, "cos_sim", F.col("__rk").alias("rank"))
    )


def _plane(p: int, dim: int) -> list[float]:
    """Deterministic ±1 hyperplane: component i = parity of the first hex
    nibble of md5('<p>_<i>'). Computed ONCE on the driver (the planes are
    pure constants — recomputing md5 per row per dimension would put ~1M
    hash calls in the hot path for nothing); the DuckDB oracle derives the
    identical values with the same md5 expression."""
    return [
        1.0 if int(hashlib.md5(f"{p}_{i}".encode()).hexdigest()[0], 16) % 2 == 1 else -1.0
        for i in range(dim)
    ]


def rp_signature(
    vec: Column, n_planes: int = 8, dim: int = 64, plane_offset: int = 0
) -> Column:
    """Random-hyperplane signature: bit p = (vec . plane_p) >= 0, packed
    into a long. Planes are the deterministic md5-derived ±1 constant
    vectors, embedded as literal arrays — the per-row work is n_planes
    codegen'd dot products, no hashing. ``plane_offset`` selects an
    independent plane family (plane index = offset + p) so multi-table
    LSH can union several signatures for recall.

    ``dim`` MUST match the actual vector length: the planes are constants
    of that length, and ``zip_with`` would null-pad a mismatched vector,
    silently collapsing every signature to 0 (one giant bucket — the exact
    O(n²) hot-key bomb LSH exists to avoid). A per-row ``assert_true``
    guard turns that silent degradation into a loud error."""
    from nspc_etl_basic_spark.functions.fastlit import nested_lit

    # one fastlit literal for the whole plane family + constant-folded
    # element_at per plane: n_planes*dim F.lit py4j calls (512 for the
    # 8x64 default, ~0.5 s of driver time PER CALL SITE) -> one call
    planes_lit = nested_lit(
        [_plane(plane_offset + p, dim) for p in range(n_planes)],
        "array<array<double>>",
    )
    sig = None
    for p in range(n_planes):
        plane = F.element_at(planes_lit, p + 1)
        proj = F.aggregate(
            F.zip_with(vec, plane, lambda x, w: x.cast("double") * w),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bit = F.when(proj >= 0, F.lit(1 << p).cast("long")).otherwise(F.lit(0).cast("long"))
        sig = bit if sig is None else (sig + bit)
    guard = F.assert_true(
        F.size(vec) == dim,
        F.concat(
            F.lit(
                f"rp_signature: plane dim {dim} != vector dim "
            ),
            F.size(vec).cast("string"),
            F.lit("; pass dim=<actual length> (signatures would all be 0)"),
        ),
    )
    # assert_true yields NULL on success; the when() forces its evaluation
    # per row without changing the signature value.
    return F.when(guard.isNull(), sig)


def embedding_neardup(
    corpus: DataFrame,
    threshold: float = 0.3,
    n_planes: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cos_sim) for
    pairs sharing a random-hyperplane bucket with cosine >= threshold.

    The all-pairs O(n^2) comparison is avoided the same way MinHash-LSH
    avoids it for text: bucket on the rp-signature (one shuffle keyed by an
    8-byte long), compare only within buckets (expected n^2 / 2^n_planes
    pairs), verify with exact cosine. Both self-join branches read the
    corpus, so a caller whose corpus is a recomputable projection should
    ``materialize.hold`` it inside a ``scope``.

    ``max_bucket_size`` is the same hot-key guard as in
    ``dedup.lsh_candidate_pairs``: a degenerate signature bucket (e.g. the
    zero vector, a saturated embedding) self-joins O(bucket²) in one task;
    buckets above the cap are dropped before the join. ``None`` keeps
    exact in-bucket all-pairs semantics.
    """
    sig = corpus.select(
        F.col(id_col),
        F.col(vec_col).alias("__v"),
        norm(F.col(vec_col)).alias("__n"),
        rp_signature(F.col(vec_col), n_planes, dim).alias("__sig"),
    )
    if max_bucket_size is not None:
        w = Window.partitionBy("__sig")
        sig = (
            sig.withColumn("__bsz", F.count(F.lit(1)).over(w))
            .filter(F.col("__bsz") <= max_bucket_size)
            .drop("__bsz")
        )
    a = sig.select(
        F.col(id_col).alias("id_a"), F.col("__v").alias("__va"),
        F.col("__n").alias("__na"), F.col("__sig"),
    )
    b = sig.select(
        F.col(id_col).alias("id_b"), F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"), F.col("__sig"),
    )
    cos = F.round(
        dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb")), 6
    )
    return (
        a.join(b, "__sig")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def ivf_centroids(
    corpus: DataFrame,
    n_cells: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[tuple[int, list[float]]]:
    """Deterministic coarse centroids for IVF: the ``n_cells`` lowest-id
    corpus vectors, collected to the driver. A production IVF trains
    k-means centroids; centroid quality affects recall only, never the
    operator contract, so a deterministic choice keeps the oracle exact.
    The collect is O(n_cells) rows — the same driver-side footprint as a
    trained quantizer's codebook."""
    rows = (
        corpus.orderBy(F.col(id_col).asc())
        .limit(n_cells)
        .select(id_col, vec_col)
        .collect()
    )
    return [(r[0], [float(x) for x in r[1]]) for r in rows]


#: fixed-point scale for deterministic k-means training: vectors are
#: quantized to integer micros, so every dot product / sum is an exact
#: integer (representable in float64 up to 2^53) and the trained
#: codebook is bit-identical regardless of partitioning OR engine
KMEANS_SCALE = 1_000_000


def _floor_div(a: int, b: int) -> int:
    """Exact floor division (b > 0) via the divisible-numerator form —
    the same expression the SQL oracle uses (DuckDB ``//`` truncates
    while Python ``//`` floors; subtracting the non-negative mod first
    makes the numerator exactly divisible, so both agree)."""
    return (a - ((a % b) + b) % b) // b


def train_ivf_centroids(
    corpus: DataFrame,
    n_cells: int = 16,
    n_iter: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = KMEANS_SCALE,
) -> list[tuple[int, list[float]]]:
    """Lloyd's k-means for the IVF coarse quantizer — the recall upgrade
    over the deterministic ``ivf_centroids`` pick.

    DETERMINISM CONTRACT (round 5): training runs entirely in a
    fixed-point integer domain, so the trained codebook is
    bit-identical regardless of partitioning, executor count, or
    engine — a DuckDB oracle replays it exactly:

    - vectors are quantized once per pass: ``vq = floor(v*scale + 0.5)``
      (IEEE ops, identical everywhere);
    - assignment score is ``double(dot(vq, cq)) / sqrt(double(cq·cq))``
      — dot products of integer-micro vectors are exact integers below
      2^53, so they are order-independent (BLAS, sequential fold, and
      SQL all produce the same number), and the float division/sqrt of
      exact integers is correctly rounded hence identical; ties take
      the lowest cell index (numpy first-max == SQL ORDER BY score
      DESC, cell ASC);
    - the centroid update accumulates exact integer (count, sum)
      per cell — integer addition commutes, so partition order is
      irrelevant — and re-quantizes to the micro grid with
      round-half-up: ``cq = floor_div(2*sum + cnt, 2*cnt)``;
    - empty cells keep their previous centroid.

    Magnitude bounds (dim<=512, |v|<=4): |vq| <= 4e6, |dot| <=
    512*1.6e13 ≈ 8e15 — hmm, at those extremes use a larger float or a
    smaller scale; for the shipped dim=64, |v|<1 corpora the bound is
    64*(1e6)^2 = 6.4e13, three orders inside 2^53. Per-cell integer
    sums are Python ints on the driver (arbitrary precision): at
    lake scale (1e12 rows) they exceed int64 — the partial rows carry
    per-BATCH sums (bounded by batch size * scale, always in-range)
    and only the driver reduce goes big.

    The plan shape is unchanged from the float version: each iteration
    is one Arrow ``mapInPandas`` pass (precision contract: float64
    vectors and int64 partial sums only cross the boundary — no
    timestamps, no unit conversions) emitting <= k per-cell partial
    (count, sum-vector) rows per batch (the treeAggregate shape), with
    a codebook-sized driver reduce — n_iter embarrassingly-parallel
    corpus scans, no shuffle at all. The matmul stays BLAS float64:
    exactness comes from the integer-valued inputs, not from the
    summation order.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    seeds = ivf_centroids(corpus, n_cells, vec_col, id_col)
    if not seeds:
        return seeds
    dim = len(seeds[0][1])
    cids = [cid for cid, _ in seeds]
    # quantized integer codebook, seeded from the quantized seed vectors
    cq = [
        [int(math.floor(x * scale + 0.5)) for x in vec] for _, vec in seeds
    ]
    vecs = corpus.select(F.col(vec_col).alias("__v"))
    partial_schema = T.StructType(
        [
            T.StructField("cell", T.IntegerType()),
            T.StructField("cnt", T.LongType()),
            T.StructField("vsum", T.ArrayType(T.LongType())),
        ]
    )
    for _ in range(max(0, n_iter)):
        codebook = np.array(cq, dtype=np.float64)  # integer-valued
        cc = (codebook * codebook).sum(axis=1)  # exact ints < 2^53
        # cc == 0 (all-zero centroid) scores -inf so it never wins
        denom = np.sqrt(np.where(cc == 0, 1.0, cc))
        penalty = np.where(cc == 0, -np.inf, 0.0)

        def partials(batches, _cb=codebook, _dn=denom, _pen=penalty, _s=scale):
            for pdf in batches:
                mat = np.array(list(pdf["__v"]), dtype=np.float64)
                if mat.size == 0:
                    continue
                vq = np.floor(mat * _s + 0.5)  # integer-valued float64
                # dot of integer-valued float64 is EXACT (< 2^53), so
                # BLAS order doesn't matter; argmax takes the FIRST
                # max -> ties resolve to the lowest cell index
                score = (vq @ _cb.T) / _dn[None, :] + _pen[None, :]
                cell = np.argmax(score, axis=1)
                rows = []
                for ci in np.unique(cell):
                    sel = vq[cell == ci]
                    rows.append(
                        (
                            int(ci),
                            len(sel),
                            [int(x) for x in sel.sum(axis=0)],
                        )
                    )
                yield pd.DataFrame(rows, columns=["cell", "cnt", "vsum"])

        got = vecs.mapInPandas(partials, partial_schema).collect()
        acc_cnt = [0] * len(cids)
        acc_sum = [[0] * dim for _ in cids]  # Python ints: no overflow
        for r in got:
            acc_cnt[r["cell"]] += r["cnt"]
            row = acc_sum[r["cell"]]
            for i, x in enumerate(r["vsum"]):
                row[i] += x
        cq = [
            [
                _floor_div(2 * acc_sum[i][d] + acc_cnt[i], 2 * acc_cnt[i])
                for d in range(dim)
            ]
            if acc_cnt[i] > 0
            else old
            for i, old in enumerate(cq)
        ]
    return [(cid, [c / scale for c in row]) for cid, row in zip(cids, cq)]


def _ivf_cells_sorted(
    vec: Column,
    cents: list[tuple[int, list[float]]],
    norm_col: Column | None = None,
) -> Column:
    """Array of struct(neg_score, cent_id) sorted best-cell-first.

    The centroid codebook is embedded as literal arrays, so scoring every
    cell is a per-row projection (codegen'd dot products) — IVF assignment
    needs NO shuffle and NO join; lexicographic struct sort on
    (-score, cent_id) makes ties deterministic. Scores are rounded to 6
    so the cell boundary is reproducible across engines.

    Pass ``norm_col`` (the row's precomputed vector norm) whenever one is
    available: higher-order-function folds are not subexpression-
    eliminated, so an inline ``norm(vec)`` would be re-evaluated once PER
    CELL — n_cells redundant array folds per row."""
    from nspc_etl_basic_spark.functions.fastlit import nested_lit

    if not cents:
        return F.sort_array(F.array())
    vnorm = norm_col if norm_col is not None else norm(vec)
    # CONSTANT-SIZE expression tree (round 12): the codebook, the
    # centroid norms, and the cell ids each enter as ONE fastlit
    # literal, and the per-cell scoring runs as a `transform` lambda
    # over the index sequence — so the plan holds O(1) expression
    # nodes regardless of n_cells. The previous shape unrolled one
    # struct (with its own zip_with/aggregate fold) PER CELL:
    # O(n_cells x dim) expression nodes, whose Catalyst optimization +
    # codegen COMPILE cost dominated every auto-n_cells caller
    # (semantic_dedup_auto derives n_cells from the corpus, so at
    # 100 TB the unrolled plan would hold tens of thousands of folds —
    # megabytes of generated code, past the JIT/64KB-method cliff).
    # The per-(row, cell) ARITHMETIC is unchanged expression-for-
    # expression (same fold order, same literal values — the centroid
    # norm literal is the same Python float, json round-tripped
    # exactly), so scores, ties, and the sorted order are bit-identical
    # to the unrolled plan and every oracle replay still matches.
    cb_lit = nested_lit(
        [[float(w) for w in cvec] for _cid, cvec in cents],
        "array<array<double>>",
    )
    cn_lit = nested_lit(
        [float(sum(w * w for w in cvec) ** 0.5) for _cid, cvec in cents],
        "array<double>",
    )
    cid_lit = nested_lit(
        [int(cid) for cid, _cvec in cents], "array<bigint>"
    )
    scored = F.transform(
        F.sequence(F.lit(1), F.lit(len(cents))),
        lambda i: F.struct(
            (
                -F.round(
                    F.aggregate(
                        F.zip_with(
                            vec,
                            F.element_at(cb_lit, i),
                            lambda x, w: x.cast("double") * w,
                        ),
                        F.lit(0.0),
                        lambda acc, v: acc + v,
                    )
                    / (vnorm * F.element_at(cn_lit, i)),
                    6,
                )
            ).alias("neg_score"),
            F.element_at(cid_lit, i).alias("cent_id"),
        ),
    )
    return F.sort_array(scored)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """IVF approximate top-k: corpus vectors are inverted-listed under
    their nearest coarse centroid; each query probes its ``n_probe``
    nearest cells and exact-cosine re-ranks only those cells' vectors.

    Scale contract: assignment is a projection (the codebook rides the
    closure as literals — no shuffle, no join, embarrassingly parallel
    with the scan); the only corpus-wide shuffle is the equi-join on the
    8-byte cell id; re-rank work is |corpus| * n_probe / n_cells per
    query instead of |corpus|. Recall is tuned by n_probe/n_cells — and
    by codebook quality: pass ``centroids`` from ``train_ivf_centroids``
    for the k-means tier (the default deterministic pick is the oracle
    tier).
    """
    cents = centroids or ivf_centroids(corpus, n_cells, vec_col, id_col)
    # two-stage projection: materialize the norm once, then score cells
    # against it (norm inline in the cell array would fold n_cells times)
    c = corpus.select(
        F.col(id_col),
        F.col(vec_col).alias("__cvec"),
        norm(F.col(vec_col)).alias("__cnorm"),
    ).select(
        id_col,
        "__cvec",
        "__cnorm",
        F.element_at(
            _ivf_cells_sorted(F.col("__cvec"), cents, F.col("__cnorm")), 1
        )["cent_id"].alias("__cell"),
    )
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("__qvec"),
        norm(F.col(vec_col)).alias("__qnorm"),
    ).select(
        query_id_col,
        "__qvec",
        "__qnorm",
        F.explode(
            F.transform(
                F.slice(
                    _ivf_cells_sorted(F.col("__qvec"), cents, F.col("__qnorm")),
                    1,
                    n_probe,
                ),
                lambda s: s["cent_id"],
            )
        ).alias("__cell"),
    )
    sim = (
        q.join(c, "__cell")
        .filter(F.col(query_id_col) != F.col(id_col))
        .select(
            query_id_col,
            id_col,
            F.round(
                dot(F.col("__qvec"), F.col("__cvec"))
                / (F.col("__qnorm") * F.col("__cnorm")),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos_sim").desc(), F.col(id_col).asc()
    )
    return (
        sim.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .select(query_id_col, id_col, "cos_sim", F.col("__rk").alias("rank"))
    )


def rp_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: bucket by random-hyperplane signature, exact
    cosine re-rank within the query's bucket only.

    Recall tuning is n_planes (fewer planes -> bigger buckets -> higher
    recall, more work). At scale, the corpus signature projection is a
    one-pass scan and the join shuffles on the 8-byte signature.
    ``dim`` must equal the embedding length (see ``rp_signature``).
    """
    c_sig = corpus.select(
        F.col(id_col), F.col(vec_col).alias("__cvec"),
        norm(F.col(vec_col)).alias("__cnorm"),
        rp_signature(F.col(vec_col), n_planes, dim).alias("__sig"),
    )
    q_sig = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("__qvec"),
        norm(F.col(vec_col)).alias("__qnorm"),
        rp_signature(F.col(vec_col), n_planes, dim).alias("__sig"),
    )
    sim = (
        q_sig.join(c_sig, "__sig")
        .filter(F.col(query_id_col) != F.col(id_col))
        .select(
            query_id_col,
            id_col,
            F.round(
                dot(F.col("__qvec"), F.col("__cvec"))
                / (F.col("__qnorm") * F.col("__cnorm")),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos_sim").desc(), F.col(id_col).asc()
    )
    return (
        sim.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .select(query_id_col, id_col, "cos_sim", F.col("__rk").alias("rank"))
    )


def quantize_embeddings(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric int8 quantization of an embedding column: per-vector
    scale = max|v| / 127, q_i = clamp(floor(v_i/scale + 0.5), ±127) —
    4x storage reduction for a 100 TB float32 embedding table, with the
    per-vector scale kept for dequantization/scoring.

    ``floor(x + 0.5)`` instead of ``round``: round() semantics at .5
    differ across engines (banker's vs half-away), floor is identical
    everywhere, so the operator stays oracle-checkable bit-for-bit.
    Emits reconstruction MAE per vector as the quality signal. Pure
    column algebra — a projection that fuses with the scan, no shuffle.
    """
    vec = F.col(vec_col)
    # hoist the per-vector scale into its OWN projection step: embedding
    # the array_max expression inside each per-element lambda would
    # re-evaluate it per element (no CSE across lambda bodies) — an
    # O(dim^2) blowup per row
    scale_expr = (
        F.array_max(F.transform(vec, lambda x: F.abs(x.cast("double"))))
        / F.lit(127.0)
    )
    staged = corpus.select(
        F.col(id_col), vec.alias("__v"), scale_expr.alias("__scale")
    )
    vec = F.col("__v")
    scale = F.col("__scale")

    def q_of(x):
        return F.greatest(
            F.least(F.floor(x.cast("double") / scale + F.lit(0.5)), F.lit(127)),
            F.lit(-127),
        )

    q_vec = F.transform(
        vec,
        lambda x: F.when(scale == 0, F.lit(0)).otherwise(q_of(x)).cast("long"),
    )
    mae = F.round(
        F.aggregate(
            F.transform(
                vec,
                lambda x: F.when(scale == 0, F.abs(x.cast("double"))).otherwise(
                    F.abs(x.cast("double") - q_of(x) * scale)
                ),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        / F.size(vec),
        6,
    )
    return staged.select(
        F.col(id_col),
        F.round(scale, 6).alias("q_scale"),
        q_vec.alias("q_vec"),
        mae.alias("mae"),
    )


def embedding_covariance(
    df: DataFrame,
    vec_col: str = "embedding",
    dims: int | None = None,
    exact: bool = True,
) -> DataFrame:
    """Sample covariance matrix of an embedding column, one aggregate pass.

    Returns long-format ``(i, j, cov)`` for the upper triangle (i <= j) of
    the first ``dims`` dimensions (all, if None). The pass accumulates
    n + dims first moments + dims*(dims+1)/2 second moments as DECIMAL
    sums — exact, associative, so the matrix is bitwise-stable at any
    parallelism. Each product is computed in double (float inputs widen
    exactly) before the decimal cast.

    Scale: a single map-side-combined global aggregate — the 100 TB cost
    is one scan; no shuffle carries vectors, only the O(dims^2) partial
    sums merge. For dims=64 that is 2,146 accumulators (~17 KB/task).
    This is the input stage for :func:`pca_components`.

    ``exact=False`` accumulates in plain double — ~2.5x faster (measured)
    but the low bits depend on partition merge order; use it where the
    consumer tolerates float-sum drift (PCA does: the eigh output is
    rounded anyway). The oracled driver query keeps ``exact=True``.
    """
    v = F.col(vec_col)
    if dims is None:
        first = df.select(v).first()
        if first is None or first[0] is None:
            raise ValueError(
                "embedding_covariance: empty input (or null first vector) — "
                "pass dims explicitly or provide data"
            )
        d = len(first[0])
    else:
        d = dims
    el = [v.getItem(i).cast("double") for i in range(d)]

    def acc(col):
        return col.cast("decimal(28,12)") if exact else col

    aggs = [F.count(F.lit(1)).alias("_n")]
    aggs += [F.sum(acc(el[i])).alias(f"_s_{i}") for i in range(d)]
    for i in range(d):
        for j in range(i, d):
            aggs.append(
                F.sum(acc(el[i] * el[j])).alias(f"_p_{i}_{j}")
            )
    row = df.agg(*aggs)

    n = F.col("_n").cast("double")
    pairs = []
    for i in range(d):
        for j in range(i, d):
            # n > 1 guard: sample covariance divides by n-1, and ANSI
            # mode turns that into a hard DIVIDE_BY_ZERO for a single
            # row; null instead (pca_components raises a clear error).
            # Arithmetic for n > 1 is unchanged (oracle parity).
            cov = F.when(
                n > F.lit(1.0),
                (
                    F.col(f"_p_{i}_{j}").cast("double")
                    - F.col(f"_s_{i}").cast("double")
                    * F.col(f"_s_{j}").cast("double") / n
                ) / (n - F.lit(1.0)),
            )
            pairs.append(
                F.struct(
                    F.lit(i).alias("i"), F.lit(j).alias("j"),
                    F.round(cov, 8).alias("cov"),
                )
            )
    return (
        row.select(F.explode(F.array(*pairs)).alias("e"))
        .select("e.i", "e.j", "e.cov")
        .orderBy("i", "j")
    )


def pca_components(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 8,
    dims: int | None = None,
    exact: bool = False,
) -> list[list[float]]:
    """Top-k principal components via the distributed covariance pass.

    The covariance matrix (O(dims^2) scalars) is the ONLY thing collected
    to the driver; the eigendecomposition of a 64x64 matrix is trivial
    there (numpy.linalg.eigh). Sign convention: each component's
    largest-|coefficient| entry is made positive, so the basis is
    deterministic (eigenvectors are sign-ambiguous otherwise).
    """
    import numpy as np

    rows = embedding_covariance(df, vec_col, dims, exact=exact).collect()
    if not rows or any(r["cov"] is None for r in rows):
        # n <= 1 makes every sample covariance null (division by n-1)
        raise ValueError("pca_components needs at least 2 vectors")
    d = max(r["j"] for r in rows) + 1
    C = np.zeros((d, d))
    for r in rows:
        C[r["i"], r["j"]] = C[r["j"], r["i"]] = r["cov"]
    vals, vecs = np.linalg.eigh(C)
    order = np.argsort(vals)[::-1][:k]
    comps = []
    for idx in order:
        c = vecs[:, idx]
        if c[int(np.argmax(np.abs(c)))] < 0:
            c = -c
        comps.append([float(x) for x in c])
    return comps


def _seq_sum(xs) -> float:
    """Left-to-right float sum — the exact op order a generated SQL
    ``(a + b + c ...)`` chain evaluates, so both engines get the same
    IEEE result bit-for-bit."""
    acc = 0.0
    for x in xs:
        acc = acc + x
    return acc


def pca_components_power(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 4,
    dims: int | None = None,
    n_squarings: int = 8,
) -> list[list[float]]:
    """Top-k principal components via DETERMINISTIC power iteration —
    the oracle-replayable alternative to :func:`pca_components` (whose
    LAPACK ``eigh`` is not SQL-expressible).

    Per component: raise the (deflated) covariance matrix to the
    2^n_squarings power by repeated squaring — rescaling by the max
    |entry| after each squaring so magnitudes stay O(1) (max is truly
    associative, so the rescale factor is order-independent) — apply it
    to the all-ones start vector, modified-Gram-Schmidt against the
    previously extracted components (orthogonality to machine
    precision), normalize, take the Rayleigh quotient as the variance
    estimate, fix the sign (first nonzero entry positive), and deflate
    ``M -= lam * v vᵀ``.

    Every step is a fixed sequence of IEEE double ops on the ROUNDED
    covariance entries (embedding_covariance exact=True, round 8 — the
    already-oracled values), with all sums evaluated left-to-right —
    so a generated SQL chain (__spark_entry__._sql_pca_power_ctes)
    replays the components bit-for-bit, and the result is independent
    of partitioning by construction (the only distributed stage is the
    decimal-exact covariance pass).

    Honesty note on near-isotropic data: when eigenvalues are nearly
    degenerate (as in the synthetic corpus: all ~0.017), individual
    eigen-DIRECTIONS are ill-conditioned for any algorithm; this
    method still returns an orthonormal basis whose Rayleigh quotients
    are within ~2% of the true eigenvalues, which is the quantity a
    variance-capture consumer cares about. M^256 gives a
    (lam2/lam1)^256 contamination factor — well converged whenever a
    spectral gap exists at all.

    Scale: identical to pca_components — one covariance scan, O(dims^2)
    driver floats; the power iteration itself touches no data.
    """
    rows = embedding_covariance(df, vec_col, dims, exact=True).collect()
    if not rows or any(r["cov"] is None for r in rows):
        raise ValueError("pca_components_power needs at least 2 vectors")
    d = max(r["j"] for r in rows) + 1
    M = [[0.0] * d for _ in range(d)]
    for r in rows:
        M[r["i"]][r["j"]] = M[r["j"]][r["i"]] = float(r["cov"])

    comps: list[list[float]] = []
    for _ in range(k):
        B = [row[:] for row in M]
        for _sq in range(n_squarings):
            g = max(abs(x) for row in B for x in row)
            scale = g if g != 0.0 else 1.0
            B = [[x / scale for x in row] for row in B]
            B = [
                [
                    _seq_sum(B[i][l] * B[l][j] for l in range(d))
                    for j in range(d)
                ]
                for i in range(d)
            ]
        g = max(abs(x) for row in B for x in row)
        scale = g if g != 0.0 else 1.0
        B = [[x / scale for x in row] for row in B]
        y = [_seq_sum(B[i][j] for j in range(d)) for i in range(d)]
        for p in comps:
            pr = _seq_sum(y[j] * p[j] for j in range(d))
            y = [y[i] - pr * p[i] for i in range(d)]
        nrm = math.sqrt(_seq_sum(x * x for x in y))
        v = [x / nrm for x in y]
        my = [_seq_sum(M[i][j] * v[j] for j in range(d)) for i in range(d)]
        lam = _seq_sum(v[i] * my[i] for i in range(d))
        sgn = 1.0
        for x in v:
            if x != 0.0:
                sgn = -1.0 if x < 0.0 else 1.0
                break
        v = [sgn * x for x in v]
        comps.append(v)
        M = [
            [M[i][j] - lam * v[i] * v[j] for j in range(d)] for i in range(d)
        ]
    return comps


def pca_project(
    df: DataFrame,
    components: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Project vectors onto precomputed components — zero-shuffle.

    The components enter the plan as literals (same pattern as the IVF
    codebook / LSH hyperplanes), so the projection is a narrow codegen'd
    map over the scan: dims x k multiply-adds per row, no Python, no
    shuffle, streams through 100 TB as pure scan work.
    """
    v = F.col(vec_col)
    outs = []
    for ci, comp in enumerate(components):
        w = F.array(*[F.lit(float(x)) for x in comp])
        outs.append(
            F.round(
                F.aggregate(
                    F.zip_with(v, w, lambda x, wi: x.cast("double") * wi),
                    F.lit(0.0),
                    lambda acc, val: acc + val,
                ),
                6,
            ).alias(f"pc{ci}")
        )
    return df.select(F.col(id_col), *outs)


def knn_graph(
    corpus: DataFrame,
    k: int = 3,
    n_planes: int = 8,
    n_tables: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    max_bucket_size: int | None = 512,
) -> DataFrame:
    """Approximate k-nearest-neighbor GRAPH: for every corpus point, its
    top-``k`` neighbors by cosine among candidates sharing an LSH bucket
    in ANY of ``n_tables`` independent hyperplane families. Returns
    ``(vec_id, nbr_id, cos_sim, rank)`` — the primitive under
    graph-based clustering, SemDeDup-style semantic dedup, and
    label-propagation over embeddings.

    Multi-table union is the recall lever a single signature lacks
    (a point just past one hyperplane boundary misses its neighbor in
    that table but meets it in another); each table is one
    bucket-keyed self-join — never all-pairs — and the per-point
    candidate set is the union, deduped on the (point, neighbor) pair
    before the exact-cosine verify and per-point top-k window.

    Scale: per table one 8-byte-key shuffle + in-bucket self-join
    (expected n²/2^n_planes pairs), ``max_bucket_size`` capping the
    degenerate-bucket bomb exactly as in ``embedding_neardup``; the
    union dedup and the top-k window shuffle candidate pairs only
    (ids + one double). Recall rises with n_tables at linear candidate
    cost — the standard LSH recall/cost dial. The graph is directed
    (k best per source); symmetrize downstream if needed.
    """
    # ALL tables' signatures ride ONE projection and the per-table
    # self-join becomes a single join keyed by (table, signature)
    # (round 13, guide §2.4): the per-table loop derived the signature
    # projection twice per table — 2 * n_tables corpus scans, each
    # re-computing n_planes dot products per row — where the exploded
    # layout pays 2 scans and one equi-join total for any n_tables.
    # The candidate pair set and every cos_sim are identical: a pair
    # collides per table exactly when its sigs match at that table's
    # plane offset (the join key carries the table index), and the
    # cross-table dedup keeps one of byte-identical rows either way.
    sigs = F.array(
        *[
            rp_signature(
                F.col("__v"), n_planes, dim, plane_offset=t * n_planes
            )
            for t in range(n_tables)
        ]
    )
    sig = (
        corpus.select(
            F.col(id_col), F.col(vec_col).alias("__v"),
            norm(F.col(vec_col)).alias("__n"),
        )
        .select(id_col, "__v", "__n", F.posexplode(sigs))
        .withColumnRenamed("pos", "__tbl")
        .withColumnRenamed("col", "__sig")
    )
    if max_bucket_size is not None:
        w = Window.partitionBy("__tbl", "__sig")
        sig = (
            sig.withColumn("__bsz", F.count(F.lit(1)).over(w))
            .filter(F.col("__bsz") <= max_bucket_size)
            .drop("__bsz")
        )
    a = sig.select(
        F.col(id_col).alias("__ia"), F.col("__v").alias("__va"),
        F.col("__n").alias("__na"), "__tbl", "__sig",
    )
    b = sig.select(
        F.col(id_col).alias("__ib"), F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"), "__tbl", "__sig",
    )
    cand = (
        a.join(b, ["__tbl", "__sig"])
        .filter(F.col("__ia") != F.col("__ib"))
        .select(
            "__ia", "__ib",
            F.round(
                dot(F.col("__va"), F.col("__vb"))
                / (F.col("__na") * F.col("__nb")),
                6,
            ).alias("cos_sim"),
        )
        .dropDuplicates(["__ia", "__ib"])
    )
    w = Window.partitionBy("__ia").orderBy(
        F.col("cos_sim").desc(), F.col("__ib").asc()
    )
    return (
        cand.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .select(
            F.col("__ia").alias(id_col),
            F.col("__ib").alias("nbr_id"),
            "cos_sim",
            F.col("__rk").alias("rank"),
        )
    )
