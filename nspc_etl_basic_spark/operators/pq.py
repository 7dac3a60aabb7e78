"""Product quantization (PQ): compressed-domain ANN for embedding columns.

The third ANN tier next to RP-LSH (similarity.rp_lsh_topk) and IVF
(similarity.ivf_topk), and the one that changes the STORAGE economics:
PQ replaces each d-dim float vector with m one-byte-ish subspace codes
(Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
Search", TPAMI 2011). A 64-dim float32 embedding (256 B) becomes m=8
codes (8 B) — a 100 TB embedding store becomes ~3 TB of codes that fit
the page cache, and distance evaluation becomes m table lookups instead
of d multiplies.

Construction:
  - the vector is split into ``m`` contiguous subvectors of width d/m;
  - each subspace gets its own k-centroid codebook (k <= 256 keeps one
    code in a byte);
  - a vector's code is the per-subspace argmin-L2 centroid index;
  - asymmetric distance (ADC): for a query q, precompute the m x k
    table T[j][c] = ||q_j - C[j][c]||^2 once, then every corpus
    distance is sum_j T[j][code_j] — no decompression.

Spark mapping:
  - codebooks are plan literals (k*d doubles — the same codebook-as-
    literals contract as similarity._ivf_cells_sorted), so ENCODING is
    a pure codegen'd projection: no shuffle, no UDF on the default
    path; a numpy ``mapInPandas`` kernel (``pq_encode_kernel``) covers
    production-size codebooks exactly like train_ivf_centroids does
    for IVF training;
  - TRAINING is Lloyd's per subspace, all m subspaces in ONE Arrow
    pass per iteration: the kernel emits per-(subspace, cell) partial
    (count, sum) rows — <= m*k rows per batch, the treeAggregate
    shape; no shuffle at all (same scheme as train_ivf_centroids,
    similarity.py:250);
  - ADC search joins nothing: the per-query tables are literals and
    the scan stays a projection + top-k (window per query id).

Determinism contract: ``pq_seed_codebooks`` (the k lowest-id vectors'
subvectors — the same deterministic-seed rule as similarity.
ivf_centroids) + ``pq_encode`` use only sequential-fold dot products
and round-6 boundaries, so a SQL oracle replays codes bit-for-bit.
Trained codebooks (round 5) run Lloyd's in a fixed-point integer
domain — see ``train_pq_codebooks`` — so they are ALSO bit-portable:
with ``quantize_scale`` set on the encode kernel and ADC search, the
full trained chain is replayed by a generated DuckDB oracle.

Precision contract (Arrow boundary): kernels carry float64 vectors and
integer codes only — no timestamps, no unit conversions; every float
that reaches an output column crosses at full float64 and is rounded
(6 dp) by the JVM side per the engine-wide F.round contract.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .similarity import KMEANS_SCALE, _floor_div, dot


def _subvec(vec: Column, j: int, width: int) -> Column:
    """j-th (0-based) contiguous subvector as a 1-based slice."""
    return F.slice(vec, j * width + 1, width)


def pq_seed_codebooks(
    corpus: DataFrame,
    m: int = 8,
    k: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[list[float]]]:
    """Deterministic codebooks: the k lowest-id vectors, sliced into m
    subvectors — ``codebooks[j][c]`` is subspace j's c-th centroid.
    Bounded collect (k rows), the oracle-replayable tier."""
    rows = (
        corpus.select(id_col, F.col(vec_col).cast("array<double>").alias("v"))
        .orderBy(id_col)
        .limit(k)
        .collect()
    )
    if not rows:
        return []
    dim = len(rows[0]["v"])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    w = dim // m
    return [
        [list(r["v"][j * w : (j + 1) * w]) for r in rows] for j in range(m)
    ]


def train_pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    k: int = 16,
    n_iter: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = KMEANS_SCALE,
) -> list[list[list[float]]]:
    """Lloyd's k-means independently per subspace, all m subspaces in
    one Arrow pass per iteration (see module docstring). Empty cells
    keep their previous centroid. Returns ``codebooks[j][c]``.

    DETERMINISM CONTRACT (round 5, same scheme as
    similarity.train_ivf_centroids): training runs in the fixed-point
    integer-micros domain — subvectors quantize to
    ``floor(x*scale + 0.5)``, the argmin-L2 assignment compares exact
    integer distances (all below 2^53, so BLAS/SQL summation order is
    irrelevant; ties to the lowest cell), and the centroid update is
    exact integer (count, sum) accumulation + round-half-up integer
    floor-div back onto the micro grid. The resulting codebooks (micros
    divided by ``scale``) are bit-identical across partitionings AND
    engines, so a DuckDB oracle replays the full train → encode → ADC
    chain (see __spark_entry__._sql_pq_trained_ctes)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    books = pq_seed_codebooks(corpus, m, k, vec_col, id_col)
    if not books:
        return books
    w = len(books[0][0])
    # integer-micro codebooks, seeded from the quantized seed subvectors
    bq = [
        [[int(math.floor(x * scale + 0.5)) for x in c] for c in books[j]]
        for j in range(m)
    ]
    vecs = corpus.select(F.col(vec_col).cast("array<double>").alias("__v"))
    partial_schema = T.StructType(
        [
            T.StructField("sub", T.IntegerType()),
            T.StructField("cell", T.IntegerType()),
            T.StructField("cnt", T.LongType()),
            T.StructField("vsum", T.ArrayType(T.LongType())),
        ]
    )
    for _ in range(max(0, n_iter)):
        cb = np.array(bq, dtype=np.float64)  # (m, k, w) integer-valued

        def partials(batches, _cb=cb, _m=m, _w=w, _s=scale):
            for pdf in batches:
                mat = np.array(list(pdf["__v"]), dtype=np.float64)
                if mat.size == 0:
                    continue
                vq = np.floor(mat * _s + 0.5)  # integer-valued float64
                rows = []
                for j in range(_m):
                    sub = vq[:, j * _w : (j + 1) * _w]  # (n, w)
                    # exact integer L2 (ss - 2 s.c + cc, all < 2^53);
                    # np.argmin takes the FIRST min -> ties to lowest
                    # cell index, matching the SQL ORDER BY d, cell
                    d = (
                        (sub * sub).sum(axis=1)[:, None]
                        - 2.0 * sub @ _cb[j].T
                        + (_cb[j] * _cb[j]).sum(axis=1)[None, :]
                    )
                    cell = np.argmin(d, axis=1)
                    for ci in np.unique(cell):
                        sel = sub[cell == ci]
                        rows.append(
                            (
                                j,
                                int(ci),
                                len(sel),
                                [int(x) for x in sel.sum(axis=0)],
                            )
                        )
                yield pd.DataFrame(
                    rows, columns=["sub", "cell", "cnt", "vsum"]
                )

        got = vecs.mapInPandas(partials, partial_schema).collect()
        acc_cnt = [[0] * k for _ in range(m)]
        acc_sum = [[[0] * w for _ in range(k)] for _ in range(m)]
        for r in got:
            acc_cnt[r["sub"]][r["cell"]] += r["cnt"]
            row = acc_sum[r["sub"]][r["cell"]]
            for i, x in enumerate(r["vsum"]):
                row[i] += x
        bq = [
            [
                [
                    _floor_div(
                        2 * acc_sum[j][c][d] + acc_cnt[j][c],
                        2 * acc_cnt[j][c],
                    )
                    for d in range(w)
                ]
                if acc_cnt[j][c] > 0
                else bq[j][c]
                for c in range(k)
            ]
            for j in range(m)
        ]
    return [[[x / scale for x in c] for c in bq[j]] for j in range(m)]


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    out_col: str = "pq_code",
    err_col: str | None = None,
) -> DataFrame:
    """Literal-codebook encode: ``out_col`` = array of m argmin-L2
    centroid indices (ties -> lowest index via lexicographic struct
    sort). Pure projection — m*k subvector distances, codegen'd, no
    shuffle. ``err_col`` (optional) adds the integer-exact total
    quantization error sum_j round(d_j, 6) * 1e6 as a long (integer
    addition is order-independent, so it hash-compares across engines).

    Per-subspace distance is the dot identity round(<s,s> - 2<s,c> +
    <c,c>, 6) — three sequential folds a DuckDB oracle replays with
    list_dot_product. Two plan-size choices keep Catalyst compile time
    flat (measured 9.6 s -> sub-second at m=8, k=16 on the unstructured
    form): ``<s,s>`` is hoisted into a NAMED column per subspace (k-1
    redundant folds and their analysis cost gone), and the k centroids
    live in ONE literal array<array<double>> walked by a single
    ``transform`` lambda instead of k cloned expression trees.

    For codebooks too large to compile as literals use
    :func:`pq_encode_kernel` — same output contract.
    """
    m = len(codebooks)
    vec = F.col(vec_col).cast("array<double>")
    w = len(codebooks[0][0])
    staged = df.select(
        "*",
        *[_subvec(vec, j, w).alias(f"__pqs_{j}") for j in range(m)],
    ).select(
        "*",
        *[
            dot(F.col(f"__pqs_{j}"), F.col(f"__pqs_{j}")).alias(f"__pqss_{j}")
            for j in range(m)
        ],
    )
    codes, errs = [], []
    for j in range(m):
        book = codebooks[j]
        # ONE Literal node per codebook — and built via fastlit, because
        # pyspark's nested-list F.lit ALSO pays py4j per element at
        # construction time (~2 s of driver time across m=16 books)
        from nspc_etl_basic_spark.functions.fastlit import nested_lit

        lit_book = nested_lit(
            [[float(x) for x in c] for c in book], "array<array<double>>"
        )
        # <c,c> per centroid, summed sequentially in python (same order
        # as list_dot_product over the same doubles)
        ccs = []
        for c in book:
            acc = 0.0
            for x in c:
                acc += float(x) * float(x)
            ccs.append(acc)
        lit_cc = F.lit(ccs)
        sub = F.col(f"__pqs_{j}")
        ss = F.col(f"__pqss_{j}")
        def _score(_sub, _ss, _cc):
            # factory: PySpark inspects lambda arity, so captured values
            # must close over, not ride as default args
            return lambda c, i: F.struct(
                F.round(
                    _ss
                    - F.lit(2.0) * dot(_sub, c)
                    + F.element_at(_cc, i + F.lit(1)),
                    6,
                ).alias("d"),
                i.cast("int").alias("c"),
            )

        scored = F.array_sort(F.transform(lit_book, _score(sub, ss, lit_cc)))
        codes.append(scored[0]["c"])
        errs.append(F.round(scored[0]["d"] * 1e6).cast("long"))
    out = staged.withColumn(out_col, F.array(*codes))
    if err_col:
        total = errs[0]
        for e in errs[1:]:
            total = total + e
        out = out.withColumn(err_col, total)
    return out.drop(
        *[f"__pqs_{j}" for j in range(m)], *[f"__pqss_{j}" for j in range(m)]
    )


def pq_encode_kernel(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_col: str = "pq_code",
    quantize_scale: int | None = None,
    passthrough_cols: list[str] | None = None,
) -> DataFrame:
    """Arrow ``mapInPandas`` encode for production-size codebooks
    (thousands of centroids x hundreds of dims never compile as plan
    literals): numpy argmin per subspace, first-min tie rule — the
    same code the literal path produces. Returns (id_col, out_col).

    With ``quantize_scale`` set (pair it with ``train_pq_codebooks``'s
    scale), the argmin runs in the fixed-point integer domain: both the
    vector and the codebook are quantized to integer micros, so every
    distance is an exact integer and the codes are deterministic across
    engines — the oracle-replayable tier for TRAINED codebooks.

    ``passthrough_cols`` ride through the kernel unchanged (e.g. an IVF
    cell id computed by the upstream projection): carrying them in the
    Arrow batch costs bytes-per-row, while the alternative — a separate
    (id, col) frame joined back on id — costs a corpus-wide SHUFFLE of
    both sides. Returns (id_col, *passthrough_cols, out_col)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    extra = list(passthrough_cols or [])
    cb = np.array(codebooks, dtype=np.float64)  # (m, k, w)
    if quantize_scale:
        # codebook entries are micros/scale; this recovers the exact
        # integer micros (product error << 0.5)
        cb = np.floor(cb * quantize_scale + 0.5)
    m, _k, w = cb.shape
    schema = T.StructType(
        [
            df.schema[id_col],
            *[df.schema[c] for c in extra],
            T.StructField(out_col, T.ArrayType(T.IntegerType())),
        ]
    )

    def kernel(batches, _cb=cb, _m=m, _w=w, _s=quantize_scale):
        for pdf in batches:
            mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            if mat.size == 0:
                continue
            if _s:
                mat = np.floor(mat * _s + 0.5)
            cols = []
            for j in range(_m):
                sub = mat[:, j * _w : (j + 1) * _w]
                d = (
                    (sub * sub).sum(axis=1)[:, None]
                    - 2.0 * sub @ _cb[j].T
                    + (_cb[j] * _cb[j]).sum(axis=1)[None, :]
                )
                cols.append(np.argmin(d, axis=1))
            codes = np.stack(cols, axis=1)
            out = {id_col: pdf[id_col]}
            for c in extra:
                out[c] = pdf[c]
            out[out_col] = list(codes.tolist())
            yield pd.DataFrame(out)

    return df.select(id_col, *extra, vec_col).mapInPandas(kernel, schema)


def pq_topk(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    code_col: str = "pq_code",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    max_queries: int = 1000,
    quantize_scale: int | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: per query, the m x k distance
    table is computed ONCE on the driver (numpy, microseconds) and
    baked into the plan as literals; each corpus row's distance is then
    m ``element_at`` lookups + an integer-free fold — no join, no
    decompression, one window top-k per query. Returns
    ``(query_id, id, adc_dist, rank)`` with adc_dist rounded to 6.

    The scan cost is O(|corpus| * m) lookups — the PQ trade: exactness
    is surrendered to the codebook resolution, so recall is measured
    against the exact tier (see tests / the driver query), never
    assumed.

    With ``quantize_scale`` set, query vectors and codebooks quantize
    to integer micros before the table is built: every table entry and
    every ADC sum is an exact integer (< 2^53), so the shortlist is
    deterministic across engines — pair with the quantized encode for
    the oracle-replayable trained tier."""
    import numpy as np

    q_rows = queries.select(query_id_col, vec_col).limit(max_queries + 1).collect()
    if len(q_rows) > max_queries:
        raise ValueError(
            f"pq_topk: query side exceeds max_queries={max_queries}; "
            "batch the queries or raise the bound explicitly"
        )
    from pyspark.sql.window import Window

    cb = np.array(codebooks, dtype=np.float64)  # (m, k, w)
    if quantize_scale:
        cb = np.floor(cb * quantize_scale + 0.5)
    m, _kc, w = cb.shape
    per_query = []
    for r in q_rows:
        qv = np.array(r[vec_col], dtype=np.float64)
        if quantize_scale:
            qv = np.floor(qv * quantize_scale + 0.5)
        table = [
            ((cb[j] - qv[j * w : (j + 1) * w]) ** 2).sum(axis=1).tolist()
            for j in range(m)
        ]
        per_query.append((r[query_id_col], table))
    # the query-id list and the 3-level table array enter the plan as
    # TWO constant-folded literals, indexed by an exploded position: the
    # corpus is scanned ONCE for all queries and plan size stays flat in
    # the query count. The nested literal is built as from_json over a
    # JSON string literal — Catalyst's ConstantFolding evaluates it once
    # into a plain array Literal — because pyspark's own nested-list
    # F.lit pays per-element py4j traffic (measured 6 s of DRIVER time
    # for a 40x16x16 table set, dominating the operator) and a 1-row
    # broadcast-payload join re-traverses the nested array per corpus
    # row (measured 4x slower execution).
    if not per_query:
        return codes.sparkSession.createDataFrame(
            [],
            f"{query_id_col} long, {id_col} long, adc_dist double, rank int",
        )
    from nspc_etl_basic_spark.functions.fastlit import nested_lit

    qids_lit = F.lit([int(qid) for qid, _t in per_query])  # flat: cheap
    tbls_lit = nested_lit(
        [
            [[float(x) for x in row] for row in table]
            for _qid, table in per_query
        ],
        "array<array<array<double>>>",
    )
    scored = (
        codes.select(id_col, code_col)
        .withColumn(
            "__i", F.explode(F.sequence(F.lit(1), F.lit(len(per_query))))
        )
        # hoist the table lookup into a named column so the fold below
        # indexes an alias, not a re-evaluated element_at tree
        .withColumn("__tbl", F.element_at(tbls_lit, F.col("__i")))
        .select(
            F.element_at(qids_lit, F.col("__i")).alias(query_id_col),
            id_col,
            F.round(
                F.aggregate(
                    F.zip_with(
                        F.col(code_col),
                        F.col("__tbl"),
                        lambda c, row: F.element_at(row, c + F.lit(1)),
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ),
                6,
            ).alias("adc_dist"),
        )
        .filter(F.col(query_id_col) != F.col(id_col))
    )
    wdw = Window.partitionBy(query_id_col).orderBy(
        F.col("adc_dist").asc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("__rk", F.row_number().over(wdw))
        .filter(F.col("__rk") <= k)
        .select(query_id_col, id_col, "adc_dist", F.col("__rk").alias("rank"))
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[list[list[float]]],
    k: int = 5,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    max_queries: int = 1000,
    quantize_scale: int | None = None,
) -> DataFrame:
    """IVF-PQ: the composed FAISS-style index (Jégou et al. 2011,
    "IVFADC") that is the standard 100 TB ANN deployment — IVF's coarse
    quantizer prunes WHICH vectors are scored (n_probe/n_cells of the
    corpus per query) while PQ's codes decide HOW each survivor is
    scored (m table lookups on an ~8-byte code instead of d float
    multiplies on a 256-byte vector). Together: compute AND storage drop
    by orders of magnitude, recall tuned by (n_probe, m, k_sub).

    This variant encodes RAW vectors, not residuals-vs-centroid (FAISS's
    default refinement): residual encoding changes the training/encode
    arithmetic but not the distributed plan shape, and the raw-vector
    form is what the fixed-point determinism contract already covers —
    the DuckDB oracle replays every code and distance.

    Plan shape (the part that must survive 100 TB):
    - cell assignment is a PROJECTION (centroid codebook as plan
      literals — no shuffle), fused into the same scan that feeds the
      Arrow encode kernel; the cell id rides THROUGH the kernel as a
      passthrough column, so corpus vectors are read once and never
      joined back;
    - the probed-cell filter (``array_contains`` on a per-query literal
      probe list) lands BEFORE the ADC fold, so non-probed rows are
      dropped for the cost of a set test, not m lookups;
    - per-query ADC tables and probe lists are constant-folded literals
      (the pq_topk contract): the code table is scanned ONCE for all
      queries, no join anywhere, one window top-k per query id.

    Queries' probe assignment runs SPARK-SIDE with the same round-6
    sequential-fold cosine as corpus assignment (then collects the
    bounded query set), so probe boundaries match the oracle's QUALIFY
    exactly — a driver-side numpy dot could disagree at the 6th digit.

    Query ids must be INTEGERS (the same convention as ``pq_topk``):
    they ride the plan as a bigint literal array, so the output
    ``query_id`` column is always BIGINT and a non-integer id raises at
    the ``int()`` coercion. The corpus ``id_col`` keeps its input type
    on both the scored and the empty path.

    Design note on the fan-out (round 13): each corpus row explodes
    over a cell -> [query index] literal MAP keyed by its own cell, so
    the per-row cost is O(matching queries) — on average
    ``n_queries * n_probe / n_cells`` — rather than the previous
    O(n_queries) probe-set tests per row (explode over
    ``sequence(1..n_queries)`` followed by an ``array_contains``
    filter). The emitted (row, query) set is identical; only the
    non-survivors are never generated. The ``max_queries`` bound now
    guards plan-literal size alone.
    """
    import numpy as np

    from nspc_etl_basic_spark.functions.fastlit import nested_lit
    from nspc_etl_basic_spark.operators.similarity import (
        _ivf_cells_sorted,
        norm,
    )
    from pyspark.sql.window import Window

    cells = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        norm(F.col(vec_col)).alias("__n"),
    ).select(
        id_col,
        vec_col,
        F.element_at(
            _ivf_cells_sorted(F.col(vec_col), centroids, F.col("__n")), 1
        )["cent_id"].alias("__cell"),
    )
    enc = pq_encode_kernel(
        cells,
        codebooks,
        vec_col=vec_col,
        id_col=id_col,
        quantize_scale=quantize_scale,
        passthrough_cols=["__cell"],
    )

    q_rows = (
        queries.select(
            query_id_col,
            F.col(vec_col),
            norm(F.col(vec_col)).alias("__n"),
        )
        .select(
            query_id_col,
            vec_col,
            F.transform(
                F.slice(
                    _ivf_cells_sorted(
                        F.col(vec_col), centroids, F.col("__n")
                    ),
                    1,
                    n_probe,
                ),
                lambda s: s["cent_id"],
            ).alias("__probes"),
        )
        .limit(max_queries + 1)
        .collect()
    )
    if len(q_rows) > max_queries:
        raise ValueError(
            f"ivfpq_topk: query side exceeds max_queries={max_queries}; "
            "batch the queries or raise the bound explicitly"
        )
    if not q_rows:
        # schema must match the scored path exactly: query_id is always
        # bigint (it comes from the literal id array), id_col keeps the
        # CORPUS column's type, adc_dist/rank are double/int
        from pyspark.sql import types as T

        return corpus.sparkSession.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField(query_id_col, T.LongType(), True),
                    T.StructField(
                        id_col,
                        corpus.schema[id_col].dataType,
                        corpus.schema[id_col].nullable,
                    ),
                    T.StructField("adc_dist", T.DoubleType(), True),
                    # row_number never yields null on the scored path
                    T.StructField("rank", T.IntegerType(), False),
                ]
            ),
        )

    cb = np.array(codebooks, dtype=np.float64)  # (m, k, w)
    if quantize_scale:
        cb = np.floor(cb * quantize_scale + 0.5)
    m, _kc, w = cb.shape
    per_query = []
    for r in q_rows:
        qv = np.array(r[vec_col], dtype=np.float64)
        if quantize_scale:
            qv = np.floor(qv * quantize_scale + 0.5)
        table = [
            ((cb[j] - qv[j * w : (j + 1) * w]) ** 2).sum(axis=1).tolist()
            for j in range(m)
        ]
        per_query.append((r[query_id_col], table, list(r["__probes"])))

    # explicit array<bigint>: F.lit infers array<int> when every id
    # happens to fit in int32, making the output type value-dependent
    qids_lit = F.lit([int(qid) for qid, _t, _p in per_query]).cast(
        "array<bigint>"
    )
    tbls_lit = nested_lit(
        [
            [[float(x) for x in row] for row in table]
            for _qid, table, _p in per_query
        ],
        "array<array<array<double>>>",
    )
    # invert the probe lists into a cell -> [query index] literal map,
    # so each corpus row GENERATES only the queries probing its cell
    # (round 13, guide §2.3): the old explode(sequence(1, n_queries)) +
    # array_contains filter paid n_queries probe-set tests per corpus
    # row; the map explode emits exactly the ~n_queries*n_probe/n_cells
    # survivors (try_element_at on an unprobed cell is NULL under ANSI
    # too, and explode of NULL drops the row — identical to the
    # filter's empty case). This
    # also retires the docstring's max_queries caveat about O(n_queries)
    # per-row tests.
    by_cell: dict[int, list[int]] = {}
    for i, (_qid, _t, probes) in enumerate(per_query, start=1):
        for c in probes:
            by_cell.setdefault(int(c), []).append(i)
    cell_keys = sorted(by_cell)
    queries_by_cell_lit = F.map_from_arrays(
        F.lit(cell_keys).cast("array<bigint>"),
        nested_lit([by_cell[c] for c in cell_keys], "array<array<int>>"),
    )
    scored = (
        enc.withColumn(
            "__i",
            F.explode(
                F.try_element_at(
                    queries_by_cell_lit, F.col("__cell").cast("long")
                )
            ),
        )
        .withColumn("__tbl", F.element_at(tbls_lit, F.col("__i")))
        .select(
            F.element_at(qids_lit, F.col("__i")).alias(query_id_col),
            id_col,
            F.round(
                F.aggregate(
                    F.zip_with(
                        F.col("pq_code"),
                        F.col("__tbl"),
                        lambda c, row: F.element_at(row, c + F.lit(1)),
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ),
                6,
            ).alias("adc_dist"),
        )
        .filter(F.col(query_id_col) != F.col(id_col))
    )
    wdw = Window.partitionBy(query_id_col).orderBy(
        F.col("adc_dist").asc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("__rk", F.row_number().over(wdw))
        .filter(F.col("__rk") <= k)
        .select(query_id_col, id_col, "adc_dist", F.col("__rk").alias("rank"))
    )


def ivf_residual_frame(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = KMEANS_SCALE,
    resid_col: str = "__resid",
    cell_col: str = "__cell",
) -> DataFrame:
    """``(id_col, cell_col, resid_col)``: frozen-codebook cell
    assignment plus the FIXED-POINT residual ``v - centroid(cell(v))``
    — the input representation of residual IVF-PQ (FAISS's default
    IVFADC refinement: residuals concentrate near the origin, so the
    same (m, k) PQ budget quantizes them with far less error than raw
    vectors).

    Determinism: both operands quantize to integer micros first
    (``floor(x*scale + 0.5)``), the subtraction is exact integer
    arithmetic, and the emitted double is ``r_int / scale`` — whose
    re-quantization ``floor(r*scale + 0.5)`` in ``train_pq_codebooks``
    / ``pq_encode_kernel`` recovers ``r_int`` exactly (the relative
    error of one correctly-rounded divide+multiply is orders below the
    0.5 rounding margin). So the full residual chain stays in the
    engine's bit-portable fixed-point domain and a DuckDB oracle
    replays it.

    Plan: a pure projection — the codebook rides as two literals (the
    assignment fold + a constant map cell -> centroid vector); no
    shuffle, no UDF, no join."""
    from nspc_etl_basic_spark.functions.fastlit import nested_lit
    from nspc_etl_basic_spark.operators.similarity import (
        _ivf_cells_sorted,
        norm,
    )

    if not centroids:
        raise ValueError("centroids must be a non-empty frozen codebook")
    cmap = F.map_from_arrays(
        F.lit([int(cid) for cid, _ in centroids]).cast("array<bigint>"),
        nested_lit(
            [[float(x) for x in vec] for _cid, vec in centroids],
            "array<array<double>>",
        ),
    )
    s = float(scale)
    assigned = corpus.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("__v"),
        norm(F.col(vec_col)).alias("__n"),
    ).select(
        id_col,
        "__v",
        F.element_at(
            _ivf_cells_sorted(F.col("__v"), centroids, F.col("__n")), 1
        )["cent_id"].alias(cell_col),
    )
    resid = F.zip_with(
        F.col("__v"),
        F.element_at(cmap, F.col(cell_col).cast("bigint")),
        lambda a, b: (
            F.floor(a * F.lit(s) + F.lit(0.5))
            - F.floor(b * F.lit(s) + F.lit(0.5))
        ) / F.lit(s),
    )
    return assigned.select(id_col, cell_col, resid.alias(resid_col))


def ivfpq_residual_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[list[list[float]]],
    k: int = 5,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    max_queries: int = 200,
    quantize_scale: int | None = None,
) -> DataFrame:
    """Residual IVF-PQ (IVFADC as FAISS actually ships it, Jégou et
    al. 2011 §IV): corpus vectors are PQ-encoded as RESIDUALS against
    their coarse cell's centroid, and each query builds a SEPARATE ADC
    table per probed cell from its own residual ``q - centroid(cell)``
    — because the residual space is cell-relative, a (query, cell)
    pair owns its table. Same recall knobs as ``ivfpq_topk`` with
    materially better recall per code byte (residuals are small, so
    the k centroids per subspace resolve finer structure; measured in
    the driver query against the raw-vector variant).

    ``codebooks`` MUST be trained on the residual frame
    (``train_pq_codebooks(ivf_residual_frame(corpus, centroids), ...,
    vec_col=resid_col)``) with the SAME frozen ``centroids`` — raw-
    vector codebooks silently mis-scale every table.

    Plan shape: identical inventory to ``ivfpq_topk`` — the residual
    projection fuses into the scan feeding the Arrow encode kernel
    (cell rides through as a passthrough column), and the scored scan
    explodes over the (query, probed-cell) PAIR list with the cell
    equality test FIRST, so each corpus row meets at most one pair per
    query and no table lookup happens outside probed cells. The pair
    tables are per-(query, cell), so the literal payload is n_probe
    times ``ivfpq_topk``'s — ``max_queries`` defaults 5x lower (200)
    to keep the plan the same size. Query ids must be integers (the
    ``pq_topk`` convention; output query_id is BIGINT)."""
    import numpy as np

    from nspc_etl_basic_spark.functions.fastlit import nested_lit
    from nspc_etl_basic_spark.operators.similarity import (
        _ivf_cells_sorted,
        norm,
    )
    from pyspark.sql.window import Window

    enc = pq_encode_kernel(
        ivf_residual_frame(
            corpus, centroids, vec_col=vec_col, id_col=id_col,
            scale=quantize_scale or KMEANS_SCALE,
        ),
        codebooks,
        vec_col="__resid",
        id_col=id_col,
        quantize_scale=quantize_scale,
        passthrough_cols=["__cell"],
    )

    q_rows = (
        queries.select(
            query_id_col,
            F.col(vec_col).cast("array<double>").alias("__qv"),
            norm(F.col(vec_col)).alias("__n"),
        )
        .select(
            query_id_col,
            "__qv",
            F.transform(
                F.slice(
                    _ivf_cells_sorted(F.col("__qv"), centroids, F.col("__n")),
                    1,
                    n_probe,
                ),
                lambda st: st["cent_id"],
            ).alias("__probes"),
        )
        .limit(max_queries + 1)
        .collect()
    )
    if len(q_rows) > max_queries:
        raise ValueError(
            f"ivfpq_residual_topk: query side exceeds "
            f"max_queries={max_queries}; batch the queries or raise "
            "the bound explicitly"
        )
    if not q_rows:
        from pyspark.sql import types as T

        return corpus.sparkSession.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField(query_id_col, T.LongType(), True),
                    T.StructField(
                        id_col,
                        corpus.schema[id_col].dataType,
                        corpus.schema[id_col].nullable,
                    ),
                    T.StructField("adc_dist", T.DoubleType(), True),
                    T.StructField("rank", T.IntegerType(), False),
                ]
            ),
        )

    s = quantize_scale
    cb = np.array(codebooks, dtype=np.float64)  # (m, k, w)
    if s:
        cb = np.floor(cb * s + 0.5)
    m, _kc, w = cb.shape
    cent_int = {
        int(cid): np.floor(
            np.array(vec, dtype=np.float64) * (s or KMEANS_SCALE) + 0.5
        )
        for cid, vec in centroids
    }
    pairs = []  # (qid, cell, table)
    for r in q_rows:
        qv = np.array(r["__qv"], dtype=np.float64)
        qint = np.floor(qv * (s or KMEANS_SCALE) + 0.5)
        for cell in r["__probes"]:
            qres = qint - cent_int[int(cell)]
            if not s:
                qres = qres / KMEANS_SCALE
            table = [
                ((cb[j] - qres[j * w : (j + 1) * w]) ** 2)
                .sum(axis=1)
                .tolist()
                for j in range(m)
            ]
            pairs.append((int(r[query_id_col]), int(cell), table))

    qids_lit = F.lit([q for q, _c, _t in pairs]).cast("array<bigint>")
    tbls_lit = nested_lit(
        [[[float(x) for x in row] for row in t] for _q, _c, t in pairs],
        "array<array<array<double>>>",
    )
    # invert the pair list into a cell -> [pair index] literal map, so
    # each corpus row GENERATES only the pairs probing its own cell
    # (round 13, guide §2.3 — compute less, not filter more): the old
    # explode(sequence(1, n_pairs)) + cell-equality filter materialized
    # n_pairs rows per corpus row inside codegen and discarded all but
    # ~n_pairs/n_cells of them; the map explode emits exactly the
    # surviving set (try_element_at on a missing cell is NULL under
    # ANSI too, and explode of NULL drops the row — identical to the
    # filter's empty case).
    by_cell: dict[int, list[int]] = {}
    for i, (_q, c, _t) in enumerate(pairs, start=1):
        by_cell.setdefault(int(c), []).append(i)
    cell_keys = sorted(by_cell)
    pairs_by_cell_lit = F.map_from_arrays(
        F.lit(cell_keys).cast("array<bigint>"),
        nested_lit([by_cell[c] for c in cell_keys], "array<array<int>>"),
    )
    scored = (
        enc.withColumn(
            "__i",
            F.explode(
                F.try_element_at(
                    pairs_by_cell_lit, F.col("__cell").cast("bigint")
                )
            ),
        )
        .withColumn("__tbl", F.element_at(tbls_lit, F.col("__i")))
        .select(
            F.element_at(qids_lit, F.col("__i")).alias(query_id_col),
            id_col,
            F.round(
                F.aggregate(
                    F.zip_with(
                        F.col("pq_code"),
                        F.col("__tbl"),
                        lambda c, row: F.element_at(row, c + F.lit(1)),
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ),
                6,
            ).alias("adc_dist"),
        )
        .filter(F.col(query_id_col) != F.col(id_col))
    )
    wdw = Window.partitionBy(query_id_col).orderBy(
        F.col("adc_dist").asc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("__rk", F.row_number().over(wdw))
        .filter(F.col("__rk") <= k)
        .select(query_id_col, id_col, "adc_dist", F.col("__rk").alias("rank"))
    )
