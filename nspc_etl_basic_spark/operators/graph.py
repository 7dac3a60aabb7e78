"""Iterative graph analytics over plain edge tables.

PageRank here is the repo's generic "iterative relational algorithm"
shape (the same one ``dedup.neardup_components`` and the trained-codebook
loops use): per round ONE equi-join + ONE map-side-combined groupBy over
the edge table, periodic ``localCheckpoint`` lineage cuts (every
``checkpoint_every`` rounds) so a plan never embeds more than a bounded
handful of rounds, and **fixed-point integer arithmetic** so the
result is bit-identical regardless of partitioning — which is what lets
``oracle_sql()`` replay the whole iteration in DuckDB (floating-point
summation order would make every run its own answer).

Reference parity: the reference engine has no graph operators — this is
part of the training-data-pipeline extension surface (link-graph
quality weighting for web corpora).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nspc_etl_basic_spark.materialize import hold, scope


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
    n_iter: int = 10,
    damping_pct: int = 85,
    scale: int = 1_000_000,
    checkpoint_every: int = 3,
) -> DataFrame:
    """Weighted PageRank over a directed edge table; returns
    ``(node, rank)`` with ``rank`` in fixed-point units of
    ``1/scale`` (initial rank = ``scale`` = 1.0 per node).

    Determinism contract — every quantity is integer:
      * edge fractions ``frac = (w * scale) div W_out`` (exact decimal
        multiply, integral ``div``),
      * per-edge contribution ``(rank * frac) div scale``,
      * dangling mass redistributed uniformly as ``dsum div N``,
      * damping applied as ``(damping_pct * x) div 100``.
    Integer sums are order-independent, so the same input graph yields
    the same BIGINT ranks on any partitioning/engine; mass lost to the
    floors is bounded by one unit per edge per round and is part of the
    pinned semantics, not noise. Runs a FIXED ``n_iter`` rounds (no
    convergence test) so the oracle can unroll the exact computation.

    Scale: the iteration state is node-sized, orders below the edge
    table. Per round: one ``src`` equi-join edge×rank, one groupBy(dst)
    with map-side partial sums, one node-table left join, and a 1-row
    broadcast for the dangling sum (never a driver collect). The edge
    fraction table is computed once and cached — weights never move
    again. Rank magnitudes stay ≤ N*scale, so the BIGINT contribution
    product is safe for graphs up to ~9e18/scale total mass; the hot
    multiplications go through DECIMAL(38,0) anyway, so overflow is
    structurally impossible. High-degree dst skew inherits the same
    remedy as ``neardup_components`` (broadcast the hot nodes' rank
    rows); not wired here because rank tables are uniformly tiny
    relative to edges.
    """
    if not 0 <= damping_pct <= 100:
        raise ValueError(f"damping_pct must be in [0,100], got {damping_pct}")
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    # validate BEFORE the eager jobs below (nodes.count, frac.count,
    # dangling probe) — an invalid argument must not waste cluster work
    if checkpoint_every < 1:
        raise ValueError(
            f"checkpoint_every must be >= 1, got {checkpoint_every}"
        )

    with scope():
        e = edges.select(
            F.col(src).alias("src"),
            F.col(dst).alias("dst"),
            F.col(weight).cast("long").alias("w"),
        )
        nodes = hold(
            e.select(F.col("src").alias("node"))
            .unionByName(e.select(F.col("dst").alias("node")))
            .distinct()
        )
        n_nodes = nodes.count()  # bounded metadata scalar (node count)
        out_w = e.groupBy("src").agg(F.sum("w").alias("__ow"))
        # cache the fraction table PRE-PARTITIONED on the join key: the
        # n_iter per-round joins then reuse the cached hash partitioning and
        # only the node-sized rank table is exchanged each round — without
        # it every round re-shuffled the EDGE-sized side (n_iter edge
        # shuffles for the one paid here). repartition carries no explicit
        # partition count, so AQE sizes it from the data (scale-adaptive,
        # not a local[32] constant).
        frac = hold(
            e.join(out_w, "src")
            .select(
                "src",
                "dst",
                F.expr(f"(CAST(w AS DECIMAL(38,0)) * {int(scale)}) div __ow").alias(
                    "frac"
                ),
            )
            .repartition("src")
        )
        frac.count()  # materialize once; the loop reads it n_iter times
        src_nodes = out_w.select(F.col("src").alias("node"))

        # the dangling-node SET is static (it's a graph property, not a rank
        # property) — detect it once; when empty (the common case for trade/
        # link graphs) every round drops its dangling-sum aggregation AND
        # the 1-row broadcast, roughly halving per-round job count
        dangling = hold(nodes.join(src_nodes, "node", "left_anti"))
        has_dangling = dangling.limit(1).count() > 0
        if not has_dangling:
            dangling.unpersist()

        base = ((100 - damping_pct) * scale) // 100
        ranks = nodes.select("node", F.lit(int(scale)).cast("long").alias("rank"))
        for it in range(n_iter):
            inc = (
                frac.join(ranks, frac["src"] == ranks["node"])
                .groupBy("dst")
                .agg(
                    F.sum(
                        F.expr(f"(CAST(rank AS DECIMAL(38,0)) * frac) div {int(scale)}")
                    ).alias("__inc")
                )
                .withColumnRenamed("dst", "node")
            )
            joined = nodes.join(inc, "node", "left")
            if has_dangling:
                dang = ranks.join(F.broadcast(dangling), "node", "left_semi").agg(
                    F.coalesce(F.sum("rank"), F.lit(0)).cast("long").alias("__dsum")
                )
                joined = joined.crossJoin(F.broadcast(dang))
                share = f"(__dsum div {int(n_nodes)})"
            else:
                share = "CAST(0 AS BIGINT)"
            ranks = joined.select(
                "node",
                (
                    F.lit(base)
                    + F.expr(
                        f"(CAST({int(damping_pct)} AS DECIMAL(38,0))"
                        f" * (coalesce(__inc, CAST(0 AS BIGINT))"
                        f"    + {share})) div 100"
                    )
                )
                .cast("long")
                .alias("rank"),
            )
            # lineage cut every `checkpoint_every` rounds (and on the last
            # round), not every round: each eager localCheckpoint is a full
            # Spark job over the node-sized state, and at bench scale the
            # per-job submission overhead — not the 25-row data — owned the
            # iteration wall (guide §1.2: fix the job shape first). A
            # bounded handful of rounds per plan keeps optimizer/codegen
            # time flat while cutting the job count ~checkpoint_every-fold;
            # the integer arithmetic is untouched, so ranks stay
            # bit-identical round for round.
            if (it + 1) % checkpoint_every == 0 or it == n_iter - 1:
                ranks = ranks.localCheckpoint(eager=True)
        return ranks


def triangle_stats(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """Exact triangle census of an undirected pair graph — one summary
    row ``(n_nodes, n_edges, n_wedges, n_triangles, clustering_ppm)``
    where ``clustering_ppm = (3e6 * triangles) div wedges`` (global
    clustering coefficient in parts-per-million, pure integer).

    On a near-dup candidate graph this measures cluster cohesion:
    candidate pairs that close into triangles are almost always true
    duplicate clusters; a high wedge count with few triangles means the
    banding is chaining unrelated docs through hub signatures.

    Algorithm — DEGREE-ORDERED orientation, the standard skew cure for
    distributed triangle counting: every undirected edge is directed
    from its lower-(degree, id) endpoint to the higher one, which
    bounds every out-neighborhood by O(sqrt(m)) regardless of how hot a
    hub is, so the wedge self-join (the quadratic step) never
    concentrates a celebrity node's full neighborhood on one task.
    Each triangle then has exactly ONE vertex with out-edges to the
    other two, so plain joins count it exactly once. (The oracle
    replays with id-orientation instead — same count, the orientation
    only redistributes the intermediates.)

    Shuffles: degree groupBy, two orientation joins, the wedge
    self-join on ``src``, and the closing semi-join on (dst1, dst2) —
    all keyed on 8-byte ids; the quadratic intermediate is
    sqrt-bounded by construction. Outputs are exact integers
    (value-hash-stable); wedge arithmetic runs in DECIMAL(38,0).
    """
    und = hold(
        pairs.select(
            F.least(F.col(id_a), F.col(id_b)).alias("a"),
            F.greatest(F.col(id_a), F.col(id_b)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = hold(
        und.select(F.col("a").alias("v"))
        .unionByName(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )

    n_nodes = deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    n_edges = und.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    n_wedges = deg.agg(
        F.expr("sum(CAST(d AS DECIMAL(38,0)) * (d - 1)) div 2")
        .cast("long")
        .alias("n_wedges")
    )

    # orient: lower (degree, id) endpoint -> higher
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("db"))
    oriented = hold(
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct(
                    F.col("a").alias("src"),
                    F.col("b").alias("dst"),
                    F.col("db").alias("dst_d"),
                ),
            )
            .otherwise(
                F.struct(
                    F.col("b").alias("src"),
                    F.col("a").alias("dst"),
                    F.col("da").alias("dst_d"),
                )
            )
            .alias("e")
        )
        .select("e.src", "e.dst", "e.dst_d")
    )
    e1 = oriented.select(
        F.col("src"), F.col("dst").alias("v1"), F.col("dst_d").alias("d1")
    )
    e2 = oriented.select(
        F.col("src"), F.col("dst").alias("v2"), F.col("dst_d").alias("d2")
    )
    wedges = e1.join(e2, "src").filter(
        (F.col("d1") < F.col("d2"))
        | ((F.col("d1") == F.col("d2")) & (F.col("v1") < F.col("v2")))
    )
    closing = oriented.select(
        F.col("src").alias("v1"), F.col("dst").alias("v2")
    )
    n_tri = (
        wedges.join(closing, ["v1", "v2"], "left_semi")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )

    return (
        n_nodes.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(n_wedges))
        .crossJoin(F.broadcast(n_tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.when(
                F.col("n_wedges") > 0,
                F.expr(
                    "(CAST(3000000 AS DECIMAL(38,0)) * n_triangles)"
                    " div n_wedges"
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("clustering_ppm"),
        )
    )
