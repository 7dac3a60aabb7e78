"""Z-order write layout: multi-column data skipping for parquet scans.

Parquet row-group min/max statistics prune a scan only when the file
layout CLUSTERS the filtered columns. A plain sort clusters one column
perfectly and leaves every other column's min/max spanning the whole
domain; Z-ordering (bit-interleaving the columns' normalized values —
the Morton curve) trades a little locality on each column for locality
on ALL of them, so selective predicates on ANY of the z-ordered columns
(or combinations) skip most row groups. This is the standard lake-table
layout trick (Delta/Iceberg `OPTIMIZE ZORDER BY`), built here from
DataFrame primitives:

  1. per-column min/max (one tiny aggregate) -> linear normalization to
     ``bits``-bit integer ranks — plan literals, so the z-value is a
     pure JVM-side projection (shiftleft/or bit algebra, codegen'd; no
     UDF, no shuffle);
  2. ``repartitionByRange(z)`` + ``sortWithinPartitions(z)`` — ONE
     range shuffle, the same price as any global sort;
  3. plain parquet write; readers need zero cooperation — the benefit
     materializes as ordinary row-group stats pruning.

Normalization uses min/max rather than quantile ranks: two scalar
aggregates instead of a sketch pass. Heavily skewed columns get skewed
z-cells, which costs *evenness* of pruning, never correctness; pass
pre-transformed columns (e.g. log buckets) when skew matters.

``tests/test_layout.py`` measures actual row-group pruning on a
two-column predicate vs single-column sorts with pyarrow footer stats.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _normalize(col: Column, lo: float, hi: float, bits: int) -> Column:
    """Linear map [lo, hi] -> integer [0, 2^bits - 1] as a projection."""
    span = hi - lo
    if span <= 0:
        return F.lit(0).cast("long")
    scaled = (col.cast("double") - F.lit(float(lo))) / F.lit(float(span))
    return F.least(
        F.greatest(
            F.floor(scaled * F.lit(float((1 << bits) - 1))).cast("long"),
            F.lit(0),
        ),
        F.lit((1 << bits) - 1),
    )


def _interleave(ranks: list[Column], bits: int) -> Column:
    """Morton interleave: bit ``b`` of rank ``ci`` lands at z-bit
    ``b * n + ci`` — ``bits * n`` shift/or terms of column algebra."""
    z = F.lit(0).cast("long")
    n = len(ranks)
    for b in range(bits):
        for ci, r in enumerate(ranks):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(r, b).bitwiseAND(F.lit(1)),
                    b * n + ci,
                )
            )
    return z


def _col_bounds(df: DataFrame, cols: list[str]) -> dict[str, tuple[float, float]]:
    """One scalar aggregate: (lo, hi) per column as doubles; empty input
    / all-null columns degrade to (0.0, 0.0) — constant-0 rank."""
    stats = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"__lo_{c}") for c in cols],
        *[F.max(F.col(c).cast("double")).alias(f"__hi_{c}") for c in cols],
    ).collect()[0]
    return {
        c: (
            stats[f"__lo_{c}"] if stats[f"__lo_{c}"] is not None else 0.0,
            stats[f"__hi_{c}"] if stats[f"__hi_{c}"] is not None else 0.0,
        )
        for c in cols
    }


def zorder_value(
    df: DataFrame, cols: list[str], bits: int = 16
) -> tuple[DataFrame, str]:
    """Append the Morton z-value column for ``cols``; returns
    ``(df_with_z, z_col_name)``. Min/max are collected once (a 2-value
    scalar aggregate per column) and baked into the projection as
    literals; the interleave is ``2 * bits * len(cols)`` shift/or terms
    of pure column algebra."""
    if not 2 <= len(cols) <= 4:
        raise ValueError("z-order needs 2-4 columns")
    if bits * len(cols) > 62:
        raise ValueError("bits * len(cols) must fit in a long")
    bounds = _col_bounds(df, cols)
    ranks = [
        _normalize(F.col(c), bounds[c][0], bounds[c][1], bits) for c in cols
    ]
    name = "__z"
    return df.withColumn(name, _interleave(ranks, bits)), name


def zorder_layout_report(
    df: DataFrame,
    col_x: str,
    col_y: str,
    bits: int = 8,
    file_bits: int = 4,
    box_x: tuple[float, float] = (0.25, 0.375),
    box_y: tuple[float, float] = (0.5, 0.625),
) -> DataFrame:
    """The layout-planning report behind the z-order decision: WOULD
    z-ordering this table on (col_x, col_y) beat a plain col_x sort for
    a two-sided range predicate? Simulates both layouts as fixed z-range
    cells (``file_id`` = the z-value's top ``file_bits`` — deterministic,
    no range-partitioner sampling), computes each cell's min/max exactly
    as a file-level stats index would record them, and marks which cells
    a [box_x × box_y] predicate (fractions of each column's span) must
    scan under interval-overlap pruning. One narrow aggregate over the
    table — the same price as building the stats index itself.

    Output: one row per (layout, file_id) with ``n_rows``, per-column
    min/max, and ``hit``; sum(n_rows WHERE hit) / sum(n_rows) is the
    scan fraction each layout pays. All arithmetic is the pinned
    IEEE/integer sequence (normalize → floor → clamp → interleave), so
    the whole report is DuckDB-replayable (`events_zorder_layout`).

    Null handling: Spark's ``greatest``/``least`` skip nulls, so a null
    coordinate clamps to rank 0 (DuckDB's Postgres-style greatest/least
    agree); the null row lands in a real cell, counts toward n_rows,
    and is excluded from that cell's min/max — matching what a real
    file layout does with null rows. A cell whose min/max are all-null
    for a predicate column is never hit (range predicates don't match
    NULL), mirroring `sinks/stats_index.py` interval semantics."""
    box_fracs = (*box_x, *box_y)
    if not all(0.0 <= f <= 1.0 for f in box_fracs):
        raise ValueError("box fractions must lie in [0, 1]")
    bounds = _col_bounds(df, [col_x, col_y])
    (lo_x, hi_x), (lo_y, hi_y) = bounds[col_x], bounds[col_y]
    bx0, bx1 = (lo_x + box_x[0] * (hi_x - lo_x), lo_x + box_x[1] * (hi_x - lo_x))
    by0, by1 = (lo_y + box_y[0] * (hi_y - lo_y), lo_y + box_y[1] * (hi_y - lo_y))

    rx = _normalize(F.col(col_x), lo_x, hi_x, bits)
    ry = _normalize(F.col(col_y), lo_y, hi_y, bits)
    z = _interleave([rx, ry], bits)
    z_file = F.shiftright(z, 2 * bits - file_bits)
    linear_file = _normalize(F.col(col_x), lo_x, hi_x, file_bits)

    cells = df.select(
        F.col(col_x), F.col(col_y), z_file.alias("__zf"),
        linear_file.alias("__lf"),
    ).select(
        F.explode(
            F.array(
                F.struct(F.lit("zorder").alias("layout"),
                         F.col("__zf").alias("file_id")),
                F.struct(F.lit("linear_x").alias("layout"),
                         F.col("__lf").alias("file_id")),
            )
        ).alias("__cell"),
        col_x, col_y,
    ).select("__cell.layout", "__cell.file_id", col_x, col_y)

    stats = cells.groupBy("layout", "file_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min(col_x).alias("min_x"),
        F.max(col_x).alias("max_x"),
        F.min(col_y).alias("min_y"),
        F.max(col_y).alias("max_y"),
    )
    overlap = (
        (F.col("min_x").cast("double") <= F.lit(bx1))
        & (F.col("max_x").cast("double") >= F.lit(bx0))
        & (F.col("min_y").cast("double") <= F.lit(by1))
        & (F.col("max_y").cast("double") >= F.lit(by0))
    )
    return stats.select(
        "layout", "file_id", "n_rows", "min_x", "max_x", "min_y", "max_y",
        F.coalesce(overlap, F.lit(False)).alias("hit"),
    )


def _hilbert_stage(df: DataFrame, rx: Column, ry: Column, bits: int):
    """Unrolled 2-D Hilbert index (the classic xy2d walk, Wikipedia's
    public-domain formulation): ``bits`` rounds, each computing
    (x', y', d') from (x, y, d) with PURE integer column algebra —
    staged as simultaneous select-bindings per round so the expression
    tree grows linearly, not exponentially. Returns df with ``__hd``."""
    out = df.select(
        "*",
        rx.alias("__hx"),
        ry.alias("__hy"),
        F.lit(0).cast("long").alias("__hd"),
    )
    for k in reversed(range(bits)):
        s = 1 << k
        bx = F.shiftright(F.col("__hx"), k).bitwiseAND(F.lit(1))
        by = F.shiftright(F.col("__hy"), k).bitwiseAND(F.lit(1))
        d_new = F.col("__hd") + (
            F.lit(s * s) * (bx * F.lit(3)).bitwiseXOR(by)
        ).cast("long")
        x_new = F.when(
            by == 0,
            F.when(bx == 1, F.lit(s - 1) - F.col("__hy")).otherwise(
                F.col("__hy")
            ),
        ).otherwise(F.col("__hx"))
        y_new = F.when(
            by == 0,
            F.when(bx == 1, F.lit(s - 1) - F.col("__hx")).otherwise(
                F.col("__hx")
            ),
        ).otherwise(F.col("__hy"))
        keep = [c for c in out.columns if c not in ("__hx", "__hy", "__hd")]
        out = out.select(
            *keep,
            x_new.alias("__hx"),
            y_new.alias("__hy"),
            d_new.alias("__hd"),
        )
    return out.drop("__hx", "__hy")


def hilbert_value(
    df: DataFrame, cols: list[str], bits: int = 8
) -> tuple[DataFrame, str]:
    """Append the 2-D Hilbert index for ``cols``. Same normalization
    and write recipe as ``zorder_value``, different curve: Hilbert has
    strictly better locality than Morton (every curve step is distance
    1 — no Morton 'jumps' across the plane), which tightens per-file
    min/max boxes and prunes more. The cost is the unrolled state walk
    (~6 integer ops × bits) instead of Morton's stateless interleave —
    both are pure JVM-side projections."""
    if len(cols) != 2:
        raise ValueError("hilbert_value supports exactly 2 columns")
    if not 1 <= bits <= 15:
        raise ValueError("bits must be in [1, 15]")
    bounds = _col_bounds(df, cols)
    rx = _normalize(F.col(cols[0]), *bounds[cols[0]], bits)
    ry = _normalize(F.col(cols[1]), *bounds[cols[1]], bits)
    out = _hilbert_stage(df, rx, ry, bits)
    return out.withColumnRenamed("__hd", "__hilbert"), "__hilbert"


def hilbert_layout_report(
    df: DataFrame,
    col_x: str,
    col_y: str,
    bits: int = 8,
    file_bits: int = 4,
    box_x: tuple[float, float] = (0.25, 0.375),
    box_y: tuple[float, float] = (0.5, 0.625),
) -> DataFrame:
    """``zorder_layout_report``'s three-way twin: hilbert vs zorder vs
    linear-x cells for the same box predicate, same schema
    ``(layout, file_id, n_rows, min/max, hit)``. The Hilbert file_id is
    the index's top ``file_bits`` (the curve's natural prefix cells);
    comparing ``sum(n_rows WHERE hit)`` across layouts quantifies the
    locality claim instead of asserting it."""
    box_fracs = (*box_x, *box_y)
    if not all(0.0 <= f <= 1.0 for f in box_fracs):
        raise ValueError("box fractions must lie in [0, 1]")
    bounds = _col_bounds(df, [col_x, col_y])
    (lo_x, hi_x), (lo_y, hi_y) = bounds[col_x], bounds[col_y]
    bx0, bx1 = (lo_x + box_x[0] * (hi_x - lo_x), lo_x + box_x[1] * (hi_x - lo_x))
    by0, by1 = (lo_y + box_y[0] * (hi_y - lo_y), lo_y + box_y[1] * (hi_y - lo_y))

    rx = _normalize(F.col(col_x), lo_x, hi_x, bits)
    ry = _normalize(F.col(col_y), lo_y, hi_y, bits)
    z = _interleave([rx, ry], bits)
    staged = _hilbert_stage(
        df.select(F.col(col_x), F.col(col_y)), rx, ry, bits
    )
    cells = staged.select(
        col_x,
        col_y,
        F.shiftright(F.col("__hd"), 2 * bits - file_bits).alias("__hf"),
        F.shiftright(z, 2 * bits - file_bits).alias("__zf"),
        _normalize(F.col(col_x), lo_x, hi_x, file_bits).alias("__lf"),
    ).select(
        F.explode(
            F.array(
                F.struct(F.lit("hilbert").alias("layout"),
                         F.col("__hf").alias("file_id")),
                F.struct(F.lit("zorder").alias("layout"),
                         F.col("__zf").alias("file_id")),
                F.struct(F.lit("linear_x").alias("layout"),
                         F.col("__lf").alias("file_id")),
            )
        ).alias("__cell"),
        col_x,
        col_y,
    ).select("__cell.layout", "__cell.file_id", col_x, col_y)

    stats = cells.groupBy("layout", "file_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min(col_x).alias("min_x"),
        F.max(col_x).alias("max_x"),
        F.min(col_y).alias("min_y"),
        F.max(col_y).alias("max_y"),
    )
    overlap = (
        (F.col("min_x").cast("double") <= F.lit(bx1))
        & (F.col("max_x").cast("double") >= F.lit(bx0))
        & (F.col("min_y").cast("double") <= F.lit(by1))
        & (F.col("max_y").cast("double") >= F.lit(by0))
    )
    return stats.select(
        "layout", "file_id", "n_rows", "min_x", "max_x", "min_y", "max_y",
        F.coalesce(overlap, F.lit(False)).alias("hit"),
    )


def zorder_write(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 16,
    n_files: int = 8,
) -> None:
    """Write ``df`` to ``path`` Z-ordered on ``cols``: one range shuffle
    on the z-value, in-partition sort, z column dropped before write.
    ``n_files`` sizes the output files (range partitions); at scale pick
    it so files land at 128-512 MB like any parquet sink."""
    zdf, zc = zorder_value(df, cols, bits)
    (
        zdf.repartitionByRange(n_files, F.col(zc))
        .sortWithinPartitions(zc)
        .drop(zc)
        .write.mode("overwrite")
        .parquet(path)
    )
