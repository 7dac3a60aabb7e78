"""Distribution-drift detection between two slices of a dataset.

The quality-monitoring companion to the declarative DQ suite
(operators/quality.py): a pipeline that retrains on weekly corpus drops
needs to know whether this week's category mix (sources, languages,
event types) still looks like last week's. The chi-square independence
statistic over the (category x slice) contingency table is the standard
test; here it is computed as pure relational algebra with a
deterministic summation scheme so the driver oracle value-hashes it.

Reference parity: no counterpart in /root/reference — extension
surface (the reference's stats tables count rows, they never compare
distributions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nspc_etl_basic_spark.materialize import hold


def chi2_drift(
    df: DataFrame,
    category_col: str,
    in_b_col: str,
) -> DataFrame:
    """Chi-square drift report between slice A (``in_b_col`` false) and
    slice B (true) over ``category_col``.

    One row per category:
      ``category, obs_a, obs_b, exp_a, exp_b, contrib`` (expected
      counts and the cell's chi-square contribution, rounded to 6),
    each row also carrying the global ``chi2`` statistic and ``dof``
    (= #categories - 1) via the repo's 1-row scalar-broadcast shape.

    Determinism: observed counts are integers; expected counts and
    per-cell contributions are single IEEE multiply/divide chains
    (exactly-rounded, engine-identical) rounded to 6; the STATISTIC is
    the sum of the rounded per-cell contributions accumulated in
    DECIMAL (exact, order-independent — a plain double sum would make
    the result depend on partition order). The statistic is
    descriptive; p-value lookup belongs to the caller (incomplete
    gamma is not SQL-replayable).

    Scale: one map-side-combined groupBy over (category) with
    conditional counts — 8-byte rows, the data itself never reshuffles
    — plus two 1-row broadcasts (slice totals, statistic). Category
    cardinality bounds every post-aggregation structure. The two
    category-sized frames it caches are released by the caller's
    ``materialize.scope``.
    """
    # cache the category-sized contingency table: every downstream
    # branch (slice totals, per-cell frame, the statistic, the output)
    # hangs off it, and without the cache Catalyst duplicates the full
    # input scan per branch (audited: 8 scans -> 2)
    counts = hold(
        df.groupBy(F.col(category_col).alias("category"))
        .agg(
            F.sum(F.when(~F.col(in_b_col), 1).otherwise(0))
            .cast("long")
            .alias("obs_a"),
            F.sum(F.when(F.col(in_b_col), 1).otherwise(0))
            .cast("long")
            .alias("obs_b"),
        )
    )
    totals = counts.agg(
        F.sum("obs_a").cast("long").alias("__ta"),
        F.sum("obs_b").cast("long").alias("__tb"),
    )
    with_tot = counts.crossJoin(F.broadcast(totals))
    row_tot = F.col("obs_a") + F.col("obs_b")
    n = F.col("__ta") + F.col("__tb")
    exp_a = row_tot * F.col("__ta") / n
    exp_b = row_tot * F.col("__tb") / n
    # (o-e)^2 spelled as an explicit multiply: IEEE *, /, +- are
    # exactly rounded and engine-identical, while pow() is only
    # best-effort-ulp in both engines
    da = F.col("obs_a") - exp_a
    db = F.col("obs_b") - exp_b
    cell = (
        F.when(exp_a > 0, da * da / exp_a).otherwise(F.lit(0.0))
        + F.when(exp_b > 0, db * db / exp_b).otherwise(F.lit(0.0))
    )
    per_cat = hold(with_tot.select(
        "category",
        "obs_a",
        "obs_b",
        F.round(exp_a, 6).alias("exp_a"),
        F.round(exp_b, 6).alias("exp_b"),
        F.round(cell, 6).alias("contrib"),
    ))
    stat = per_cat.agg(
        # exact decimal accumulation of the rounded contributions:
        # order-independent, so the statistic value-hashes cross-engine
        F.sum(F.col("contrib").cast("decimal(28,6)"))
        .cast("double")
        .alias("chi2"),
        (F.count(F.lit(1)) - 1).cast("long").alias("dof"),
    )
    return per_cat.crossJoin(F.broadcast(stat))
