"""Functional-dependency discovery over bounded-cardinality columns.

Reference parity: nadeefiler registers an ``fdminer`` profiler in the
cascade (``/root/reference/profilers/config.js:10-20``) whose shipped
implementation is a 3-tuple stub (``profilers/fdminer/index.js:17-21``)
— the *slot* exists, the mining doesn't. This module fills the slot with
a real single-pass-per-LHS miner: for each candidate LHS column X, ONE
``groupBy(X)`` aggregation computes ``count_distinct(Y)`` for every RHS
Y simultaneously, and X→Y holds iff no X-group sees more than one
distinct Y.

Scale story (10^12 rows): each LHS costs one shuffle whose map-side
partial aggregates are (x, partial-distinct-set) records — bounded
because LHS candidates are pre-filtered to bounded cardinality with a
single ``approx_count_distinct`` pass (the same HLL sketches the
profiler uses). High-NDV columns (ids, timestamps) are never grouped
on. All LHS branches union into one Spark job. Nothing is row-collected
on the driver; the result is one row per (lhs, rhs) candidate.

``max_violation_rate`` > 0 reports *approximate* FDs (holds except on a
small fraction of groups) — the useful notion on dirty data, matching
the validation engine's violation-tolerant rules.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .tableio import empty_frame


def candidate_lhs(
    df: DataFrame, cols: list[str], max_ndv_frac: float = 0.5,
    n_rows: int | None = None,
) -> list[str]:
    """LHS candidates: columns whose approximate NDV is at most
    max_ndv_frac of the row count (one scan, HLL sketches)."""
    n = n_rows if n_rows is not None else df.count()
    if n == 0:
        return []
    row = df.agg(
        *[F.approx_count_distinct(c).alias(c) for c in cols]
    ).first()
    return [c for c in cols if row[c] <= max_ndv_frac * n]


def mine_fds(
    df: DataFrame,
    cols: list[str],
    lhs_cols: list[str] | None = None,
    max_ndv_frac: float = 0.5,
    max_violation_rate: float = 0.0,
    part_col: str | None = None,
) -> DataFrame:
    """Discover single-column FDs X→Y among ``cols``.

    Returns one row per ordered candidate pair:
      (lhs, rhs, n_groups, violating_groups, holds)
    where violating_groups counts X-groups with >1 distinct Y and
    ``holds`` = violating_groups <= max_violation_rate * n_groups.

    ``part_col`` scopes mining per partition — the grouping key becomes
    (part, X) and the result carries a leading ``part`` column, so one
    pass yields every partition's FDs (the engine's stage grain) without
    a per-partition driver loop.

    lhs_cols defaults to :func:`candidate_lhs` (bounded-NDV guard). All
    per-LHS aggregations union into one plan -> one Spark job.
    """
    if lhs_cols is None:
        lhs_cols = candidate_lhs(df, [c for c in cols if c != part_col], max_ndv_frac)
    part_keys = [part_col] if part_col else []
    branches: list[DataFrame] = []
    for x in lhs_cols:
        rhs = [y for y in cols if y != x and y != part_col]
        if not rhs:
            continue
        per_group = df.groupBy(*part_keys, x).agg(
            *[F.count_distinct(y).alias(f"ndv_{y}") for y in rhs]
        )
        branch = per_group.groupBy(*part_keys).agg(
            F.count(F.lit(1)).alias("n_groups"),
            *[
                # coalesce: F.sum over ZERO groups (empty input) is NULL,
                # but the declared contract is bigint 0 / holds=true —
                # matching the SQL twin's COALESCE
                F.coalesce(
                    F.sum((F.col(f"ndv_{y}") > 1).cast("bigint")), F.lit(0)
                ).alias(f"viol_{y}")
                for y in rhs
            ],
        ).select(
            *part_keys,
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(x).alias("lhs"),
                        F.lit(y).alias("rhs"),
                        F.col("n_groups").alias("n_groups"),
                        F.col(f"viol_{y}").alias("violating_groups"),
                    )
                    for y in rhs
                ])
            ).alias("fd"),
        ).select(*part_keys, "fd.lhs", "fd.rhs", "fd.n_groups", "fd.violating_groups")
        branches.append(branch)
    if not branches:
        part_schema = f"{part_col} string, " if part_col else ""
        return empty_frame(
            df.sparkSession, part_schema + "lhs string, rhs string, "
            "n_groups bigint, violating_groups bigint, holds boolean",
        )
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out.withColumn(
        "holds",
        F.col("violating_groups")
        <= F.lit(max_violation_rate) * F.col("n_groups"),
    )


def mine_constant_cfds(
    df: DataFrame,
    lhs: str | list[str],
    rhs: str,
    min_support: int = 1,
    min_confidence: float = 1.0,
    part_col: str | None = None,
) -> DataFrame:
    """Discover constant conditional FDs: the pattern tableau of
    ``(lhs = v) → (rhs = consensus_v)`` rules, one row per lhs value.

    CFDs are the flagship rule type of the dependency line nadeefiler
    descends from (NADEEF's rule catalog is FDs/CFDs/dedup; the
    reference's fdminer slot, ``profilers/config.js:10-20``, stops at the
    stub). Where :func:`mine_fds` answers "does X → Y hold?", this
    answers the per-value question — which conditions DO determine the
    RHS even when the global FD fails — and each emitted row doubles as
    a repair tableau (``repair.suggest_fd_repairs`` applies the same
    modal-consensus semantics row-wise).

    Returns one row per lhs value with ``support >= min_support``:
      (part?, lhs, lhs_value, rhs, consensus, support, n_violations,
       confidence, holds)
    where ``consensus`` is the modal rhs value (ties break to the
    smallest string, NULLs last — deterministic, same rule as the
    repair module), ``confidence = modal_count / support`` (rounded to
    6 places), and ``holds`` iff the unrounded confidence ≥
    ``min_confidence``. Values are surfaced as strings (multi-column
    lhs joins values with '|'; a NULL component is skipped by
    concat_ws — callers needing NULL-distinct multi-column patterns
    should pre-encode).

    Scale story (10^12 rows): shuffle #1 is a map-side-combinable
    groupBy on (lhs, rhs) — volume ∝ distinct pairs, not rows; the
    window runs over that pair table partitioned by lhs value (each
    window partition is one value's rhs histogram — bounded by
    NDV(rhs)). Nothing driver-side.
    """
    lhs_cols = [lhs] if isinstance(lhs, str) else list(lhs)
    part_keys = [part_col] if part_col else []
    lhs_val = F.concat_ws("|", *[F.col(c).cast("string") for c in lhs_cols])
    counts = df.groupBy(
        *part_keys,
        lhs_val.alias("lhs_value"),
        F.col(rhs).cast("string").alias("rhs_value"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy(*part_keys, "lhs_value")
    ranked = (
        counts.withColumn("support", F.sum("cnt").over(w))
        .withColumn(
            "rn",
            F.row_number().over(
                w.orderBy(F.col("cnt").desc(), F.col("rhs_value").asc_nulls_last())
            ),
        )
    )
    return ranked.where(
        (F.col("rn") == 1) & (F.col("support") >= min_support)
    ).select(
        *part_keys,
        F.lit(",".join(lhs_cols)).alias("lhs"),
        "lhs_value",
        F.lit(rhs).alias("rhs"),
        F.col("rhs_value").alias("consensus"),
        F.col("support").cast("bigint").alias("support"),
        (F.col("support") - F.col("cnt")).cast("bigint").alias("n_violations"),
        F.round(F.col("cnt") / F.col("support"), 6).alias("confidence"),
        (F.col("cnt") / F.col("support") >= F.lit(min_confidence)).alias("holds"),
    )
