"""Unique-column-combination (UCC / candidate-key) discovery: for each
candidate column set C, how many rows share another row's C-value.

Reference parity: nadeefiler's uniqueness rule validates ONE declared
key per dataset (the per-column dup check the API's rule family ships,
api/models/Rule.js semantics); UCC *mining* is the discovery
counterpart — the same dup-count measurement run over every candidate
combination so undeclared keys (and declared keys that don't actually
hold) surface from the data. With ``fd.mine_fds`` and ``ind.mine_inds``
this completes the classical profiling-discovery triple (keys, FDs,
INDs) around the engine's declared-rule validators.

Scale story (10^12 rows): each candidate costs exactly one shuffle,
keyed on the candidate columns themselves, with map-side partial
aggregation; everything after the groupBy is one row per group reduced
to ONE result row — nothing row-collected on the driver. The expensive
candidates are the near-unique ones (group count ≈ row count, so the
shuffle is ∝ rows); :func:`prune_candidates` refutes clearly-non-unique
candidates first with one HyperLogLog pass per DataFrame (plain
aggregates — no multi-count-distinct Expand), so only plausible keys
pay for an exact pass. :func:`mine_keys` walks the combination lattice
level-wise with apriori pruning (a superset of a key is never checked),
collecting only the O(#candidates) verdict rows per level.

NULL semantics match SQL PRIMARY KEY: duplicate detection treats NULL
as a comparable value (two all-NULL rows are duplicates of each other —
Spark groupBy and SQL GROUP BY agree on that), and ``is_key``
additionally requires zero NULLs in the candidate columns. An empty
table trivially satisfies both.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce
from itertools import combinations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .tableio import empty_frame


@dataclass(frozen=True)
class UccCandidate:
    """One candidate key: ``cols`` over ``df``, labeled ``name`` in the
    result rows (DataFrames carry no table name)."""

    name: str
    df: DataFrame
    cols: tuple[str, ...]

    @property
    def label(self) -> str:
        return ",".join(self.cols)


def prune_candidates(
    cands: list[UccCandidate],
    max_dup_rate: float = 0.0,
    slack: float = 0.15,
) -> list[UccCandidate]:
    """Drop candidates a cardinality bound already refutes: C can only
    be (near-)unique if ndv(C) is (near) the row count, so if even the
    optimistic HLL estimate (inflated by ``slack`` to absorb sketch
    error) leaves more duplicate rows than ``max_dup_rate`` allows, the
    exact shuffle is pointless. One aggregation pass per distinct
    DataFrame computes the sketches for ALL its candidates at once —
    ``approx_count_distinct`` is a plain aggregate, so unlike exact
    multi-``count_distinct`` this triggers no Expand."""
    by_df: dict[int, tuple[DataFrame, list[UccCandidate]]] = {}
    for c in cands:
        by_df.setdefault(id(c.df), (c.df, []))[1].append(c)
    kept: list[UccCandidate] = []
    for df, group in by_df.values():
        row = df.agg(
            F.count(F.lit(1)).alias("__n"),
            *[
                F.approx_count_distinct(F.struct(*c.cols)).alias(f"__ndv_{i}")
                for i, c in enumerate(group)
            ],
        ).first()
        n = row["__n"]
        for i, c in enumerate(group):
            est_dups = n - row[f"__ndv_{i}"] * (1.0 + slack)
            if est_dups <= max_dup_rate * n:
                kept.append(c)
    return kept


def mine_uccs(
    cands: list[UccCandidate],
    max_dup_rate: float = 0.0,
) -> DataFrame:
    """Measure every candidate UCC exactly.

    Returns one row per candidate:
      (tbl, cols, n_rows, n_nulls, n_groups, dup_rows, is_unique, is_key)
    where n_nulls counts rows with ANY candidate column NULL, dup_rows =
    n_rows - n_groups (rows beyond one per group), is_unique = dup_rows
    <= max_dup_rate * n_rows, and is_key = is_unique AND n_nulls == 0.
    All candidates union into one plan -> one Spark job, one shuffle per
    candidate keyed on its own columns.
    """
    if not cands:
        raise ValueError("mine_uccs needs at least one candidate")
    branches = []
    for c in cands:
        per_group = c.df.groupBy(*c.cols).agg(F.count(F.lit(1)).alias("__cnt"))
        null_any = reduce(
            lambda a, b: a | b, [F.col(col).isNull() for col in c.cols]
        )
        branches.append(
            per_group.agg(
                F.lit(c.name).alias("tbl"),
                F.lit(c.label).alias("cols"),
                # coalesce: every F.sum over ZERO groups (empty input)
                # is NULL, but the contract is bigint 0 — matching the
                # SQL twin's COALESCE
                F.coalesce(F.sum("__cnt"), F.lit(0)).alias("n_rows"),
                F.coalesce(
                    F.sum(F.when(null_any, F.col("__cnt")).otherwise(F.lit(0))),
                    F.lit(0),
                ).alias("n_nulls"),
                F.count(F.lit(1)).alias("n_groups"),
                F.coalesce(F.sum(F.col("__cnt") - 1), F.lit(0)).alias("dup_rows"),
            )
        )
    out = branches[0]
    for br in branches[1:]:
        out = out.unionByName(br)
    is_unique = F.col("dup_rows") <= F.lit(max_dup_rate) * F.col("n_rows")
    return out.select(
        "tbl",
        "cols",
        "n_rows",
        "n_nulls",
        "n_groups",
        "dup_rows",
        is_unique.alias("is_unique"),
        (is_unique & (F.col("n_nulls") == 0)).alias("is_key"),
    )


def mine_keys(
    df: DataFrame,
    cols: list[str],
    name: str = "df",
    max_arity: int = 2,
    max_dup_rate: float = 0.0,
    slack: float = 0.15,
) -> DataFrame:
    """Level-wise minimal-key search over the combination lattice of
    ``cols`` up to ``max_arity``. Apriori pruning: any superset of a
    combination already found unique is skipped (it is unique but not
    minimal); each level is HLL-pruned before its exact pass. The only
    driver-side collect is the per-level verdict rows — O(#candidates),
    never O(rows). Returns the union of every exact-checked level
    (pruned-away candidates carry no row; they were refuted cheaply)."""
    keys: list[tuple[str, ...]] = []
    results: list[DataFrame] = []
    for arity in range(1, max_arity + 1):
        level = [
            UccCandidate(name, df, combo)
            for combo in combinations(cols, arity)
            if not any(set(k) <= set(combo) for k in keys)
        ]
        level = prune_candidates(level, max_dup_rate, slack)
        if not level:
            continue
        mined = mine_uccs(level, max_dup_rate)
        results.append(mined)
        found = {
            r["cols"] for r in mined.select("cols", "is_unique").collect()
            if r["is_unique"]
        }
        keys.extend(c.cols for c in level if c.label in found)
    if not results:
        return empty_frame(
            df.sparkSession,
            "tbl string, cols string, n_rows bigint, n_nulls bigint, "
            "n_groups bigint, dup_rows bigint, is_unique boolean, "
            "is_key boolean",
        )
    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    return out
