"""Matching dependencies: similar antecedents must agree on the
consequent.

An MD (Fan et al., "Reasoning about Record Matching Rules", VLDB 2009
— public) relaxes an FD's equality on the determinant to SIMILARITY:
``lhs within edit distance k ⟹ rhs equal``. It is the remaining member
of the NADEEF-line rule family after FDs/CFDs (exact determinacy,
``fd.py``) and denial constraints (predicate pairs, ``denial.py``) —
the rule shape record-linkage data actually needs, where keys arrive
misspelled. The reference's rule catalog stops at per-value profilers;
this extends the same violation-row contract to near-match pairs.

Scale story (10^12 rows): candidate pairs come from
``operators.fuzzy.edit_distance_pairs`` — q-gram inverted-index
blocking with value-level dedup and count-bound pruning, never a
cartesian; the consequent check is two hash joins of the (minority)
pair set back to the id-keyed rows. Nothing driver-side.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.fuzzy import edit_distance_pairs
from .base import Rule, RuleContext


def md_violation_pairs(
    df: DataFrame,
    id_col: str,
    sim_col: str,
    rhs_cols: list[str],
    max_dist: int = 2,
    gram_n: int = 2,
    max_df: int | None = None,
) -> DataFrame:
    """Unordered row pairs (id_a < id_b) whose ``sim_col`` values are
    within ``max_dist`` Levenshtein but whose consequent differs:
    (id_a, id_b, dist, mismatched) with ``mismatched`` the
    comma-joined rhs columns that disagree (null-safe: NULL vs value
    counts as a mismatch, NULL vs NULL does not). ``id_col`` must be
    unique (it identifies the pair's members). Exactness inherits
    ``edit_distance_pairs``'s q-gram bound conditions."""
    pairs = edit_distance_pairs(df, id_col, sim_col, max_dist, gram_n, max_df)
    a = df.select(
        F.col(id_col).alias("id_a"),
        *[F.col(c).alias(f"__a_{c}") for c in rhs_cols],
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        *[F.col(c).alias(f"__b_{c}") for c in rhs_cols],
    )
    j = pairs.join(a, "id_a").join(b, "id_b")
    mismatched = F.concat_ws(
        ",",
        *[
            F.when(
                ~F.col(f"__a_{c}").eqNullSafe(F.col(f"__b_{c}")), F.lit(c)
            )
            for c in rhs_cols
        ],
    )
    return j.select(
        "id_a", "id_b", "dist", mismatched.alias("mismatched")
    ).where(F.col("mismatched") != "")


@dataclass
class MatchingDependencyRule(Rule):
    """Engine rule wrapping an MD over the clips table: clips whose
    ``sim_col`` nearly matches another clip's but whose ``rhs_cols``
    disagree. Violation rows implicate BOTH pair members — one
    canonical row per clip (smallest partner id, deterministic), detail
    = the partner and the disagreeing columns — mirroring DenialRule's
    pair contract."""

    sim_col: str = "transcript"
    rhs_cols: tuple[str, ...] = ()
    max_dist: int = 2
    gram_n: int = 2
    max_df: int | None = None

    def __post_init__(self) -> None:
        self.name = self.name or f"{self.sim_col}_md"
        self.stage = "constraints"

    def violations(self, ctx: RuleContext) -> DataFrame:
        pairs = md_violation_pairs(
            ctx.clips,
            ctx.key_col,
            self.sim_col,
            list(self.rhs_cols),
            self.max_dist,
            self.gram_n,
            self.max_df,
        )
        return self.implicate(
            pairs,
            ctx,
            F.concat(
                F.lit("near "),
                F.col("__other"),
                F.lit(" differs on "),
                F.col("__mismatched"),
            ),
            extra=("mismatched",),
        )
