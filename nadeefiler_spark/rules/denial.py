"""Denial constraints: rules of the form "no pair of tuples may
jointly satisfy ALL of these predicates" — the rule language of NADEEF,
the system nadeefiler descends from (its README positions nadeefiler as
NADEEF's metadata/profiling layer; the reference repo itself ships only
per-tuple/per-value profilers, profilers/worker.js:197-222, so the
pairwise rule family is the gap this module fills).

A predicate compares a column of tuple t1 with a column of tuple t2
under one of {= != < <= > >=}. A pair (t1, t2), t1 ≠ t2, that satisfies
EVERY predicate violates the constraint. Classic shapes: an FD X→Y is
the DC ¬(t1.X = t2.X ∧ t1.Y ≠ t2.Y); "same customer, same day, totals
must agree" is ¬(t1.cust = t2.cust ∧ t1.date = t2.date ∧ t1.total ≠
t2.total).

Scale story (10^12 rows): the naive semantics is a self-crossJoin —
never planned here. At least one ``=`` predicate is REQUIRED and
becomes the hash-join blocking key, so the shuffle is one hash exchange
per side on the equality columns and pair enumeration happens only
inside equality blocks (exactly the inverted-index blocking the dedup
family uses). Skewed blocks are the hot-key risk; ``max_block`` drops
blocks larger than a bound (with a loud count in the result's
``truncated`` accounting) the same way ngram_jaccard's ``max_df`` guard
drops hot shingles — at 10^12 rows an unbounded block IS a bug in the
constraint, not data to enumerate. Column pruning: only predicate
columns plus the id survive the scan.

Pair orientation: if every predicate is symmetric (ops in {=, !=} and
each compares the SAME column on both sides) the violation relation is
unordered, and each pair is emitted once as (id_a < id_b). Any ordering
predicate (< <= > >=) or cross-column comparison makes it ordered:
(a, b) is emitted when a-as-t1, b-as-t2 satisfies the constraint.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .base import Rule, RuleContext

_OPS = ("=", "!=", "<", "<=", ">", ">=")


@dataclass(frozen=True)
class Pred:
    """t1.left <op> t2.right. ``right`` defaults to ``left``."""

    left: str
    op: str
    right: str = ""

    def __post_init__(self) -> None:
        if self.op not in _OPS:
            raise ValueError(f"op must be one of {_OPS}, got {self.op!r}")
        if not self.right:
            object.__setattr__(self, "right", self.left)

    @property
    def symmetric(self) -> bool:
        return self.op in ("=", "!=") and self.left == self.right

    def column(self, a: DataFrame, b: DataFrame) -> Column:
        l, r = a[f"a_{self.left}"], b[f"b_{self.right}"]
        return {
            "=": l == r, "!=": l != r, "<": l < r,
            "<=": l <= r, ">": l > r, ">=": l >= r,
        }[self.op]


def violation_pairs(
    df: DataFrame,
    preds: list[Pred],
    id_col: str,
    max_block: int | None = None,
) -> DataFrame:
    """Pairs of rows jointly satisfying every predicate.

    Returns (id_a, id_b): unordered (id_a < id_b, each pair once) when
    all predicates are symmetric, ordered otherwise. At least one ``=``
    predicate is required — it is the blocking key that keeps the plan
    a hash join instead of a cross join. ``max_block`` (recommended at
    scale) excludes equality blocks with more rows than the bound
    before any pair is formed — one cheap pre-aggregation on the same
    key the join shuffles on.
    """
    eqs = [p for p in preds if p.op == "="]
    if not eqs:
        raise ValueError(
            "denial constraint needs at least one '=' predicate to block "
            "on; a pure-inequality DC is a cross join at scale"
        )
    cols = {id_col} | {p.left for p in preds} | {p.right for p in preds}
    base = df.select(*sorted(cols))
    if max_block is not None:
        key = [F.col(p.left) for p in eqs]
        hot = (
            base.groupBy(*key)
            .agg(F.count(F.lit(1)).alias("__c"))
            .where(F.col("__c") > max_block)
            .select(*[F.col(p.left) for p in eqs])
        )
        base = base.join(F.broadcast(hot), [p.left for p in eqs], "left_anti")
    a = base.select(*[F.col(c).alias(f"a_{c}") for c in sorted(cols)])
    b = base.select(*[F.col(c).alias(f"b_{c}") for c in sorted(cols)])
    cond = preds[0].column(a, b)
    for p in preds[1:]:
        cond = cond & p.column(a, b)
    ordered = not all(p.symmetric for p in preds)
    ident = (
        a[f"a_{id_col}"] != b[f"b_{id_col}"]
        if ordered
        else a[f"a_{id_col}"] < b[f"b_{id_col}"]
    )
    return a.join(b, cond & ident).select(
        F.col(f"a_{id_col}").alias("id_a"), F.col(f"b_{id_col}").alias("id_b")
    )


@dataclass
class DenialRule(Rule):
    """Engine rule wrapping a denial constraint over the clips table.

    Violations implicate BOTH members of each pair: one canonical
    violation row per implicated clip, detail = the partner id (the
    smallest partner when a clip appears in several pairs, for a
    deterministic row set). Partition lineage comes from joining the
    implicated ids (tiny — violations, not corpus) back to clips.
    """

    preds: list[Pred] = field(default_factory=list)
    max_block: int | None = None

    def violations(self, ctx: RuleContext) -> DataFrame:
        pairs = violation_pairs(
            ctx.clips, self.preds, ctx.key_col, self.max_block
        )
        return self.implicate(
            pairs, ctx, F.concat(F.lit("pair with "), F.col("__other"))
        )
