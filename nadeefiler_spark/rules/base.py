"""Rule protocol — the Spark-native analog of nadeefiler's profiler plug-ins.

The reference validates a plug-in contract at load time
(``/root/reference/profilers/worker.js:197-222``): a module exports
``onFinish`` plus one of ``onFile | onTuple | onValue``, optionally a
custom input ``selector`` and a ``resultsCatcher`` sink. The harness owns
the pass over the data; the plug-in states only per-tuple logic. Here a
row rule is likewise its :meth:`Rule.predicate` (the ``onTuple`` analog:
Catalyst columns, never Python rows) plus, when it reads a frame other
than ``ctx.clips``, :meth:`Rule.rows` (its "selector"). The engine folds
every predicate rule over the row source it names into one pass
(:func:`fold`), and the default :meth:`Rule.violations` is that fold of
the rule alone.
Only rules that need joins or aggregation write ``violations()``
themselves; either way the result is a violations DataFrame (what the
"resultsCatcher" writes).

Cascade semantics (``/root/reference/profilers/config.js:10-20``,
``api/hooks/amqp.js:40-42``: profilers form a tree, children read their
parents' results) map to ``depends_on`` + :func:`topo_sort`; a dependent
rule reads the upstream stage's output table from the context.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass, field
from functools import reduce
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

VIOLATION_COLS = ("part", "rule", "clip_id", "detail")


@dataclass
class RuleContext:
    """Inputs a rule may select from (reference: the ``selector`` hook)."""

    spark: SparkSession
    clips: DataFrame
    refs: Optional[DataFrame] = None
    decoded: Optional[DataFrame] = None  # shared one-pass audio decode facts
    profile_summary: Optional[DataFrame] = None
    profile_hist: Optional[DataFrame] = None
    baseline_hist: Optional[DataFrame] = None  # drift comparison side
    key_col: str = "clip_id"
    part_col: str = "part"


@dataclass
class Rule:
    """Base rule.

    A row rule implements :meth:`predicate` (plus :meth:`rows` when it
    reads a frame other than ``ctx.clips``, and :meth:`prepare` when its
    predicate needs staged helper columns) and inherits
    :meth:`violations`. A rule that needs joins or aggregation overrides
    :meth:`violations` instead."""

    name: str = ""
    stage: str = "constraints"  # profile | constraints | audio | drift | semantic
    depends_on: tuple[str, ...] = field(default_factory=tuple)

    def violations(self, ctx: RuleContext) -> DataFrame:
        """The rows of :meth:`rows` that :meth:`predicate` flags, staged
        by :meth:`prepare`: the engine's :func:`fold` of this rule alone,
        so the standalone plan is the one the engine runs (a bare
        ``where(predicate)`` lets the optimizer re-derive staged columns
        and can bust the 64 KB codegen limit)."""
        if self.predicate(ctx) is None:
            raise NotImplementedError
        return fold([self], ctx)

    def predicate(self, ctx: RuleContext):
        """Return ``(violation_pred, detail)`` Columns evaluated per row of
        :meth:`rows`. The engine folds every rule that implements this
        into ONE shared scan per row source (the row-rule analog of the
        profiler's single-pass agg; reference runs each profiler as a
        separate pass over the dataset, profilers/worker.js:121-144).
        Return None (default) for rules needing joins/aggregation.
        """
        return None

    def rows(self, ctx: RuleContext) -> DataFrame:
        """The frame :meth:`predicate` is evaluated over (default
        ``ctx.clips``). The engine folds rules whose ``rows`` return the
        same frame object into one scan, so return a context frame, not
        a fresh derivation, unless the rule must scan alone."""
        return ctx.clips

    def prepare(self, df: DataFrame, ctx: RuleContext) -> DataFrame:
        """Optional staging step for :meth:`predicate`: append helper
        columns the :meth:`predicate` Columns reference (e.g. a
        materialized header slice), keeping each projection small enough
        for whole-stage codegen — a flat expression tree re-derived per
        reference can exceed Janino's 64 KB method limit and silently
        drop the whole shared scan to interpreted eval. The engine
        chains every folded rule's ``prepare`` over the shared scan of
        its row source (:meth:`rows`), so helper columns must be
        uniquely named (``__<rule>``-prefixed by convention); they never
        reach the violations output (the fold projects only
        part/rule/clip_id/detail). Default: no staging."""
        return df

    @staticmethod
    def shape(df: DataFrame, ctx: RuleContext, rule_name: str, detail) -> DataFrame:
        """Project any row source onto the canonical violations schema."""
        return df.select(
            F.col(ctx.part_col).cast("string").alias("part"),
            F.lit(rule_name).alias("rule"),
            F.col(ctx.key_col).cast("string").alias("clip_id"),
            detail.cast("string").alias("detail"),
        )

    def implicate(self, pairs: DataFrame, ctx: RuleContext, detail, extra=()) -> DataFrame:
        """Violation rows for a pair rule: both members of each
        ``(id_a, id_b)`` pair are implicated, one row per clip with its
        smallest partner as ``__other`` (deterministic), and each
        ``extra`` per-pair column as ``__<col>`` (its min per clip).
        Partition lineage comes from a broadcast join of the implicated
        ids (tiny — violations, not corpus) back to ``ctx.clips``."""
        k = ctx.key_col
        sides = [
            pairs.select(F.col(a).alias(k), F.col(b).alias("__other"), *extra)
            for a, b in (("id_a", "id_b"), ("id_b", "id_a"))
        ]
        implicated = sides[0].unionByName(sides[1]).groupBy(k).agg(
            F.min("__other").alias("__other"),
            *[F.min(c).alias(f"__{c}") for c in extra],
        )
        rows = ctx.clips.select(k, ctx.part_col).join(F.broadcast(implicated), k)
        return self.shape(rows, ctx, self.name, detail)


def fold(rules: list[Rule], ctx: RuleContext) -> DataFrame:
    """The violations of ``rules`` as one frame. The predicate rules (pure
    row filters) fold into ONE scan per row source — the frame
    :meth:`Rule.rows` returns, matched by identity: ctx.clips for the
    constraint rules, the persisted ctx.decoded for the audio rules — as
    array<struct(rule, bad, detail)> -> filter -> explode. Join/agg rules
    keep their own branch; everything unions into a single write job."""
    sources: dict[int, list] = {}  # id(rows) -> [rows, staged scan, structs]
    branches: list[DataFrame] = []
    for rule in rules:
        pd_ = rule.predicate(ctx)
        if pd_ is None:
            branches.append(rule.violations(ctx))
            continue
        rows = rule.rows(ctx)
        src = sources.setdefault(id(rows), [rows, rows, []])
        # rules with staged helper columns (Rule.prepare) chain their
        # staging over the shared scan; the predicates then reference
        # MATERIALIZED columns, keeping each projection's generated code
        # small (the flat header-probe tree busts Janino's 64 KB limit).
        # A helper column colliding with an input column or another
        # rule's staging makes every downstream reference ambiguous;
        # fail loudly with attribution instead of letting the whole
        # stage die on AMBIGUOUS_REFERENCE
        src[1] = rule.prepare(src[1], ctx)
        dups = [c for c, n in Counter(src[1].columns).items() if n > 1]
        if dups:
            raise ValueError(
                f"rule {rule.name!r}: prepare() staged duplicate "
                f"column(s) {dups} onto the shared {rule.stage} scan; "
                "namespace helper columns per rule instance "
                "(__<rule.name>_ prefix convention, rules/base.py)"
            )
        pred, detail = pd_
        # the detail only for flagged rows, as a filter would: a detail
        # may be undefined where the predicate is false (a rate over a
        # zero duration raises under ANSI division)
        src[2].append(F.struct(
            F.lit(rule.name).alias("rule"),
            pred.alias("bad"),
            F.when(pred, detail.cast("string")).alias("detail"),
        ))
    for _, scan, folded in sources.values():
        hits = scan.select(
            F.col(ctx.part_col).cast("string").alias("part"),
            F.col(ctx.key_col).cast("string").alias("clip_id"),
            F.filter(F.array(*folded), lambda s: s["bad"]).alias("vs"),
        ).where(F.size("vs") > 0)
        branches.append(
            hits.select("part", F.explode("vs").alias("v"), "clip_id")
            .select("part", "v.rule", "clip_id", "v.detail")
        )
    out = reduce(DataFrame.unionByName, branches)
    return out.select("part", "rule", "clip_id", "detail")


def topo_sort(rules: list[Rule]) -> list[Rule]:
    """Stable topological order over ``depends_on`` (cascade tree analog).

    Duplicate names are an error, not a silent drop: the name keys the
    violations output, staged-column namespaces, and ``depends_on``
    edges, so two same-named instances would be indistinguishable
    downstream (and the visit-marking here would quietly skip the
    second one — ADVICE r4)."""
    by_name = {r.name: r for r in rules}
    if len(by_name) != len(rules):
        dupes = sorted(
            n for n, c in Counter(r.name for r in rules).items() if c > 1
        )
        raise ValueError(
            f"duplicate rule name(s) {dupes}: give each rule instance a "
            "unique name (it keys violations rows and staged columns)"
        )
    seen: dict[str, int] = {}
    out: list[Rule] = []

    def visit(r: Rule, chain: tuple[str, ...]) -> None:
        state = seen.get(r.name)
        if state == 2:
            return
        if state == 1:
            raise ValueError(f"rule dependency cycle: {' -> '.join(chain + (r.name,))}")
        seen[r.name] = 1
        for dep in r.depends_on:
            if dep in by_name:
                visit(by_name[dep], chain + (r.name,))
        seen[r.name] = 2
        out.append(r)

    for r in rules:
        visit(r, ())
    return out
