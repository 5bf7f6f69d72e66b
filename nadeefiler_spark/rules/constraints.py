"""Row-level constraint rules: uniqueness, domain, required, referential.

Reference parity: nadeefiler has no explicit constraint rules — its
closest analogs are the parent-child referential links enforced by
cascade deletes (``/root/reference/api/models/Dataset.js:46-48``,
``Project.js:34-36``; SURVEY §2.4 J2) and per-column emptiness/type
signals from profiling. The new engine promotes these to first-class
validation rules per BASELINE.json north_star.

Scale notes (each rule's plan at 10^12 rows):
- Uniqueness: groupBy(key).count > 1 gives the (tiny) duplicate-key set
  with map-side partial aggregation, then a join back to recover each
  offending row; AQE broadcasts the dup set when small. This beats a
  window count(*) over(partition by key), which shuffles EVERY row with
  no partial combine.
- Referential: left ANTI join child->parent on the key — Spark plans
  sort-merge with AQE skew split; no driver-side state.
- Domain/required: pure filters, pushed down to the scan.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .base import Rule, RuleContext


@dataclass
class UniquenessRule(Rule):
    """clip_id (or any key tuple) must be unique across the table."""

    keys: tuple[str, ...] = ("clip_id",)

    def __post_init__(self) -> None:
        self.name = self.name or f"unique_{'_'.join(self.keys)}"
        self.stage = "constraints"

    def violations(self, ctx: RuleContext) -> DataFrame:
        df = ctx.clips
        dups = (
            df.groupBy(*self.keys)
            .agg(F.count(F.lit(1)).alias("_dup_count"))
            .where(F.col("_dup_count") > 1)
        )
        hit = df.join(dups, list(self.keys), "inner")
        return self.shape(hit, ctx, self.name,
                          F.concat(F.lit("duplicate_count="), F.col("_dup_count")))


@dataclass
class DomainRule(Rule):
    """Column value must be in an allowed set."""

    column: str = ""
    allowed: Sequence = field(default_factory=tuple)

    def __post_init__(self) -> None:
        self.name = self.name or f"{self.column}_domain"
        self.stage = "constraints"

    def predicate(self, ctx: RuleContext):
        c = F.col(self.column)
        pred = ~c.isin(list(self.allowed)) | c.isNull()
        detail = F.concat(F.lit(f"{self.column}="), c.cast("string"))
        return pred, detail


@dataclass
class RequiredRule(Rule):
    """Column must be non-null and (for strings) non-empty —
    reference maps '' to type null (profilers/messystreams.js:52)."""

    column: str = ""

    def __post_init__(self) -> None:
        self.name = self.name or f"{self.column}_required"
        self.stage = "constraints"

    def predicate(self, ctx: RuleContext):
        c = F.col(self.column)
        pred = c.isNull() | (c.cast("string") == F.lit(""))
        detail = F.when(c.isNull(), F.lit("null")).otherwise(F.lit("empty"))
        return pred, detail


@dataclass
class PiiRule(Rule):
    """Text column must carry no personally identifiable information
    (functions.pii regex detectors — emails, SSNs, +phones, IPv4s,
    card-length digit runs). Predicate fast-path: folds into the
    stage's single shared scan; detail names the kinds that matched."""

    column: str = "transcript"
    kinds: Sequence[str] = field(default_factory=tuple)

    def __post_init__(self) -> None:
        self.name = self.name or f"{self.column}_pii"
        self.stage = "constraints"

    def _kinds(self) -> list[str]:
        from ..functions import pii

        return list(self.kinds) or list(pii.PII_PATTERNS)

    def predicate(self, ctx: RuleContext):
        from ..functions import pii

        ks = self._kinds()
        pred = pii.has_pii(F.col(self.column), ks)
        detail = F.concat_ws(
            ",",
            *[
                F.when(pii.pii_count(self.column, k) > 0, F.lit(k))
                for k in ks
            ],
        )
        return pred, detail


@dataclass
class RangeRule(Rule):
    """Numeric column within [lo, hi]."""

    column: str = ""
    lo: float | None = None
    hi: float | None = None

    def __post_init__(self) -> None:
        self.name = self.name or f"{self.column}_range"
        self.stage = "constraints"

    def predicate(self, ctx: RuleContext):
        c = F.col(self.column).cast("double")
        pred = F.lit(False)
        if self.lo is not None:
            pred = pred | (c < self.lo)
        if self.hi is not None:
            pred = pred | (c > self.hi)
        detail = F.concat(F.lit(f"{self.column}="), F.col(self.column).cast("string"))
        return pred | c.isNull(), detail


@dataclass
class ReferentialRule(Rule):
    """Every refs.key must exist in clips.key (SURVEY §2.4 J2 -> anti join)."""

    key: str = "clip_id"

    def __post_init__(self) -> None:
        self.name = self.name or "ref_integrity"
        self.stage = "constraints"

    def violations(self, ctx: RuleContext) -> DataFrame:
        assert ctx.refs is not None, "ReferentialRule needs ctx.refs"
        orphans = ctx.refs.join(ctx.clips.select(self.key), self.key, "left_anti")
        return self.shape(orphans, ctx, self.name, F.lit("orphan_ref"))


def _join_parent(rule, ctx: RuleContext) -> DataFrame:
    """refs rows inner-joined to their parent clip on ``rule.key``:
    (key, _ref_val, part, _parent_val) for ``rule.column``. The parent
    side is de-duplicated per key (duplicate parent rows are exact
    copies, so one stands for all)."""
    assert ctx.refs is not None, f"{type(rule).__name__} needs ctx.refs"
    parent = ctx.clips.select(
        rule.key, ctx.part_col, F.col(rule.column).alias("_parent_val")
    ).dropDuplicates([rule.key])
    return ctx.refs.select(
        rule.key, F.col(rule.column).alias("_ref_val")
    ).join(parent, rule.key, "inner")


@dataclass
class MatchRule(Rule):
    """A refs column must equal the parent clips column (null-safe).

    input_hint per-row invariant: transcript equality. Duplicate parent
    rows are exact copies, so the inner join cannot create false
    mismatches; violations are de-duplicated per (key, detail).
    """

    key: str = "clip_id"
    column: str = "transcript"

    def __post_init__(self) -> None:
        self.name = self.name or f"{self.column}_equality"
        self.stage = "constraints"

    def violations(self, ctx: RuleContext) -> DataFrame:
        bad = _join_parent(self, ctx).where(
            ~F.col("_ref_val").eqNullSafe(F.col("_parent_val"))
        ).dropDuplicates([self.key, "_ref_val"])
        return self.shape(bad, ctx, self.name, F.lit(f"{self.column}_mismatch"))


@dataclass
class CerRule(Rule):
    """Refs column must agree with the clips column within a character
    error rate — the tolerance-aware sibling of :class:`MatchRule` for
    ASR corpora, where reference transcripts legitimately differ in
    punctuation/casing/filler from the shipped ones and EXACT equality
    over-flags. CER = levenshtein(norm(ref), norm(parent)) /
    max(len(norm(ref)), 1), computed after lowercase + whitespace
    collapse (the same normalization consistency.norm_text applies);
    rows above ``max_cer`` are violations with the measured rate in the
    detail. Pure Catalyst (built-in levenshtein — codepoint-level, no
    UDF); one inner join against the de-duplicated parent, the same
    shape MatchRule pays. A NULL on either side is MatchRule/
    RequiredRule territory and is skipped here."""

    key: str = "clip_id"
    column: str = "transcript"
    max_cer: float = 0.2
    # Explicit post-join spread for SMALL corpora: AQE coalesces the
    # join shuffle by BYTES (a few thousand short rows -> ONE
    # partition), blind to the O(len^2) levenshtein each row then pays,
    # so the whole DP runs single-threaded (measured 16.5 s for 5k
    # 300-char docs vs ~1 s spread). None (default) adds no shuffle —
    # right for corpora big enough that AQE keeps real parallelism.
    spread: int | None = None

    def __post_init__(self) -> None:
        self.name = self.name or f"{self.column}_cer"
        self.stage = "constraints"

    @staticmethod
    def _norm(c):
        return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))

    def violations(self, ctx: RuleContext) -> DataFrame:
        joined = _join_parent(self, ctx)
        if self.spread:
            joined = joined.repartition(self.spread, self.key)
        a, b = self._norm(F.col("_ref_val")), self._norm(F.col("_parent_val"))
        cer = F.levenshtein(a, b) / F.greatest(F.length(a), F.lit(1))
        bad = (
            joined.where(
                F.col("_ref_val").isNotNull()
                & F.col("_parent_val").isNotNull()
                & (cer > self.max_cer)
            )
            .withColumn("_cer", F.round(cer, 4))
            .dropDuplicates([self.key, "_ref_val"])
        )
        return self.shape(
            bad, ctx, self.name, F.concat(F.lit("cer="), F.col("_cer"))
        )


@dataclass
class SpeakingRateRule(Rule):
    """Transcript length must be plausible for the clip's duration.

    Audio+transcript cross-column check: characters-per-second outside
    ``[lo_cps, hi_cps]`` flags mislabeled pairs (a paragraph attached to
    a 100 ms clip, or a minute of audio with a two-word transcript) —
    the dominant label-noise mode in scraped speech corpora. Human
    speech spans roughly 5-25 chars/sec; the wide default [1, 50] only
    flags physically implausible pairs. Empty/whitespace transcripts are
    RequiredRule's job, not this rule's; they are skipped here.

    Pure Catalyst predicate (no UDF, folds into the shared constraint
    scan via the predicate fast path).
    """

    transcript_col: str = "transcript"
    dur_col: str = "dur_ms"
    lo_cps: float = 1.0
    hi_cps: float = 50.0

    def __post_init__(self) -> None:
        self.name = self.name or "speaking_rate"
        self.stage = "constraints"

    def predicate(self, ctx: RuleContext):
        t = F.col(self.transcript_col)
        dur_s = F.col(self.dur_col).cast("double") / 1000.0
        n_chars = F.length(F.trim(t))
        cps = n_chars / dur_s
        applicable = t.isNotNull() & (n_chars > 0) & dur_s.isNotNull() & (dur_s > 0)
        pred = applicable & ((cps < self.lo_cps) | (cps > self.hi_cps))
        detail = F.concat(F.lit("cps="), F.round(cps, 2).cast("string"))
        return pred, detail
