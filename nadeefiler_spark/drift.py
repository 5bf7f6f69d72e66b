"""Distribution-drift tests between partition histograms: PSI, KS,
Wasserstein-1 and chi-square.

north_star: "KS/PSI distribution-drift tests between partitions".
The reference has no drift math — its nearest analog is the dBoost
outlier profiler consuming per-column histograms
(reference profilers/outliers/index.js:16-18, SURVEY §2.3 A9);
this module is the engine-native generalization, computed as pure
DataFrame math over the (tiny) profile_hist table (SURVEY §4 item 3).
Every statistic reads one aligned grid (:func:`_aligned`): each
(part, key, kind) × every bin either side has, zero-filled, with
per-part totals and numeric-order ECDFs:

- PSI  = sum_bins (p - q) * ln(p / q), with zero-bin smoothing
- KS D = max_bins |ECDF_p - ECDF_q| over bins ordered numerically
- W1   = bin_width * sum_bins |ECDF_p - ECDF_q| (bucket kind only)
- X²   = pooled two-sample chi-square over the raw counts

Scale notes: inputs are aggregated histograms — rows ∝ #parts × #cols ×
#bins, never ∝ data rows — so every join/window here is on sketch-sized
data. The expensive part (building the histograms) already happened in
the single-pass profile stage.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .rules.base import Rule, RuleContext

EPS = 1e-4  # zero-bin smoothing (SURVEY §7 hard-part d); standard PSI floor


def global_baseline(hist: DataFrame) -> DataFrame:
    """Aggregate all partitions' histograms into one baseline histogram."""
    return hist.groupBy("key", "kind", "bin").agg(F.sum("count").alias("count"))


def _aligned(hist: DataFrame, baseline: DataFrame) -> DataFrame:
    """The grid every drift statistic reads: per (part, key, kind), one
    row for each bin the baseline or ANY part has for that (key, kind),
    so a bin missing on either side still appears for that part.

    `hist`: (part, key, kind, bin, count); `baseline`: (key, kind, bin,
    count). Returns (part, key, kind, bin, c_p, c_q, cdf_p, cdf_q, n_p,
    n_q): counts zero-filled, n_* the raw totals over the part's
    grid, cdf_* the ECDFs over numerically-ordered bins (string bins
    order lexically — meaningful KS/W1 applies to 'bucket' kind; PSI
    covers categorical). Plan: one distinct × distinct grid join, two
    left joins, one total window and one ordered window; a caller that
    reads no cdf_* column has the ordered window pruned away.
    """
    p = hist.select("part", "key", "kind", "bin", F.col("count").alias("c_p"))
    q = baseline.select("key", "kind", "bin", F.col("count").alias("c_q"))
    part_keys = p.select("part", "key", "kind").distinct()
    all_bins = q.select("key", "kind", "bin").union(
        p.select("key", "kind", "bin")
    ).distinct()
    joined = (
        part_keys.join(all_bins, ["key", "kind"])
        .join(p, ["part", "key", "kind", "bin"], "left")
        .join(q, ["key", "kind", "bin"], "left")
        .fillna(0, subset=["c_p", "c_q"])
    )
    tot = Window.partitionBy("part", "key", "kind")
    order = tot.orderBy(
        F.col("bin").try_cast("double").asc_nulls_last(), F.col("bin")
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    n_p, n_q = F.sum("c_p").over(tot), F.sum("c_q").over(tot)
    # ECDFs first: Spark stacks windows in first-use order, and the
    # ordered window's sort then also serves the total window
    return joined.select(
        "part", "key", "kind", "bin", "c_p", "c_q",
        (F.sum("c_p").over(order) / F.greatest(n_p, F.lit(1))).alias("cdf_p"),
        (F.sum("c_q").over(order) / F.greatest(n_q, F.lit(1))).alias("cdf_q"),
        n_p.alias("n_p"), n_q.alias("n_q"),
    )


def _smoothed(count: str, total: str) -> Column:
    """``count / total`` floored at EPS (zero-bin smoothing; a zero
    total counts as 1). A function, not a module constant: building a
    Column needs an active session, and this module is imported first."""
    return F.greatest(F.col(count) / F.greatest(F.col(total), F.lit(1)), F.lit(EPS))


def _psi_term(p: Column, q: Column) -> Column:
    """One bin's PSI contribution (p - q)·ln(p/q)."""
    return (p - q) * F.log(p / q)


def drift_metrics(hist: DataFrame, baseline: DataFrame) -> DataFrame:
    """Per (part, key): PSI and KS-D of the part's histogram vs baseline.

    `hist`: (part, key, kind, bin, count); `baseline`: (key, kind, bin,
    count). Bins absent on one side get smoothed probability EPS.
    """
    p, q = _smoothed("c_p", "n_p"), _smoothed("c_q", "n_q")
    return _aligned(hist, baseline).groupBy("part", "key", "kind").agg(
        F.sum(_psi_term(p, q)).alias("psi"),
        F.max(F.abs(F.col("cdf_p") - F.col("cdf_q"))).alias("ks_d"),
    )


def drift_explain(
    hist: DataFrame, baseline: DataFrame, k: int = 3
) -> DataFrame:
    """Per (part, key): the top-``k`` bins DRIVING the PSI — the
    localization step after :func:`drift_metrics` raises an alert. PSI
    is a sum of per-bin contributions (p - q)·ln(p/q); ranking bins by
    contribution answers the on-call question "drifted HOW?" — which
    value range grew, which vanished — without re-scanning anything.

    Same inputs and smoothing as drift_metrics (so contributions sum
    to exactly the PSI it reported). Returns
    (part, key, kind, bin, c_p, c_q, p, q, psi_contrib, rank) with
    rank 1..k per (part, key, kind) by contribution DESC (ties broken
    by bin for determinism); bins with negative or zero contribution
    rank after positive ones and still appear when k exceeds the
    positive count — a part with NO drift simply shows its k least
    conforming bins with near-zero contributions.

    Plan: the aligned grid (:func:`_aligned`) + one row_number window
    over histogram rows — rows ∝ parts x bins, sketch-sized.
    """
    probs = _aligned(hist, baseline).select(
        "part", "key", "kind", "bin", "c_p", "c_q",
        _smoothed("c_p", "n_p").alias("p"),
        _smoothed("c_q", "n_q").alias("q"),
    )
    contrib = probs.withColumn(
        "psi_contrib", _psi_term(F.col("p"), F.col("q"))
    )
    rk = Window.partitionBy("part", "key", "kind").orderBy(
        F.col("psi_contrib").desc(), F.col("bin")
    )
    return (
        contrib.withColumn("rank", F.row_number().over(rk))
        .where(F.col("rank") <= k)
        .select(
            "part", "key", "kind", "bin",
            F.col("c_p").cast("bigint").alias("c_p"),
            F.col("c_q").cast("bigint").alias("c_q"),
            F.round("p", 6).alias("p"),
            F.round("q", 6).alias("q"),
            F.round("psi_contrib", 6).alias("psi_contrib"),
            "rank",
        )
    )


def wasserstein_drift(
    hist: DataFrame, baseline: DataFrame, bin_width: float
) -> DataFrame:
    """Per (part, key): Wasserstein-1 (earth-mover) distance of the
    part's BUCKETED histogram vs baseline — the magnitude-aware
    complement to KS (:func:`drift_metrics`): KS reports the worst
    single CDF gap, W1 integrates ALL of it, so a whole-distribution
    shift of 2 bins scores 2x a shift of 1 bin where KS saturates.

    For two distributions binned on a shared equal-width grid,
    W1 = bin_width * sum_bins |CDF_p(b) - CDF_q(b)| exactly (mass sits
    at bin edges; the integral of |CDF diff| is piecewise constant).
    Applies to 'bucket'-kind histograms only — W1 needs an ordered
    metric space; categorical bins have none.

    Same input shape and plan as drift_metrics: ``hist`` (part, key,
    kind, bin, count), ``baseline`` (key, kind, bin, count); the
    aligned grid (:func:`_aligned`) with its ordered CDF window, then
    one groupBy(part, key) — rows ∝ parts x bins, sketch-sized, the
    corpus scan already happened in the profile stage.

    No reference analog (beyond-reference operator; the reference's
    nearest is the dBoost histogram consumer,
    profilers/outliers/index.js:16-18).
    """
    bucket = F.col("kind") == "bucket"
    g = _aligned(hist.where(bucket), baseline.where(bucket))
    return g.groupBy("part", "key", "kind").agg(
        F.round(
            F.lit(bin_width) * F.sum(F.abs(F.col("cdf_p") - F.col("cdf_q"))), 6
        ).alias("w1"),
    )


def chi2_drift(hist: DataFrame, baseline: DataFrame) -> DataFrame:
    """Per (part, key): two-sample chi-square statistic of the part's
    categorical histogram vs baseline — the classical counterpart to
    PSI (:func:`drift_metrics`) with a known null distribution, so a
    threshold can be set from a p-value instead of a rule of thumb.

    Same input shape as drift_metrics: ``hist`` (part, key, kind, bin,
    count), ``baseline`` (key, kind, bin, count). Pooled-expectation
    form: p_b = (o_b + q_b) / (n_o + n_q), X² = Σ_b [(o_b − n_o·p_b)² /
    (n_o·p_b) + (q_b − n_q·p_b)² / (n_q·p_b)], dof = bins − 1. Bins
    absent on one side enter as 0 (no smoothing — chi-square handles
    zeros in ONE sample; a bin absent from BOTH never appears).
    Exact rational arithmetic until the final division, so the SQL
    oracle reproduces it to rounding. Plan shape: the aligned grid
    (:func:`_aligned`, no ordered window), then one groupBy(part, key) —
    rows ∝ parts × bins, partial aggregation throughout.
    """
    c_p, c_q, n_p, n_q = (F.col(c) for c in ("c_p", "c_q", "n_p", "n_q"))
    pool = (c_p + c_q) / F.greatest(n_p + n_q, F.lit(1))
    e_p, e_q = n_p * pool, n_q * pool
    term = (
        F.when(e_p > 0, (c_p - e_p) ** 2 / e_p).otherwise(0.0)
        + F.when(e_q > 0, (c_q - e_q) ** 2 / e_q).otherwise(0.0)
    )
    return _aligned(hist, baseline).groupBy("part", "key", "kind").agg(
        F.round(F.sum(term), 6).alias("chi2"),
        (F.sum(((c_p + c_q) > 0).cast("int")) - 1).cast("bigint").alias("dof"),
        F.max(n_p).cast("bigint").alias("n_p"),
        F.max(n_q).cast("bigint").alias("n_q"),
    )


@dataclass
class DriftRule(Rule):
    """Flag partitions whose histograms drift from the baseline.

    Baseline = ctx.baseline_hist if supplied (e.g. last known-good run's
    profile_hist), else the global aggregate of the current run — the
    'this partition vs everything' test. Violations are partition-level:
    clip_id = '*' (lineage still carries part + rule + metric detail).
    """

    name: str = "distribution_drift"
    psi_threshold: float = 0.25
    ks_threshold: float = 0.2
    # columns to exclude — at minimum the column the partitioning is
    # derived from (its within-partition distribution is degenerate and
    # trivially "drifts" from the pooled baseline)
    exclude_keys: tuple[str, ...] = ()

    def __post_init__(self) -> None:
        self.stage = "drift"

    def violations(self, ctx: RuleContext) -> DataFrame:
        hist = ctx.profile_hist
        assert hist is not None, "DriftRule needs ctx.profile_hist"
        if self.exclude_keys:
            hist = hist.where(~F.col("key").isin(list(self.exclude_keys)))
        baseline = ctx.baseline_hist
        if baseline is not None and "part" in baseline.columns:
            baseline = global_baseline(baseline)
        if baseline is None:
            baseline = global_baseline(hist)
        m = drift_metrics(hist, baseline)
        bad = m.where(
            (F.col("psi") > self.psi_threshold) | (F.col("ks_d") > self.ks_threshold)
        )
        detail = F.concat(
            F.lit("key="), F.col("key"),
            F.lit(" psi="), F.round("psi", 4).cast("string"),
            F.lit(" ks_d="), F.round("ks_d", 4).cast("string"),
        )
        return bad.select(
            F.col("part").cast("string").alias("part"),
            F.lit(self.name).alias("rule"),
            F.lit("*").alias("clip_id"),
            detail.alias("detail"),
        )


def profile_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Schema- and stat-level diff between two profile_summary tables
    (SUMMARY_SCHEMA long format) — the structural half of drift.
    PSI/KS above compare value DISTRIBUTIONS of columns both runs
    share; this catches what they cannot: columns appearing or
    vanishing, null-rate movement, cardinality blowups, and
    standardized mean shifts — the run-over-run schema-evolution
    questions a 10^12-row pipeline asks before trusting a new drop.

    Returns one row per (part, key) present in either side:
      (part, key, status, n_rows_old, n_rows_new, null_rate_delta,
       ndv_ratio, mean_shift, minmax_changed)
    with status in {'added','dropped','common'};
    null_rate_delta = new n_nulls/n_rows − old (NULL unless both sides
    have rows); ndv_ratio = new ndv / old ndv (NULL when old ndv = 0);
    mean_shift = (mean_new − mean_old) / stddev_old in old-σ units
    (NULL for non-numeric columns or zero σ); minmax_changed flags a
    null-safe min or max string change (false — not NULL — for
    added/dropped rows: there is nothing to compare). Doubles rounded
    to 6.

    Scale: both inputs are profile tables (rows ∝ #parts × #cols) —
    one full-outer hash join on (part, key), nothing touches data rows.
    """
    sides = []
    for name, side in (("o", old), ("n", new)):
        sides.append(
            side.select(
                "part",
                "key",
                *[
                    F.col(c).alias(f"{name}_{c}")
                    for c in (
                        "n_rows", "n_nulls", "ndv", "min", "max",
                        "mean", "stddev",
                    )
                ],
            )
        )
    j = sides[0].join(sides[1], ["part", "key"], "full_outer")
    in_old = F.col("o_n_rows").isNotNull()
    in_new = F.col("n_n_rows").isNotNull()
    null_rate = lambda p: F.when(  # noqa: E731
        F.col(f"{p}_n_rows") > 0, F.col(f"{p}_n_nulls") / F.col(f"{p}_n_rows")
    )
    return j.select(
        "part",
        "key",
        F.when(~in_old, F.lit("added"))
        .when(~in_new, F.lit("dropped"))
        .otherwise(F.lit("common"))
        .alias("status"),
        F.col("o_n_rows").alias("n_rows_old"),
        F.col("n_n_rows").alias("n_rows_new"),
        F.round(null_rate("n") - null_rate("o"), 6).alias("null_rate_delta"),
        F.round(
            F.when(F.col("o_ndv") > 0, F.col("n_ndv") / F.col("o_ndv")), 6
        ).alias("ndv_ratio"),
        F.round(
            F.when(
                F.col("o_stddev") > 0,
                (F.col("n_mean") - F.col("o_mean")) / F.col("o_stddev"),
            ),
            6,
        ).alias("mean_shift"),
        F.when(
            in_old & in_new,
            ~F.col("o_min").eqNullSafe(F.col("n_min"))
            | ~F.col("o_max").eqNullSafe(F.col("n_max")),
        )
        .otherwise(F.lit(False))
        .alias("minmax_changed"),
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str,
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Row-level diff between two snapshots of one table:
    (id, change) with change in {'added', 'removed', 'changed'};
    unchanged rows are omitted.

    The change-data-capture view a re-released corpus needs:
    profile_diff answers "did the DISTRIBUTION move", this answers
    "WHICH rows moved" — the audit trail behind an incremental
    re-validation (only 'added'/'changed' ids need re-profiling, the
    same pending-partition idea the engine manifest applies at
    partition granularity).

    100-TB shape: each side is reduced to (id, md5 of the compared
    columns) IN THE SCAN (column pruning keeps everything else out),
    then ONE full outer join on id — a single co-partitioned exchange
    per side, no row data wider than id+32 hex chars ever shuffles.
    NULL columns are md5'd via a NULL marker so NULL→value edits are
    detected; column order is fixed by ``compare_cols`` so both sides
    hash identically.
    """
    cols = compare_cols or [c for c in old.columns if c != id_col]

    def keyed(df: DataFrame, tag: str) -> DataFrame:
        parts = []
        for c in cols:
            parts.append(F.coalesce(F.col(c).cast("string"), F.lit("\x00null")))
            parts.append(F.lit("\x1f"))  # unit separator: no concat ambiguity
        return df.select(
            F.col(id_col).alias("id"),
            F.md5(F.concat(*parts)).alias(f"h_{tag}"),
        )

    o, n = keyed(old, "old"), keyed(new, "new")
    joined = o.join(n, "id", "full_outer")
    change = (
        F.when(F.col("h_old").isNull(), F.lit("added"))
        .when(F.col("h_new").isNull(), F.lit("removed"))
        .when(F.col("h_old") != F.col("h_new"), F.lit("changed"))
    )
    return joined.select("id", change.alias("change")).where(
        F.col("change").isNotNull()
    )


def metric_anomaly(
    df: DataFrame,
    value_col: str,
    order_col: str,
    key_cols: tuple[str, ...] = (),
    window: int = 7,
    k: float = 3.0,
    min_history: int = 3,
) -> DataFrame:
    """Trailing-window anomaly detection over a metric history — the
    repeated-validation screen (Deequ's anomaly checks): each point in
    a per-key metric series is compared against the mean/std of its
    previous ``window`` points, and flagged when it falls outside
    mean ± k·std.

    Input: one row per (key…, order) observation — e.g. the engine
    metrics table's (stage, run) wall_ms/n_violations, or a daily
    count series. Output keeps every input row and adds:

    - ``n_prev``: trailing points actually available (< ``window`` at
      a series' head),
    - ``mean_prev`` / ``z``: trailing mean and the point's z-score
      (both 0.0 — not NULL — when undefined: fewer than
      ``max(min_history, 2)`` trailing points, or zero spread; read
      ``anomaly``, not z, for the verdict),
    - ``anomaly``: non-NULL boolean — |z| > k, or, when the trailing
      window has zero spread, any departure from that constant.

    Scale notes: the input is an AGGREGATED series (rows ∝ #series ×
    #runs, never ∝ data rows), so the per-key window sort is over a
    handful of points; with thousands of series the partitionBy
    spreads them across the cluster. Doubles rounded to 6 dp.
    """
    eff_min = max(min_history, 2)  # stddev_samp needs >= 2 points
    w = (
        Window.partitionBy(*[F.col(c) for c in key_cols])
        .orderBy(order_col)
        .rowsBetween(-window, -1)
    )
    v = F.col(value_col)
    n_prev = F.count(v).over(w)
    mean_prev = F.avg(v).over(w)
    std_prev = F.stddev_samp(v).over(w)
    enough = n_prev >= F.lit(eff_min)
    z = F.when(enough & (std_prev > 0), (v - mean_prev) / std_prev)
    anomaly = F.when(
        enough,
        F.when(std_prev > 0, F.abs(z) > k).otherwise(v != mean_prev),
    )
    return df.select(
        *key_cols,
        order_col,
        F.round(v.cast("double"), 6).alias("value"),
        n_prev.cast("bigint").alias("n_prev"),
        F.round(F.coalesce(F.when(enough, mean_prev), F.lit(0.0)), 6).alias(
            "mean_prev"
        ),
        F.round(F.coalesce(z, F.lit(0.0)), 6).alias("z"),
        F.coalesce(anomaly, F.lit(False)).alias("anomaly"),
    )


def embedding_drift(
    df: DataFrame, vec_col: str, group_col: str, dim: int
) -> DataFrame:
    """Per-group embedding-SPACE drift vs the global centroid.

    The scalar drift tests above (PSI/KS/chi2) watch individual numeric
    or categorical columns; a training pipeline also needs to know when
    a *vector* column moves — an embedding-model version bump, an
    upstream featurizer change, or a source whose content genuinely
    shifted. The standard cheap detector is centroid geometry: for each
    group (source/snapshot/partition), the mean vector's cosine to the
    corpus-wide mean vector and the L2 distance between them.

    One corpus scan, Spark-first: per-group per-dimension sums are
    ``dim`` plain ``F.sum`` aggregates over ``element_at`` (whole-stage
    codegen, map-side combinable — the shuffle carries #groups x dim
    doubles, never a row per vector; an explode-based formulation would
    shuffle rows x dim). The GLOBAL centroid re-aggregates the per-group
    sums — sketch-sized input, no second scan — and is broadcast back.

    Vectors that are NULL or not exactly ``dim`` long are excluded (and
    counted): a truncated vector would silently corrupt every dimension
    sum after its break point.

    Returns one row per group:
      (group, n_vecs, n_bad, centroid_norm, global_cos, centroid_shift)
    global_cos is NULL when either centroid has zero norm.

    No reference analog (beyond-reference operator); complements
    profiler.embedding_qc (per-vector validity) with group-level
    distribution monitoring.
    """
    # rollup: per-group sums AND the grand total in ONE corpus scan.
    # Deriving the total as a second aggregate subtree (sums.agg(...))
    # or filtering the rollup twice and cross-joining re-SCANS the
    # corpus — Spark does not share a common subplan between two
    # DataFrame references (verified on the physical plan, 2 scans +
    # 2 Expands). grouping() separates the total row from a genuine
    # NULL group value.
    rolled = df.rollup(group_col).agg(
        F.grouping(group_col).alias("_total"),
        *embedding_sum_exprs(vec_col, dim),
    )
    # attach the total row's sums to every group row with ONE
    # unpartitioned window over the rollup output — sketch-sized input
    # (#groups + 1 rows x dim doubles), so the single-partition window
    # exchange is trivial and the corpus is scanned exactly once.
    w = Window.partitionBy()
    total = lambda c: F.max(F.when(F.col("_total") == 1, F.col(c))).over(w)  # noqa: E731
    j = (
        rolled.select(
            "*",
            total("n_vecs").alias("_gn"),
            *[total(f"_s{i}").alias(f"_g{i}") for i in range(dim)],
        )
        .where((F.col("_total") == 0) & (F.col("n_vecs") > 0))
        .withColumnRenamed(group_col, "grp")
    )
    norm, cos, shift = centroid_metric_cols(dim)
    return j.select(
        F.col("grp").alias(group_col),
        F.col("n_vecs").cast("bigint").alias("n_vecs"),
        F.col("n_bad").cast("bigint").alias("n_bad"),
        F.round(norm, 6).alias("centroid_norm"),
        F.round(cos, 6).alias("global_cos"),
        F.round(shift, 6).alias("centroid_shift"),
    )


def centroid_metric_cols(dim: int):
    """(norm, cos, shift) expressions over rows carrying per-group sums
    ``n_vecs, _s0.._s{dim-1}`` and reference sums ``_gn, _g0.._g{dim-1}``
    — shared by the batch :func:`embedding_drift` and the streaming
    windowed monitor so both alert with identical math. ``cos`` is NULL
    when either centroid has zero norm."""
    cent = [F.col(f"_s{i}") / F.col("n_vecs") for i in range(dim)]
    gcent = [F.col(f"_g{i}") / F.col("_gn") for i in range(dim)]
    dot = sum((c * g for c, g in zip(cent, gcent)), F.lit(0.0))
    norm = F.sqrt(sum((c * c for c in cent), F.lit(0.0)))
    gnorm = F.sqrt(sum((g * g for g in gcent), F.lit(0.0)))
    shift = F.sqrt(
        sum(((c - g) * (c - g) for c, g in zip(cent, gcent)), F.lit(0.0))
    )
    cos = F.when((norm > 0) & (gnorm > 0), dot / (norm * gnorm))
    return norm, cos, shift


def embedding_sum_exprs(vec_col: str, dim: int) -> list:
    """The aggregate expressions every embedding-drift variant shares:
    valid/invalid counts plus per-dimension conditional sums (map-side
    combinable; the shuffle carries dim doubles per group, never a row
    per vector)."""
    v = F.col(vec_col)
    ok = v.isNotNull() & (F.size(v) == dim)
    return [
        F.sum(ok.cast("bigint")).alias("n_vecs"),
        F.sum((~ok).cast("bigint")).alias("n_bad"),
        *[
            F.sum(
                F.when(ok, F.element_at(v, i + 1).cast("double"))
            ).alias(f"_s{i}")
            for i in range(dim)
        ],
    ]


def embedding_baseline(df: DataFrame, vec_col: str, dim: int) -> list:
    """One collected row ``[_gn, _g0.._g{dim-1}]`` — the known-good
    corpus' centroid sums, the static reference a streaming monitor
    compares windows against."""
    row = df.agg(*embedding_sum_exprs(vec_col, dim)).collect()[0]
    return [row["n_vecs"], *[row[f"_s{i}"] for i in range(dim)]]


def changepoint_scan(
    df: DataFrame,
    value_col: str,
    order_col: str,
    key_cols: tuple[str, ...] = (),
    min_seg: int = 2,
) -> DataFrame:
    """Single best changepoint per metric series (binary segmentation) —
    the third leg of the continuous-validation family: drift tests say
    a partition MOVED, ``drift_explain`` says WHERE, this says WHEN.

    For each key's series ordered by ``order_col``, every split i with
    at least ``min_seg`` points on both sides is scored with the
    two-sample t-like statistic
    ``|meanL - meanR| / (sd_pooled + EPS) * sqrt(i*(n-i)/n)`` and the
    best split wins (ties break to the earliest). A constant-but-for-
    one-step series scores huge (sd ~ 0, EPS keeps it finite and both
    engines identical); a pure-noise series scores low — callers
    threshold on ``score`` (3-5 behaves like a z-cut at common lengths).

    Output: one row per series with >= 2*min_seg points — key cols,
    ``split_at`` (the LAST order value of the left segment), ``n``,
    ``mean_before`` / ``mean_after`` / ``score`` (6 dp).

    Scale notes: input is an aggregated series table (rows ∝ #series ×
    #points), the same shape :func:`metric_anomaly` reads; all math is
    two window passes (cumulative sums, then argmax) partitioned by
    key — nothing driver-side, no UDF.
    """
    keys = [F.col(c) for c in key_cols]
    wp = Window.partitionBy(*keys)
    wcum = wp.orderBy(order_col).rowsBetween(Window.unboundedPreceding, 0)
    v = F.col(value_col).cast("double")

    cum = df.select(
        *keys, F.col(order_col),
        F.sum(v).over(wcum).alias("__s"),
        F.sum(v * v).over(wcum).alias("__q"),
        F.count(v).over(wcum).alias("__i"),
        F.sum(v).over(wp).alias("__ts"),
        F.sum(v * v).over(wp).alias("__tq"),
        F.count(v).over(wp).alias("__tn"),
    )
    i, n = F.col("__i"), F.col("__tn")
    mean_l = F.col("__s") / i
    mean_r = (F.col("__ts") - F.col("__s")) / (n - i)
    ss_l = F.col("__q") - F.col("__s") * F.col("__s") / i
    ss_r = (F.col("__tq") - F.col("__q")) - (
        (F.col("__ts") - F.col("__s")) * (F.col("__ts") - F.col("__s")) / (n - i)
    )
    sd = F.sqrt(F.greatest((ss_l + ss_r) / (n - 2), F.lit(0.0)))
    score = (
        F.abs(mean_l - mean_r) / (sd + F.lit(EPS))
        * F.sqrt(i * (n - i) / n)
    )
    scored = cum.where(
        (i >= F.lit(min_seg)) & (n - i >= F.lit(min_seg)) & (n > 2)
    ).select(
        *keys, F.col(order_col),
        mean_l.alias("__ml"), mean_r.alias("__mr"), n.alias("n"),
        score.alias("__score"),
    )
    wbest = wp.orderBy(F.col("__score").desc(), F.col(order_col).asc())
    return (
        scored.withColumn("__rk", F.row_number().over(wbest))
        .where(F.col("__rk") == 1)
        .select(
            *keys,
            F.col(order_col).alias("split_at"),
            "n",
            F.round("__ml", 6).alias("mean_before"),
            F.round("__mr", 6).alias("mean_after"),
            F.round("__score", 6).alias("score"),
        )
    )
