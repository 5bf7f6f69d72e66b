"""Single-pass, schema-driven column profiler.

Reference semantics: nadeefiler's messystreams profiler runs one Mongo
``[$match, $group-by-value]`` pipeline PER COLUMN
(``/root/reference/profilers/messystreams.js:100-106``) and the worker
iterates whatever columns the first tuple has
(``profilers/worker.js:152-158``). The Spark-first re-expression:

- **summary stats**: ALL columns' aggregates folded into ONE ``agg()``
  per partition group — Catalyst plans a single partial+final hash
  aggregation, so the input is scanned exactly once regardless of the
  number of columns or rules (SURVEY §2.3 A2/A3/A7, §4 custom-work #1).
- **histograms**: all requested columns in ONE shuffle via
  explode(array(struct(key,value))) -> groupBy(part,key,value)
  (SURVEY §2.3 A1), with numeric columns pre-binned (width buckets) so
  cardinality stays bounded at 10^12 rows.
- **NDV**: HyperLogLog++ ``approx_count_distinct`` by default
  (north_star), exact ``countDistinct`` opt-in for oracle tests.

Scale notes: the one-agg summary is shuffle-light (bytes ∝ #parts ×
#cols × #stats, independent of row count). The histogram explode
multiplies rows ×|cols| before partial aggregation — partial combine
happens map-side, so shuffle bytes ∝ distinct (part,key,value) triples;
unbounded-cardinality string columns should be excluded or binned
(FIXTURES.md §5, SURVEY §7 hard-part b).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .tableio import empty_frame

SUMMARY_SCHEMA = (
    "part string, key string, n_rows bigint, n_nulls bigint, ndv bigint, "
    "min string, max string, mean double, stddev double, avg_len double"
)


@dataclass
class ProfileConfig:
    exact_ndv: bool = False
    # columns to histogram by raw value (bounded cardinality!)
    value_hist_cols: tuple[str, ...] = ()
    # numeric columns binned to fixed-width buckets: {col: width}
    bucket_hist_cols: dict[str, float] = field(default_factory=dict)
    part_col: str = "part"
    # skip these columns entirely (e.g. huge binary payloads profile via length)
    skip_cols: tuple[str, ...] = ()


def _is_numeric(dt: T.DataType) -> bool:
    return isinstance(dt, T.NumericType)


def _col_stat_exprs(name: str, dt: T.DataType, cfg: ProfileConfig) -> list[Column]:
    """Aggregate expressions for one column (aliased ``{name}::{stat}``)."""
    c = F.col(name)
    if isinstance(dt, T.BinaryType):
        base, is_str = F.length(c), False
        null_pred = c.isNull()
    elif isinstance(dt, T.StringType):
        base, is_str = c, True
        # reference maps '' to type null (messystreams.js:52) — count both
        null_pred = c.isNull() | (c == F.lit(""))
    else:
        base, is_str = c, False
        null_pred = c.isNull()

    exprs = [
        F.count(F.lit(1)).alias(f"{name}::n_rows"),
        F.sum(null_pred.cast("long")).alias(f"{name}::n_nulls"),
        # exact NDV is computed in a separate melt-based two-phase pass
        # (see profile_summary): N count_distinct() aggregates in one
        # agg() force an Expand (xN input rows) into SortAggregate
        (F.lit(None).cast("long") if cfg.exact_ndv
         else F.approx_count_distinct(base)).alias(f"{name}::ndv"),
        F.min(base).cast("string").alias(f"{name}::min"),
        F.max(base).cast("string").alias(f"{name}::max"),
        (F.avg(base.cast("double")) if _is_numeric(dt) or isinstance(dt, T.BinaryType)
         else F.lit(None).cast("double")).alias(f"{name}::mean"),
        (F.stddev_pop(base.cast("double")) if _is_numeric(dt) or isinstance(dt, T.BinaryType)
         else F.lit(None).cast("double")).alias(f"{name}::stddev"),
        (F.avg(F.length(c).cast("double")) if is_str or isinstance(dt, T.BinaryType)
         else F.lit(None).cast("double")).alias(f"{name}::avg_len"),
    ]
    return exprs


def _exact_ndv(df: DataFrame, cols, cfg: ProfileConfig) -> DataFrame:
    """(part, key, ndv) by melt -> two-phase distinct count.

    groupBy(part, key, value) gets map-side partial aggregation, so the
    shuffle carries only distinct triples — unlike N count_distinct()
    aggregates, which Expand the input xN and disable partial combine.
    Matches count(DISTINCT col) semantics: nulls excluded; binary
    columns count distinct lengths (same base as the stat exprs).
    """
    entries = []
    for f_ in cols:
        base = F.length(F.col(f_.name)) if isinstance(f_.dataType, T.BinaryType) else F.col(f_.name)
        entries.append(F.struct(
            F.lit(f_.name).alias("key"), base.cast("string").alias("value")
        ))
    melted = df.select(
        F.col(cfg.part_col).cast("string").alias("part"),
        F.explode(F.array(*entries)).alias("kv"),
    ).select("part", "kv.*").where(F.col("value").isNotNull())
    return (
        melted.groupBy("part", "key", "value").agg(F.lit(1))
        .groupBy("part", "key").agg(F.count(F.lit(1)).alias("_exact_ndv"))
    )


def profile_summary(df: DataFrame, cfg: ProfileConfig | None = None) -> DataFrame:
    """One-pass per-partition column stats -> long format.

    Output: (part, key, n_rows, n_nulls, ndv, min, max, mean, stddev,
    avg_len) — one row per (partition, column). FIXTURES.md §5 `profile`.
    With exact_ndv a second melt-based pass supplies NDV (see
    :func:`_exact_ndv`); the default HLL sketch stays in the single agg.
    """
    cfg = cfg or ProfileConfig()
    cols = [f for f in df.schema.fields if f.name != cfg.part_col and f.name not in cfg.skip_cols]
    agg_exprs: list[Column] = []
    for f_ in cols:
        agg_exprs.extend(_col_stat_exprs(f_.name, f_.dataType, cfg))
    wide = df.groupBy(F.col(cfg.part_col).cast("string").alias("part")).agg(*agg_exprs)

    stats = ("n_rows", "n_nulls", "ndv", "min", "max", "mean", "stddev", "avg_len")
    structs = [
        F.struct(
            F.lit(f_.name).alias("key"),
            *[F.col(f"`{f_.name}::{s}`").alias(s) for s in stats],
        )
        for f_ in cols
    ]
    out = wide.select("part", F.explode(F.array(*structs)).alias("s")).select("part", "s.*")
    if not cfg.exact_ndv:
        return out
    ndv = _exact_ndv(df, cols, cfg)
    return (
        out.drop("ndv")
        .join(ndv, ["part", "key"], "left")
        .select(
            "part", "key", "n_rows", "n_nulls",
            F.coalesce("_exact_ndv", F.lit(0)).alias("ndv"),
            "min", "max", "mean", "stddev", "avg_len",
        )
    )


def hist_entry_exprs(
    value_hist_cols: tuple[str, ...], bucket_hist_cols: dict[str, float]
) -> list[Column]:
    """(key, kind, bin) struct per configured histogram column — the ONE
    binning definition shared by the batch profiler and the streaming
    drift monitor, so their bins align exactly. kind='value' for raw
    values, 'bucket' for width-binned numerics (bin = inclusive lower
    bound)."""
    entries: list[Column] = []
    for c in value_hist_cols:
        entries.append(F.struct(
            F.lit(c).alias("key"), F.lit("value").alias("kind"),
            F.col(c).cast("string").alias("bin"),
        ))
    for c, width in bucket_hist_cols.items():
        lower = F.floor(F.col(c).cast("double") / F.lit(width)) * F.lit(width)
        entries.append(F.struct(
            F.lit(c).alias("key"), F.lit("bucket").alias("kind"),
            lower.cast("long").cast("string").alias("bin"),
        ))
    return entries


def profile_histograms(df: DataFrame, cfg: ProfileConfig) -> DataFrame:
    """All configured columns' histograms in ONE shuffle.

    Output: (part, key, kind, bin, count). See :func:`hist_entry_exprs`
    for the bin definition.
    """
    entries = hist_entry_exprs(cfg.value_hist_cols, cfg.bucket_hist_cols)
    if not entries:
        raise ValueError("no histogram columns configured")
    return (
        df.select(F.col(cfg.part_col).cast("string").alias("part"),
                  F.explode(F.array(*entries)).alias("h"))
        .select("part", "h.*")
        .groupBy("part", "key", "kind", "bin")
        .agg(F.count(F.lit(1)).alias("count"))
    )


def default_clips_config(exact_ndv: bool = False) -> ProfileConfig:
    """Profile config for the input_hint clips schema."""
    return ProfileConfig(
        exact_ndv=exact_ndv,
        value_hist_cols=("codec", "sr_hz"),
        bucket_hist_cols={"dur_ms": 100.0},
        skip_cols=(),
    )


def rollup_summary(
    df: DataFrame,
    dims: tuple[str, ...],
    value_col: str,
    precision: int = 6,
) -> DataFrame:
    """Multi-level partition stats in ONE pass via ROLLUP grouping sets.

    The reference produces per-dataset totals and per-column breakdowns
    as SEPARATE Mongo pipelines (worker.js re-runs a $group per level);
    Spark's ``rollup`` computes every prefix level of ``dims`` — plus the
    grand total — in a single Expand + hash-aggregate, so the input is
    scanned once regardless of how many drill-down levels are requested
    (SURVEY §2.7: grouping-sets gap, now closed).

    Output: one row per grouping set, with ``gid`` = ``grouping_id()``
    (SQL-standard bit per dim: 1 where the dim is rolled up), so a
    consumer can slice levels without re-aggregating.

    Scale: the Expand multiplies input rows ×(len(dims)+1) BEFORE the
    partial aggregate, but map-side combine collapses them immediately;
    shuffle bytes ∝ Σ|grouping-set cardinalities|, independent of row
    count — the right 10^12-row plan.
    """
    v = F.col(value_col)
    return (
        df.rollup(*dims)
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum(v), precision).alias("sum_val"),
            F.round(F.avg(v), precision).alias("avg_val"),
            F.round(F.min(v), precision).alias("min_val"),
            F.round(F.max(v), precision).alias("max_val"),
        )
    )


def numeric_quantiles(
    df: DataFrame,
    cols: tuple[str, ...],
    qs: tuple[float, ...] = (0.25, 0.5, 0.75, 0.95),
    part_col: str | None = None,
    exact: bool = False,
    accuracy: int = 10000,
    precision: int = 6,
) -> DataFrame:
    """Per-column quantiles -> long format (part?, key, q, val).

    Production path (default): ``percentile_approx`` — a mergeable
    rank sketch whose partial states combine map-side, so shuffle bytes
    are O(#groups × #cols × sketch), independent of row count — the
    only 10^12-row-viable formulation. ``exact=True`` switches to the
    exact interpolated ``percentile`` (SQL percentile_cont semantics,
    what a DuckDB ``quantile_cont`` oracle computes) — a per-group sort,
    reserved for oracle tests and small groups.

    All columns × all quantiles are folded into ONE agg (one scan, one
    shuffle); the long format comes from the same explode-melt shape as
    :func:`profile_summary`.
    """
    q_arr = F.array(*[F.lit(float(q)) for q in qs])
    aggs = []
    for c in cols:
        fn = F.percentile if exact else (
            lambda col, qq: F.percentile_approx(col, qq, F.lit(accuracy))
        )
        aggs.append(fn(F.col(c), q_arr).alias(f"{c}::q"))
    grouped = (
        df.groupBy(F.col(part_col).cast("string").alias("part"))
        if part_col
        else df.groupBy(F.lit("*").alias("part"))
    )
    wide = grouped.agg(*aggs)
    structs = [
        F.struct(
            F.lit(c).alias("key"),
            F.lit(float(q)).alias("q"),
            F.round(F.col(f"`{c}::q`")[i], precision).alias("val"),
        )
        for c in cols
        for i, q in enumerate(qs)
    ]
    return wide.select("part", F.explode(F.array(*structs)).alias("s")).select(
        "part", "s.*"
    )


def numeric_corr(
    df: DataFrame,
    cols: tuple[str, ...],
    part_col: str | None = None,
    precision: int = 6,
) -> DataFrame:
    """Pairwise Pearson correlation over every pair of ``cols`` ->
    long format (part?, col_a, col_b, n, corr) — the cross-column
    consistency stat dBoost's correlation models consume (the reference
    shells per-column stats only; this is the pair extension its
    outlier profiler gestures at).

    ONE aggregation pass: ``F.corr`` is a single-pass mergeable
    aggregate (co-moment partials combine map-side), so k(k-1)/2 pairs
    cost one scan and one O(#groups)-row shuffle, independent of row
    count. ``n`` counts rows where BOTH sides are non-null — corr
    ignores half-null pairs, so n is corr's true support, not the row
    count.
    """
    from itertools import combinations

    pairs = list(combinations(cols, 2))
    grouped = (
        df.groupBy(F.col(part_col).cast("string").alias("part"))
        if part_col
        else df.groupBy(F.lit("*").alias("part"))
    )
    aggs = []
    for i, (a, b) in enumerate(pairs):
        both = F.col(a).isNotNull() & F.col(b).isNotNull()
        aggs.append(F.corr(a, b).alias(f"__corr_{i}"))
        aggs.append(F.count(F.when(both, F.lit(1))).alias(f"__n_{i}"))
    wide = grouped.agg(*aggs)
    structs = [
        F.struct(
            F.lit(a).alias("col_a"),
            F.lit(b).alias("col_b"),
            F.col(f"__n_{i}").alias("n"),
            F.round(F.col(f"__corr_{i}"), precision).alias("corr"),
        )
        for i, (a, b) in enumerate(pairs)
    ]
    return wide.select("part", F.explode(F.array(*structs)).alias("s")).select(
        "part", "s.*"
    )


def mutual_info(
    df: DataFrame,
    pairs: list[tuple[str, str]],
    precision: int = 6,
) -> DataFrame:
    """Mutual information / normalized MI per categorical column pair —
    the categorical sibling of :func:`numeric_corr` (Pearson only sees
    numeric monotone dependence; MI measures ANY deterministic or
    statistical mapping between code-like columns, which is what the
    dependency miners' candidates look like before exact checks).

    Returns one row per pair: (col_x, col_y, n_rows, ndv_x, ndv_y, h_x,
    h_y, mi, nmi) — entropies in nats, ``nmi = mi / min(h_x, h_y)``
    (NULL when either entropy is 0: a constant column carries no
    information to normalize by). NULL values form a category like any
    other. All doubles rounded to ``precision``.

    Scale story (10^12 rows): per pair, ONE map-side-combinable groupBy
    on (x, y) — shuffle ∝ distinct pairs, never rows; every sum after
    that (marginals via windows, the final reduction) runs on the
    pair-count table, bounded by NDV(x)·NDV(y). The marginal identities
    Σ_y c_xy = c_x let H(X) come from the same table — no second scan.
    All pairs union into one plan → one job.
    """
    branches: list[DataFrame] = []
    for x, y in pairs:
        c = df.groupBy(
            F.col(x).cast("string").alias("xv"),
            F.col(y).cast("string").alias("yv"),
        ).agg(F.count(F.lit(1)).alias("c"))
        wx = Window.partitionBy("xv")
        wy = Window.partitionBy("yv")
        wall = Window.partitionBy()
        t = (
            c.withColumn("cx", F.sum("c").over(wx))
            .withColumn("cy", F.sum("c").over(wy))
            .withColumn("n", F.sum("c").over(wall))
        )
        p = F.col("c") / F.col("n")
        # count_distinct ignores NULL; the NULL category still counts as
        # a distinct value here (it forms a real group in the histogram)
        agg = t.agg(
            F.max("n").alias("n_rows"),
            (
                F.count_distinct("xv")
                + F.coalesce(F.max(F.col("xv").isNull().cast("bigint")), F.lit(0))
            ).alias("ndv_x"),
            (
                F.count_distinct("yv")
                + F.coalesce(F.max(F.col("yv").isNull().cast("bigint")), F.lit(0))
            ).alias("ndv_y"),
            (-F.sum(p * F.log(F.col("cx") / F.col("n")))).alias("h_x"),
            (-F.sum(p * F.log(F.col("cy") / F.col("n")))).alias("h_y"),
            F.sum(
                p * F.log(F.col("c") * F.col("n") / (F.col("cx") * F.col("cy")))
            ).alias("mi"),
        )
        # abs() after round(): the sums are mathematically non-negative,
        # but float noise can land on -0.0 (and the noise's sign differs
        # with summation order, i.e. between Spark and the oracle) —
        # abs normalizes both to +0.0
        b = agg.select(
            F.lit(x).alias("col_x"),
            F.lit(y).alias("col_y"),
            F.coalesce(F.col("n_rows"), F.lit(0)).cast("bigint").alias("n_rows"),
            F.col("ndv_x").cast("bigint").alias("ndv_x"),
            F.col("ndv_y").cast("bigint").alias("ndv_y"),
            F.abs(F.round("h_x", precision)).alias("h_x"),
            F.abs(F.round("h_y", precision)).alias("h_y"),
            F.abs(F.round("mi", precision)).alias("mi"),
            F.abs(
                F.round(
                    F.when(
                        F.least("h_x", "h_y") > 0,
                        F.col("mi") / F.least("h_x", "h_y"),
                    ),
                    precision,
                )
            ).alias("nmi"),
        )
        branches.append(b)
    if not branches:
        return empty_frame(
            df.sparkSession,
            "col_x string, col_y string, n_rows bigint, ndv_x bigint, "
            "ndv_y bigint, h_x double, h_y double, mi double, nmi double",
        )
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out


def json_profile(df: DataFrame, col: str) -> DataFrame:
    """Semi-structured profiling of a JSON-object string column: one
    row per top-level key with presence, null, distinct and type-shape
    counts — the schema-on-read half of the profiler (the reference
    profiles flat CSV uploads; event `props`-style JSON columns are
    what the same questions look like on a modern event table).

    Parsing is ``from_json`` to ``map<string,string>`` (JVM-side, no
    UDF): scalar values normalize to their JSON text (numbers → "69",
    booleans → "true"), JSON ``null`` becomes SQL NULL, malformed
    documents parse to NULL maps and simply contribute no entries.
    Type shapes are regex classes on the normalized text — integer,
    decimal, boolean — so a key's value-type histogram falls out of
    counting matches.

    Returns (key, n_entries, n_null, ndv, n_int, n_num, n_bool,
    max_len); ``ndv`` ignores NULLs (count_distinct semantics),
    ``max_len`` is NULL for keys whose values are all NULL.

    Scale: explode(map) is a narrow per-row transform; the single
    groupBy on key is map-side combinable — shuffle ∝ #keys, not rows.
    """
    m = F.from_json(F.col(col), "map<string,string>")
    kv = df.select(F.explode(m).alias("key", "value"))
    v = F.col("value")
    return kv.groupBy("key").agg(
        F.count(F.lit(1)).alias("n_entries"),
        F.sum(v.isNull().cast("bigint")).alias("n_null"),
        F.count_distinct(v).alias("ndv"),
        # rlike/isin are NULL (not false) on NULL values — coalesce so
        # an all-NULL key reports 0 matches, not NULL
        F.coalesce(
            F.sum(v.rlike("^-?[0-9]+$").cast("bigint")), F.lit(0)
        ).alias("n_int"),
        F.coalesce(
            F.sum(v.rlike("^-?[0-9]+\\.[0-9]+$").cast("bigint")), F.lit(0)
        ).alias("n_num"),
        F.coalesce(
            F.sum(v.isin("true", "false").cast("bigint")), F.lit(0)
        ).alias("n_bool"),
        F.max(F.length(v)).alias("max_len"),
    )


def merge_profiles(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two profile_summary tables (SUMMARY_SCHEMA long format)
    into the profile of the union WITHOUT rescanning data — the
    incremental-profiling primitive: at 10^12 rows a re-profile of
    unchanged partitions is the cost, so profile only the new
    partitions and fold their summaries into the running totals.

    Exactly mergeable and merged exactly: n_rows and n_nulls (sums),
    mean and stddev (pooled population moments over the non-null
    weights), avg_len (same pooling), min/max (numeric comparison when
    both rendered values parse as doubles — exact for numeric columns —
    else lexicographic, exact for string columns whose values don't
    parse as numbers). NDV is NOT mergeable from counts alone; the
    merged column is ``ndv_ub`` = ndv_a + ndv_b, a documented upper
    bound (exact when the sides share no values, e.g. disjoint time
    ranges of a monotone column). Keys present on one side only pass
    through unchanged.

    Weight caveat: the non-null weight is (n_rows − n_nulls), which for
    string columns counts '' as null (profiler convention) while
    avg/len aggregates exclude only true NULLs — pooled means are exact
    whenever empty strings are absent (or counted consistently on both
    sides).

    Scale: inputs are profile tables — one full-outer hash join on
    (part, key); no data row is touched.
    """
    stats = ("n_rows", "n_nulls", "ndv", "min", "max", "mean", "stddev", "avg_len")
    sa = a.select(
        "part", "key", *[F.col(c).alias(f"a_{c}") for c in stats]
    )
    sb = b.select(
        "part", "key", *[F.col(c).alias(f"b_{c}") for c in stats]
    )
    j = sa.join(sb, ["part", "key"], "full_outer")
    in_a = F.col("a_n_rows").isNotNull()
    in_b = F.col("b_n_rows").isNotNull()

    def pooled(value_col: str):
        wa = F.when(
            F.col(f"a_{value_col}").isNotNull(),
            F.col("a_n_rows") - F.col("a_n_nulls"),
        ).otherwise(F.lit(0))
        wb = F.when(
            F.col(f"b_{value_col}").isNotNull(),
            F.col("b_n_rows") - F.col("b_n_nulls"),
        ).otherwise(F.lit(0))
        wt = wa + wb
        m = F.when(
            wt > 0,
            (
                wa * F.coalesce(F.col(f"a_{value_col}"), F.lit(0.0))
                + wb * F.coalesce(F.col(f"b_{value_col}"), F.lit(0.0))
            )
            / wt,
        )
        return wa, wb, wt, m

    wa, wb, wt, mean = pooled("mean")
    # pooled population variance: E[x^2] - mean^2, with per-side
    # E[x^2] = var + mean^2 (stddev_pop semantics)
    e2 = F.when(
        wt > 0,
        (
            wa
            * (
                F.coalesce(F.col("a_stddev"), F.lit(0.0)) ** 2
                + F.coalesce(F.col("a_mean"), F.lit(0.0)) ** 2
            )
            + wb
            * (
                F.coalesce(F.col("b_stddev"), F.lit(0.0)) ** 2
                + F.coalesce(F.col("b_mean"), F.lit(0.0)) ** 2
            )
        )
        / wt,
    )
    stddev = F.sqrt(F.greatest(e2 - mean ** 2, F.lit(0.0)))
    _, _, _, avg_len = pooled("avg_len")

    def extreme(col: str, pick_low: bool):
        a_v, b_v = F.col(f"a_{col}"), F.col(f"b_{col}")
        # try_cast: ANSI mode makes plain cast THROW on non-numeric
        # strings; NULL here just routes to the lexicographic branch
        da, db = a_v.try_cast("double"), b_v.try_cast("double")
        num_cmp = (da <= db) if pick_low else (da >= db)
        str_cmp = (a_v <= b_v) if pick_low else (a_v >= b_v)
        return (
            F.when(~in_b | b_v.isNull(), a_v)
            .when(~in_a | a_v.isNull(), b_v)
            .when(da.isNotNull() & db.isNotNull(), F.when(num_cmp, a_v).otherwise(b_v))
            .otherwise(F.when(str_cmp, a_v).otherwise(b_v))
        )

    z = F.lit(0).cast("bigint")
    return j.select(
        "part",
        "key",
        (F.coalesce("a_n_rows", z) + F.coalesce("b_n_rows", z)).alias("n_rows"),
        (F.coalesce("a_n_nulls", z) + F.coalesce("b_n_nulls", z)).alias("n_nulls"),
        (F.coalesce("a_ndv", z) + F.coalesce("b_ndv", z)).alias("ndv_ub"),
        extreme("min", True).alias("min"),
        extreme("max", False).alias("max"),
        mean.alias("mean"),
        F.when(mean.isNotNull(), stddev).alias("stddev"),
        avg_len.alias("avg_len"),
    )


def embedding_qc(
    df: DataFrame,
    vec_col: str,
    group_col: str | None = None,
    expected_dim: int | None = None,
) -> DataFrame:
    """Embedding-column quality gate: dimension consistency, zero-norm
    and non-finite detection — the checks an embedding pipeline needs
    before ANN/dedup stages consume the vectors (a single wrong-dim or
    NaN vector poisons every cosine downstream; the scalar validators
    never look inside arrays).

    Returns one row per group (or one global row):
      (group?, n_vecs, n_null, dim_mode, dim_violations,
       zero_norm_vecs, nonfinite_vecs, holds)
    where ``dim_mode`` is the expected dimension (``expected_dim`` when
    given, else the modal observed dimension, ties to the smallest —
    the same deterministic election as the CFD miner),
    ``dim_violations`` counts non-null vectors of any other dimension,
    and ``holds`` iff nothing violates (NULL vectors are counted but do
    not violate — required-ness is a separate rule).

    Scale: one narrow pass computes per-row dim/norm/finiteness
    (expression-only — F.aggregate / F.exists, no UDF) feeding a
    map-side-combinable agg; the dimension histogram is a second
    groupBy on (group, dim) whose shuffle is ∝ distinct dimensions
    (tiny), and the mode/violation math runs on that histogram — no
    per-row state is ever collected.
    """
    keys = [group_col] if group_col else []
    v = F.col(vec_col)
    nonfinite = F.exists(
        v, lambda x: F.isnan(x) | (F.abs(x.cast("double")) > F.lit(3.0e38))
    )
    sq = F.aggregate(
        v, F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    base = df.select(
        *keys,
        v.isNull().alias("__null"),
        F.size(v).alias("__d"),
        F.when(v.isNotNull(), nonfinite).alias("__bad"),
        F.when(v.isNotNull(), sq == 0.0).alias("__zero"),
    )
    stats = base.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(F.col("__null").cast("bigint")).alias("n_null"),
        F.coalesce(
            F.sum(F.col("__zero").cast("bigint")), F.lit(0)
        ).alias("zero_norm_vecs"),
        F.coalesce(
            F.sum(F.col("__bad").cast("bigint")), F.lit(0)
        ).alias("nonfinite_vecs"),
    )
    counts = (
        base.where(~F.col("__null"))
        .groupBy(*keys, "__d")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    if expected_dim is not None:
        dimmed = counts.withColumn("dim_mode", F.lit(expected_dim))
    else:
        w = Window.partitionBy(*keys) if keys else Window.partitionBy()
        dimmed = counts.withColumn(
            "dim_mode",
            F.first("__d").over(
                w.orderBy(F.col("__c").desc(), F.col("__d").asc())
            ),
        )
    dims = dimmed.groupBy(*keys).agg(
        F.max("dim_mode").alias("dim_mode"),
        F.coalesce(
            F.sum(
                F.when(F.col("__d") != F.col("dim_mode"), F.col("__c"))
            ),
            F.lit(0),
        ).alias("dim_violations"),
    )
    # left join (synthetic key when global) so an all-NULL group still
    # yields its stats row — a crossJoin against an empty dims table
    # would silently drop it
    if keys:
        joined = stats.join(dims, keys, "left")
    else:
        joined = (
            stats.withColumn("__g", F.lit(1))
            .join(dims.withColumn("__g", F.lit(1)), "__g", "left")
            .drop("__g")
        )
    return joined.select(
        *keys,
        "n_vecs",
        "n_null",
        F.col("dim_mode").cast("int").alias("dim_mode"),
        F.coalesce("dim_violations", F.lit(0))
        .cast("bigint")
        .alias("dim_violations"),
        "zero_norm_vecs",
        "nonfinite_vecs",
        (
            (F.coalesce("dim_violations", F.lit(0)) == 0)
            & (F.col("zero_norm_vecs") == 0)
            & (F.col("nonfinite_vecs") == 0)
        ).alias("holds"),
    )
