"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry re-expresses one operator family from SURVEY.md §2
(reference: daqcri/nadeefiler, read-only at /root/reference) through the
``nadeefiler_spark`` engine over the driver's testdata tables; the matching
``oracle_sql()`` entry is plain DuckDB SQL over the same parquet views.

Operator → query map (SURVEY §2 ids in brackets):
- profile_summary        [A1-A3, A7, S2, P1]  single-pass column profiler
- value_histogram        [A1]   per-column value histogram (melt, 1 shuffle)
- bucket_histogram       [A1/A9] width-bucket numeric histograms
- type_scores            [A2, F1-F4] messystreams summary rows
- type_histograms        [F1-F4] messystreams per-type histogram rows
- distinct_counts        [A7]   exact NDV per column
- topk_values            [S9/O2] top-k values by count
- topk_per_group         [A6/O3] window row_number <= k
- pagination             [S5/O1] deterministic keyset-style paging
- referential_orphans    [J2]   left anti join
- uniqueness_violations  [north_star] UniquenessRule through the engine
- domain_violations      [north_star] DomainRule
- required_violations    [F4-null semantics] RequiredRule
- range_violations       [A9-ish fences] RangeRule
- cascade_delete_targets [P3/P4] soft-delete cascade resolution
- pivot_counts           [J4]   groupBy().pivot()
- percent_histogram      [A8]   percentage-of-total normalization
- kb_group_import        [S8]   group-to-array KB import
- semantic_scores        [J1/A5/A6] token join + weighted score + top-k
- drift_metrics          [north_star] KS + PSI vs pooled baseline
- exact_dup_groups       [pipeline: dedup-exact]
- ngram_jaccard          [pipeline: dedup-jaccard]
- minhash_pairs          [pipeline: dedup-minhash-LSH]  (no DuckDB oracle:
                          xxhash64 — exact pure-Python twin, tests/test_hash_twins.py)
- simhash_pairs          [pipeline: dedup-simhash]      (ditto)
- embedding_cosine_dups  [pipeline: dedup-embedding, brute-force oracle]
- embedding_cosine_dups_blocked [pipeline: dedup-embedding production path,
                          multi-table hyperplane-LSH blocking]
- ann_topk               [pipeline: ANN brute-force top-k]
- lsh_topk               [pipeline: ANN hyperplane-LSH top-k]
- ivf_topk               [pipeline: ANN IVF (inverted-file) top-k]
- ivf_topk_indexed       [pipeline: IVF over a persisted cell-partitioned index]
- text_quality           [pipeline: text analysis suite]
- doc_chunks             [pipeline: token-window chunking, 64/8 overlap]
- curation_disposition   [pipeline: composed curation (lang+quality gates
                          -> fingerprint dedup), per-doc audit trail]
- contamination          [pipeline: benchmark decontamination, 5-gram
                          collision vs a broadcast benchmark corpus]
- corpus_sample          [pipeline: deterministic stratified sampling,
                          portable integer hash, scan-stage filter]
- shard_manifest         [pipeline: training-shard export manifest,
                          deterministic hash sharding + checksums]
- pack_manifest          [pipeline: sequence packing — token-budget
                          packs within hash shards, per-shard window
                          cumsum, bounded-overflow streaming semantics]
- repetition_profile     [curation: Gopher-style within-doc repetition —
                          top-word / top-2-gram char-mass fractions,
                          duplicated-3-gram occurrence fraction]
- label_agreement        [validation: Cohen's kappa between declared and
                          detected language — chance-corrected scalar on
                          top of lang_profile's matrix]
- audio_segments         [audio: fixed-window training-segment manifest —
                          pure metadata expressions, bytes never read]
- corpus_card            [reporting: one-row dataset data card — counts,
                          tokens, quality, language share, exact-dup
                          count in ONE aggregation]
- split_leakage          [curation: eval-split hygiene — per-split count
                          of docs whose content fingerprint occurs in
                          train; deterministic threshold splits]
- audio_vad              [audio: voice-activity coverage — speech ratio,
                          run count, longest silence from the shared
                          decode pass (no oracle: binary decode; twin
                          test pins planted frame patterns)]
- snapshot_diff          [versioning: row-level added/removed/changed
                          between releases — per-side (id, md5) scan
                          reduction + one full outer join]
- layout_advisor         [design: partition/bucket-key recommendations
                          from measured NDV/skew/null stats — one melt,
                          two aggregations for all candidates]
- chi2_drift             [validation: two-sample chi-square categorical
                          drift per partition vs baseline — the
                          p-value-capable companion to PSI/KS]
- wasserstein_drift      [validation: earth-mover (W1) distance of each
                          partition's bucketed histogram vs baseline —
                          magnitude-aware companion to the KS max-gap]
- drift_explain          [validation: top-k bins by PSI contribution
                          per partition — the "drifted HOW?" localizer
                          behind every drift_metrics alert]
- quality_slices         [triage: slice finder — per (dim, value) slice
                          quality mean + standard-error z vs corpus,
                          one melt for all dimensions]
- dup_clusters           [pipeline: near-dup clustering — connected
                          components (large-star/small-star) over pairs]
- dup_label_conflicts    [validation: annotation consistency — near-dup
                          pairs annotated with lang/source agreement]
- expectation_suite      [validation: declarative expectation suite —
                          N dataset-contract checks in ONE aggregate
                          scan, per-partition verdict rows]
- windowed_expectations  [continuous validation: the same suite per
                          event-time window; identical plan streams
                          with watermark finalization]
- transcript_conflicts   [validation: transcript agreement inside audio
                          content-dup groups] (no DuckDB oracle: binary
                          decode — planted conflict set pinned exactly,
                          tests/test_consistency.py)
- transcript_cer         [validation: tolerance-aware transcript
                          agreement — CER via built-in codepoint
                          levenshtein after normalization, CerRule;
                          DuckDB-oracled]
- incremental_dedup      [pipeline: batch-vs-corpus admission — exact
                          digest tiers + inverted-index near tier]
- numeric_quantiles      [A9-adjacent profile] per-partition quantiles —
                          mergeable percentile_approx sketch in production,
                          exact percentile_cont for the oracle
- windowed_drift         [continuous validation: event-time-windowed
                          histograms PSI/KS-tested vs baseline; same
                          definition streams with watermark finalization]
- rollup_stats           [§2.7 grouping sets] every ROLLUP level in one scan
- event_sessions         [pipeline: gap-based sessionization, one shuffle]
- asof_attribution       [pipeline: backward as-of join (last-touch
                          attribution) — union + window carry-forward,
                          one shuffle; DuckDB ASOF LEFT JOIN oracle]
- session_concurrency    [pipeline: interval-point range join via
                          time-bin bucketing — hash equi-join on the
                          bin instead of a nested-loop range join]
- ind_mine               [profiling: inclusion-dependency discovery —
                          distinct-set containment per candidate pair,
                          the referential rule's mining counterpart]
- ucc_mine               [profiling: unique-column-combination / key
                          discovery — dup + NULL accounting per
                          candidate, the uniqueness rule's mining
                          counterpart]
- mask_profile           [profiling: Potter's-Wheel structure-mask
                          histograms — format drift at mask cardinality]
- corr_profile           [profiling: pairwise Pearson correlation, all
                          pairs in one mergeable aggregation pass]
- partition_outliers     [profiling: cross-partition robust median/MAD
                          z-score over group means — the partition-level
                          dBoost gaussian]
- dc_violations          [constraints: denial constraint over tuple
                          pairs — NADEEF's rule language, equality-block
                          hash join, never a cross join]
- fuzzy_name_pairs       [pipeline: edit-distance similarity self-join —
                          q-gram blocked, count-bound pruned, exact
                          levenshtein verify, no cartesian]
- fd_repairs             [constraints: NADEEF-style repair suggestions —
                          modal value per violating FD group, broadcast
                          of violating modes back to the scan]
- cfd_mine               [profiling: constant conditional-FD tableau —
                          per-value consensus/confidence from one
                          (lhs,rhs) pair-count pass + a histogram window]
- od_check               [profiling: lexicographic order dependencies —
                          per-group [min,max] interval overlap over a
                          NDV-bounded lag window, never a row sort]
- sd_check               [profiling: sequential dependency — bounded
                          inter-arrival gaps per event sequence, one
                          reused hash exchange for window + groupBy]
- pii_scan               [curation: regex PII audit (email/ssn/phone/
                          ipv4/card) — expression-only, one map-side
                          combinable scan; redaction + PiiRule sibling]
- k_anonymity            [curation: k-anonymity / l-diversity release
                          audit over quasi-identifier groups, one
                          groupBy + distinct-sensitive count]
- t_closeness            [curation: t-closeness release audit — per-QI
                          rank-EMD (or TVD) of the sensitive-value mix
                          vs the table's, the drift test k/l miss]
- sampled_certificate    [validation at scale: Hoeffding upper bound on
                          a partition's violation rate from the
                          deterministic hash sample — certify without
                          scanning/decoding everything]
- vocab_coverage         [curation: Good-Turing coverage + Chao1
                          richness per group — "is this language's
                          long tail exhausted?" from f1/f2 counts]
- review_allocation      [curation: Neyman-optimal split of a human-QA
                          budget across strata ∝ N·σ, largest-remainder
                          integerized to sum exactly to the budget]
- entropy_l_diversity    [curation: strict entropy form of l-diversity
                          per QI group — catches the 99%-one-value
                          group the distinct-count flag passes]
- mi_profile             [profiling: mutual information / NMI per
                          categorical pair — corr_profile's categorical
                          sibling, shuffle ∝ distinct value pairs]
- benford_profile        [profiling: first-significant-digit Benford
                          screen — decimal-string digit extraction (no
                          float log bucketing), one melted groupBy]
- json_profile           [profiling: JSON key presence/null/type-shape
                          stats via from_json map explode — oracle is
                          an independent derivation, no JSON parse]
- md_violations          [constraints: matching dependency — similar
                          antecedent (blocked edit-distance pairs) must
                          agree on the consequent; null-safe compare]
- profile_diff           [drift: run-over-run profile table diff —
                          added/dropped columns, null-rate and ndv
                          movement, standardized mean shift; joins
                          profile tables only, never data rows]
- profile_merge          [profiling: mergeable-profile fold — pooled
                          moments, numeric-aware min/max, NDV upper
                          bound; incremental profiling without rescan]
- golden_records         [pipeline: survivorship election per near-dup
                          cluster — quality argmax, deterministic ties,
                          (id → keeper) redirect map; corpus never
                          shuffled]
- dedup_survivors        [pipeline: near-dup dedup end-to-end — corpus
                          minus cluster victims, one left-anti join]
- redacted_docs          [curation: PII redaction end-to-end — md5 of
                          redacted text, byte-exact vs the oracle's
                          regexp_replace chain]
- lang_profile           [text: language-ID audit — detected-vs-declared
                          agreement matrix, marker-word voting with a
                          deterministic tie cascade]
- windowed_text_quality  [streaming: continuous corpus-quality monitor
                          (quality/PII/token stats per event-time
                          window) — ONE plan runs batch (this oracle)
                          and streaming (watermarked, state-bounded)]
- embedding_qc           [profiling: vector-column quality gate —
                          dimension mode/violations, zero-norm and
                          non-finite counts, expression-only array
                          math, dim histogram ∝ distinct dims]
- audio_qc               [audio: clipping / dead-air / DC-offset stats
                          fused into the shared decode pass]
                          (no DuckDB oracle: binary decode — pure-numpy
                          twin in tests/test_audio.py)
- audio_fp_dups          [pipeline: audio CONTENT dedup — decoded-PCM
                          Haitsma–Kalker fingerprints, codec-robust]
                          (no DuckDB oracle: binary decode — independent
                          pure-numpy twin, tests/test_audio_fp.py)
- clip_admission         [pipeline: incremental clip admission — byte,
                          content-fingerprint, and hamming tiers vs the
                          existing corpus] (no DuckDB oracle: binary
                          decode — planted-outcome pytests)
- audio_feature_ann      [pipeline: audio -> band-energy embedding ->
                          existing ANN toolchain] (no DuckDB oracle:
                          binary decode — invariance + twin-retrieval
                          pinned in tests/test_audio_features.py)
- audio_embedding_dups   [pipeline: audio near-dup at scale — LSH-blocked
                          embedding-cosine over planted resample variants]
                          (no DuckDB oracle: binary decode — recall +
                          blocked⊆exact pinned, tests/test_audio_features.py)
- binary_meta_docs       [pipeline: multimodal metadata, DuckDB-oracled]
- audio_validate         [north_star audio rules]       (no DuckDB oracle:
                          binary audio — exact datagen golden, tests/test_hash_twins.py)
- header_triage          [validation at scale: decode-free triage tier —
                          container header parse + declared-metadata
                          cross-check in pure codegen byte arithmetic]
                          (no DuckDB oracle: binary input — planted set
                          pinned in tests/test_headerprobe.py)
- header_probe_sql       [the probe's construct→parse twin over
                          SQL-built WAV/NDF1 blobs, DuckDB-oracled]
- probe_stats_sql        [grouped probe-health dashboard aggregation
                          (streaming ingest-gate twin), DuckDB-oracled]
- repair_whatif          [repair arc closure: apply modal FD repairs and
                          recount violating groups before/after,
                          DuckDB-oracled]
- changepoint_scan       [continuous validation: binary-segmentation
                          changepoint per metric series — WHEN the
                          drift started, DuckDB-oracled]
- bloom_referential      [constraints at scale: bloom runtime-filter
                          semi join — broadcast bits-array probe in
                          codegen prunes the fact scan before the exact
                          verify join shuffles survivors]
- heavy_tokens           [profiling at scale: exact heavy hitters via
                          per-partition pigeonhole candidates (zero-
                          shuffle mapInPandas) + candidate-only recount]
- coverage_gaps          [continuous validation: per-partition time-
                          coverage holes — the feed-continuity gate for
                          windowed drift verdicts]
- dup_spans              [pipeline: exact-substring dedup signal — per
                          document, the fraction of 12-token windows
                          verbatim-shared with other docs (Lee et al.
                          2022 at window granularity); tokenize-once
                          explode + lead() window, hash-keyed shuffles]
- embedding_drift        [drift x embeddings: per-group centroid cosine
                          / L2 shift vs the global centroid, one corpus
                          scan (dim-wide sums, sketch-sized shuffle)]
- weighted_sample        [curation: Efraimidis-Spirakis weighted sample
                          without replacement on the portable hash draw
                          — proportional-to-weight yet fully
                          deterministic; top-k per stratum window]
- column_match           [versioning: instance-based schema matching —
                          distinct-value Jaccard recovers renamed
                          columns between releases; KMV-style md5
                          value sampling bounds melt size at scale]
- expectation_regressions [data-CI: suite learned on release A
                          (suggest_checks) re-evaluated on release B's
                          profile — newly-failing checks only;
                          sketch-sized join of two profiles]
- ngram_containment      [pipeline: Broder containment |A∩B|/min —
                          excerpt/quote duplication Jaccard misses;
                          same inverted-index plan as ngram_jaccard]
- record_outliers        [profiling: record-LEVEL diagonal-Mahalanobis
                          outlier score across numeric columns — joint
                          anomalies univariate z-gates miss]
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nadeefiler_spark import datagen, drift, outliers, profiler, semantic, typedetect
from nadeefiler_spark.functions import detectors as det
from nadeefiler_spark.functions import text as tx
from nadeefiler_spark.operators import ann, dedup
from nadeefiler_spark.rules.audio_rules import decode_facts, default_audio_rules
from nadeefiler_spark.rules.base import RuleContext
from nadeefiler_spark.rules.constraints import (
    DomainRule,
    RangeRule,
    RequiredRule,
    UniquenessRule,
)

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# Render-once fixture cache for the synthetic audio corpora the contract
# queries plant defects into. Rendering (mapInPandas WAV/PCM synthesis)
# is bench-harness cost, not operator cost: in production the clips
# already exist as a table, and the bench convention is min-of-trials in
# ONE process — so the first trial renders + writes parquet, later
# trials time the operator over a scan, exactly the production shape.
# Results are byte-identical (datagen is seed-deterministic and every
# column type round-trips parquet exactly).
_FIXTURE_DIRS: dict[str, str] = {}


def _cached_clips(spark: SparkSession, cfg) -> DataFrame:
    import tempfile

    key = "clips:" + repr(cfg)
    path = _FIXTURE_DIRS.get(key)
    if path is None:
        _ensure_pkg_shipped(spark)
        path = tempfile.mkdtemp(prefix="ndf_fixture_clips_")
        datagen.clips_df(spark, cfg).write.mode("overwrite").parquet(path)
        _FIXTURE_DIRS[key] = path
    return spark.read.parquet(path)


def _cached_refs(spark: SparkSession, cfg) -> DataFrame:
    import tempfile

    key = "refs:" + repr(cfg)
    path = _FIXTURE_DIRS.get(key)
    if path is None:
        _ensure_pkg_shipped(spark)
        path = tempfile.mkdtemp(prefix="ndf_fixture_refs_")
        datagen.refs_df(spark, cfg).write.mode("overwrite").parquet(path)
        _FIXTURE_DIRS[key] = path
    return spark.read.parquet(path)


def _ensure_pkg_shipped(spark: SparkSession) -> None:
    """Ship the package zip to executors (idempotent per context).

    The driver harness may hand us a bare SparkSession whose Python
    workers don't inherit this process's sys.path; the pandas-UDF
    queries (datagen / audio decode / binary sniffing) import
    nadeefiler_spark inside executors and need the --py-files artifact.
    """
    sc = spark.sparkContext
    if getattr(sc, "_ndf_pkg_shipped", False):
        return
    from nadeefiler_spark.session import package_zip

    sc.addPyFile(package_zip())
    sc._ndf_pkg_shipped = True


# Deterministic mixed-type string table used by the type-detector queries:
# categorical / boolean-ish / integer / percent / float / date strings,
# derived identically in Spark and DuckDB from the events table.
_TYPED_COLS = ("s_cat", "s_bool", "s_int", "s_pct", "s_float", "s_date")


def _typed_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return e.select(
        F.col("event_type").alias("s_cat"),
        (F.col("event_id") % 2).cast("string").alias("s_bool"),
        F.col("user_id").cast("string").alias("s_int"),
        F.concat(F.col("user_id").cast("string"), F.lit("%")).alias("s_pct"),
        F.concat(
            (F.col("user_id") % 100).cast("string"),
            F.lit("."),
            (F.col("event_id") % 1000).cast("string"),
        ).alias("s_float"),
        F.date_format("ts", "M/d/yyyy").alias("s_date"),
    )


_TYPED_STRINGS_SQL = """
SELECT event_type AS s_cat,
       CAST(event_id % 2 AS VARCHAR) AS s_bool,
       CAST(user_id AS VARCHAR) AS s_int,
       CAST(user_id AS VARCHAR) || '%' AS s_pct,
       CAST(user_id % 100 AS VARCHAR) || '.' || CAST(event_id % 1000 AS VARCHAR) AS s_float,
       strftime(ts, '%-m/%-d/%Y') AS s_date
FROM events
"""

# messystreams type cascade (reference profilers/messystreams.js:17-54) in
# DuckDB SQL — the oracle twin of functions.detectors.detect_type.
_NUM = det.NUMBER_REGEX
_DATE = det.DATE_REGEX
_BOOLS = ", ".join(f"'{b}'" for b in det.BOOLEAN_VALUES)


def _detect_sql(v: str) -> str:
    return f"""CASE
      WHEN lower({v}) IN ({_BOOLS}) THEN 'boolean'
      WHEN regexp_matches({v}, '{_NUM}') THEN
        CASE WHEN regexp_extract({v}, '{_NUM}', 7) <> '' THEN 'percent'
             WHEN regexp_extract({v}, '{_NUM}', 6) = '' THEN
               CASE WHEN regexp_extract({v}, '{_NUM}', 3) <> '' THEN 'float' ELSE 'integer' END
             WHEN CAST(regexp_extract({v}, '{_NUM}', 6) AS INTEGER)
                  - length(regexp_extract({v}, '{_NUM}', 3)) < 0 THEN 'float'
             ELSE 'integer' END
      WHEN regexp_matches({v}, '{_DATE}') THEN 'date'
      WHEN {v} IS NULL OR {v} = '' THEN 'null'
      ELSE 'string'
    END"""


_MELT_TYPED_SQL = " UNION ALL ".join(
    f"SELECT '{c}' AS key, {c} AS value FROM typed" for c in _TYPED_COLS
)

# Inline semantic KB (normalized subjects, reference import-yago.js:38-48).
_KB = [
    ("click", ["wikicat_UI_Actions", "wordnet_action"]),
    ("view", ["wikicat_UI_Actions", "wordnet_observation"]),
    ("purchase", ["wordnet_commerce", "wikicat_Transactions"]),
    ("signup", ["wordnet_commerce", "wikicat_Registrations"]),
    ("error click", ["wikicat_Failures"]),
]


def _kb_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(_KB, "subject string, objects array<string>")


_KB_SQL_ROWS = ", ".join(
    "('{}', [{}])".format(s, ", ".join(f"'{o}'" for o in objs)) for s, objs in _KB
)

# Fixed hyperplanes for lsh_topk — identical literals in Spark and SQL.
_LSH_BITS, _LSH_DIM, _LSH_SEED = 8, 64, 7


def _lsh_planes() -> np.ndarray:
    # must match operators.ann.hyperplane_expr's generator exactly
    rng = np.random.default_rng(_LSH_SEED)
    return rng.standard_normal((_LSH_BITS, _LSH_DIM))


def _lsh_bucket_sql(vec: str) -> str:
    # single source of truth for the sign/bit-order convention that must
    # mirror ann.hyperplane_expr: _plane_bucket_sql (defined below)
    return _plane_bucket_sql(vec, _lsh_planes())


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: per-partition single-pass profile + constraint verdicts.

    The engine's signature move (SURVEY §3.4): partition lineitem by
    l_returnflag, fold every column's stats into ONE agg() pass, run the
    constraint stage, and emit a per-partition verdict row — the Spark
    re-expression of nadeefiler's per-(dataset × profiler) task results
    (/root/reference/profilers/worker.js:60-106).
    """
    sf_dir = "/root/testdata/sf0.001"
    li = _t(spark, sf_dir, "lineitem")
    cfg = profiler.ProfileConfig(exact_ndv=True, part_col="l_returnflag")
    summary = profiler.profile_summary(li, cfg)

    ctx = RuleContext(
        spark=spark, clips=li, key_col="l_orderkey", part_col="l_returnflag"
    )
    viol = (
        RangeRule(name="discount_range", column="l_discount", lo=0.0, hi=0.08)
        .violations(ctx)
        .unionByName(
            DomainRule(
                name="linestatus_domain", column="l_linestatus", allowed=("O", "F")
            ).violations(ctx)
        )
    )
    vcounts = viol.groupBy("part").agg(F.count(F.lit(1)).alias("n_violations"))
    nrows = summary.groupBy("part").agg(F.max("n_rows").alias("n_rows"))
    return (
        nrows.join(vcounts, "part", "left")
        .select(
            "part",
            "n_rows",
            F.coalesce("n_violations", F.lit(0)).alias("n_violations"),
            (F.coalesce("n_violations", F.lit(0)) == 0).alias("passed"),
        )
        .orderBy("part")
    )


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def _q_profile_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # engine-stable stats only (mean/stddev are pytest-validated instead:
    # cross-engine float formatting of min/max strings is not hash-stable)
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_orderkey", "l_linenumber", "l_linestatus", "l_shipdate"
    )
    cfg = profiler.ProfileConfig(exact_ndv=True, part_col="l_returnflag")
    return profiler.profile_summary(li, cfg).select(
        "part", "key", "n_rows", "n_nulls", "ndv", "min", "max"
    )


def _sql_profile_summary(table: str = "lineitem") -> str:
    cols = ["l_orderkey", "l_linenumber", "l_linestatus", "l_shipdate"]
    parts = []
    for c in cols:
        null_pred = (
            f"({c} IS NULL OR {c} = '')" if c == "l_linestatus" else f"{c} IS NULL"
        )
        parts.append(
            f"""SELECT l_returnflag AS part, '{c}' AS key,
            count(*) AS n_rows,
            CAST(sum(CASE WHEN {null_pred} THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
            count(DISTINCT {c}) AS ndv,
            CAST(min({c}) AS VARCHAR) AS "min", CAST(max({c}) AS VARCHAR) AS "max"
            FROM {table} GROUP BY l_returnflag"""
        )
    return " UNION ALL ".join(parts)


def _q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select("o_orderstatus", "o_orderpriority")
    melted = typedetect.melt_values(o)
    return melted.groupBy("key", "value").agg(F.count(F.lit(1)).alias("count"))


_SQL_VALUE_HISTOGRAM = """
SELECT key, value, count(*) AS count FROM (
  SELECT 'o_orderstatus' AS key, o_orderstatus AS value FROM orders
  UNION ALL
  SELECT 'o_orderpriority' AS key, o_orderpriority AS value FROM orders
) GROUP BY key, value
"""


def _q_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    cfg = profiler.ProfileConfig(
        part_col="event_type", bucket_hist_cols={"value": 5.0}
    )
    return profiler.profile_histograms(e, cfg)


_SQL_BUCKET_HISTOGRAM = """
SELECT event_type AS part, 'value' AS key, 'bucket' AS kind,
       CAST(CAST(floor("value" / 5.0) * 5.0 AS BIGINT) AS VARCHAR) AS bin,
       count(*) AS count
FROM events GROUP BY 1, 4
"""


def _q_type_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return typedetect.type_scores(_typed_strings(spark, sf_dir))


def _sql_type_scores() -> str:
    sums = ", ".join(
        f'CAST(coalesce(sum(CASE WHEN type = \'{t}\' THEN cnt END), 0) AS BIGINT) AS "{t}"'
        for t in det.TYPE_LABELS
    )
    return f"""
    WITH typed AS ({_TYPED_STRINGS_SQL}),
    melted AS ({_MELT_TYPED_SQL}),
    hist AS (SELECT key, value, count(*) AS cnt FROM melted GROUP BY key, value),
    labeled AS (SELECT key, cnt, {_detect_sql('value')} AS type FROM hist)
    SELECT key, {sums} FROM labeled GROUP BY key
    """


def _q_type_histograms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return typedetect.type_histograms(_typed_strings(spark, sf_dir))


def _sql_type_histograms() -> str:
    return f"""
    WITH typed AS ({_TYPED_STRINGS_SQL}),
    melted AS ({_MELT_TYPED_SQL}),
    hist AS (SELECT key, value, count(*) AS count FROM melted GROUP BY key, value),
    labeled AS (SELECT {_detect_sql('value')} AS histogram, key, value, count FROM hist)
    SELECT histogram, key, value,
           CASE WHEN histogram IN ('integer', 'float', 'percent')
                THEN CAST(regexp_replace(value, '%$', '') AS DOUBLE) END AS value_num,
           count
    FROM labeled WHERE histogram <> 'null'
    """


def _q_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    return c.agg(
        *[
            F.count_distinct(F.col(col)).alias(f"ndv_{col}")
            for col in ("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
        ]
    )


_SQL_DISTINCT_COUNTS = """
SELECT count(DISTINCT c_custkey) AS ndv_c_custkey,
       count(DISTINCT c_name) AS ndv_c_name,
       count(DISTINCT c_nationkey) AS ndv_c_nationkey,
       count(DISTINCT c_mktsegment) AS ndv_c_mktsegment
FROM customer
"""


def _q_topk_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    return (
        p.groupBy(F.col("p_brand").alias("value"))
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy(F.desc("count"), F.asc("value"))
        .limit(20)
    )


_SQL_TOPK_VALUES = """
SELECT p_brand AS value, count(*) AS count FROM part
GROUP BY p_brand ORDER BY count DESC, value ASC LIMIT 20
"""


def _q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
    return (
        p.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= 3)
        .select("p_brand", "p_partkey", "p_retailprice", "rank")
    )


_SQL_TOPK_PER_GROUP = """
SELECT p_brand, p_partkey, p_retailprice, rank FROM (
  SELECT p_brand, p_partkey, p_retailprice,
         row_number() OVER (PARTITION BY p_brand
                            ORDER BY p_retailprice DESC, p_partkey ASC) AS rank
  FROM part
) WHERE rank <= 3
"""


def _q_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .offset(100)
        .limit(50)
    )


_SQL_PAGINATION = """
SELECT o_orderkey, o_custkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 50 OFFSET 100
"""


def _q_referential_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation").where(F.col("n_nationkey") < 20)
    return c.join(
        n, c["c_nationkey"] == n["n_nationkey"], "left_anti"
    ).select("c_custkey", "c_nationkey")


_SQL_REFERENTIAL_ORPHANS = """
SELECT c_custkey, c_nationkey FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM nation n
                  WHERE n.n_nationkey = c.c_nationkey AND n.n_nationkey < 20)
"""


def _orders_ctx(spark: SparkSession, sf_dir: str) -> RuleContext:
    return RuleContext(
        spark=spark,
        clips=_t(spark, sf_dir, "orders"),
        key_col="o_orderkey",
        part_col="o_orderpriority",
    )


def _q_uniqueness_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    # duplicate (o_custkey, o_orderdate) pairs -> each offending row
    return UniquenessRule(
        name="unique_cust_date", keys=("o_custkey", "o_orderdate")
    ).violations(_orders_ctx(spark, sf_dir))


_SQL_UNIQUENESS_VIOLATIONS = """
WITH dups AS (
  SELECT o_custkey, o_orderdate, count(*) AS dc FROM orders
  GROUP BY 1, 2 HAVING count(*) > 1
)
SELECT o.o_orderpriority AS part, 'unique_cust_date' AS rule,
       CAST(o.o_orderkey AS VARCHAR) AS clip_id,
       'duplicate_count=' || CAST(d.dc AS VARCHAR) AS detail
FROM orders o JOIN dups d
  ON o.o_custkey = d.o_custkey AND o.o_orderdate = d.o_orderdate
"""


def _q_domain_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DomainRule(
        name="priority_domain",
        column="o_orderpriority",
        allowed=("1-URGENT", "2-HIGH", "3-MEDIUM"),
    ).violations(_orders_ctx(spark, sf_dir))


_SQL_DOMAIN_VIOLATIONS = """
SELECT o_orderpriority AS part, 'priority_domain' AS rule,
       CAST(o_orderkey AS VARCHAR) AS clip_id,
       'o_orderpriority=' || o_orderpriority AS detail
FROM orders
WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH', '3-MEDIUM')
   OR o_orderpriority IS NULL
"""


def _q_required_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    # documents shorter than 60 chars are treated via RangeRule-like gate;
    # RequiredRule itself checks null/empty text (reference '' -> null type)
    ctx = RuleContext(
        spark=spark,
        clips=_t(spark, sf_dir, "documents"),
        key_col="doc_id",
        part_col="lang",
    )
    return RequiredRule(name="text_required", column="text").violations(ctx)


_SQL_REQUIRED_VIOLATIONS = """
SELECT lang AS part, 'text_required' AS rule, CAST(doc_id AS VARCHAR) AS clip_id,
       CASE WHEN text IS NULL THEN 'null' ELSE 'empty' END AS detail
FROM documents WHERE text IS NULL OR text = ''
"""


def _q_range_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    ctx = RuleContext(
        spark=spark,
        clips=_t(spark, sf_dir, "events"),
        key_col="event_id",
        part_col="event_type",
    )
    return RangeRule(name="value_range", column="value", lo=-20.0, hi=20.0).violations(
        ctx
    )


_SQL_RANGE_VIOLATIONS = """
SELECT event_type AS part, 'value_range' AS rule, CAST(event_id AS VARCHAR) AS clip_id,
       'value=' || CAST("value" AS VARCHAR) AS detail
FROM events WHERE "value" < -20.0 OR "value" > 20.0 OR "value" IS NULL
"""


def _q_cascade_delete_targets(spark: SparkSession, sf_dir: str) -> DataFrame:
    # soft-deleted parents (synthetic flag) cascade to child rows
    # (reference Project -> Dataset -> Tuple cascade, Dataset.js:46-48)
    c = _t(spark, sf_dir, "customer").where(F.col("c_custkey") % 50 == 0)
    o = _t(spark, sf_dir, "orders")
    return o.join(c.select("c_custkey"), o["o_custkey"] == c["c_custkey"], "left_semi").select(
        "o_orderkey", "o_custkey"
    )


_SQL_CASCADE_DELETE_TARGETS = """
SELECT o_orderkey, o_custkey FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_custkey % 50 = 0)
"""


_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def _q_pivot_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    piv = (
        e.withColumn("cohort", (F.col("user_id") % 10).cast("bigint"))
        .groupBy("cohort")
        .pivot("event_type", list(_EVENT_TYPES))
        .count()
    )
    return piv.select(
        "cohort", *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in _EVENT_TYPES]
    )


_SQL_PIVOT_COUNTS = """
SELECT user_id % 10 AS cohort,
       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
       CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
FROM events GROUP BY 1
"""


def _q_windowed_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling-window stats (streaming.windowed_event_stats,
    run in batch mode — the IDENTICAL plan runs on a stream, where the
    watermark bounds state and drops late rows; batch/stream equality
    and the late-drop are pytest-covered). Spark's whole-unit tumbling
    windows are epoch-aligned, so the ANSI twin is date_trunc. Window
    starts are compared as strings — representation-based on both
    engines, no timezone math."""
    from nadeefiler_spark.streaming import windowed_event_stats

    e = _t(spark, sf_dir, "events")
    return windowed_event_stats(e).select(
        F.col("window_start").cast("string").alias("window_start"),
        "event_type",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.round("avg_value", 6).alias("avg_value"),
        F.round("min_value", 6).alias("min_value"),
        F.round("max_value", 6).alias("max_value"),
    )


_SQL_WINDOWED_EVENT_STATS = """
SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS window_start,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(CAST(sum(CAST("value" AS DECIMAL(30,8))) AS DOUBLE)
             / nullif(count("value"), 0), 6) AS avg_value,
       round(min("value"), 6) AS min_value,
       round(max("value"), 6) AS max_value
FROM events GROUP BY 1, 2
"""


def _q_rollup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets profile (SURVEY §2.7): every drill-down level of
    (l_returnflag, l_linestatus) plus the grand total in ONE scan via
    ROLLUP — one Expand + hash aggregate instead of the reference's
    re-run-per-level Mongo pipelines. gid = SQL-standard grouping_id."""
    li = _t(spark, sf_dir, "lineitem")
    return profiler.rollup_summary(
        li, ("l_returnflag", "l_linestatus"), "l_extendedprice"
    )


_SQL_ROLLUP_STATS = """
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       count(*) AS n_rows,
       round(sum(l_extendedprice), 6) AS sum_val,
       round(avg(l_extendedprice), 6) AS avg_val,
       round(min(l_extendedprice), 6) AS min_val,
       round(max(l_extendedprice), 6) AS max_val
FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
"""


def _q_event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (operators.sessions): per-user sessions
    split at >30-min gaps, one shuffle on user + one within-partition
    sort; the per-session rollup reuses the window's partitioning.
    Timestamps compared as strings (representation-based, UTC session
    tz on the Spark side matches DuckDB's naive timestamps)."""
    from nadeefiler_spark.operators.sessions import session_stats

    e = _t(spark, sf_dir, "events")
    return session_stats(
        e, "user_id", "ts", gap_s=1800, tiebreak_col="event_id"
    ).select(
        "user",
        "session_idx",
        "n_events",
        F.col("t_start").cast("string").alias("t_start"),
        F.col("t_end").cast("string").alias("t_end"),
        "dur_s",
    )


_SQL_EVENT_SESSIONS = """
WITH e AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
              OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800
              THEN 1 ELSE 0 END AS boundary
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts,
         sum(boundary) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM e)
SELECT user_id AS user, CAST(session_idx AS BIGINT) AS session_idx,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(min(ts) AS VARCHAR) AS t_start, CAST(max(ts) AS VARCHAR) AS t_end,
       CAST(floor(epoch(max(ts))) - floor(epoch(min(ts))) AS BIGINT) AS dur_s
FROM s GROUP BY 1, 2
"""


def _q_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join (operators.temporal.asof_join): for each
    'purchase' event, the most recent prior 'click'/'view' touch by the
    same user — last-touch attribution, the canonical as-of shape Spark
    has no built-in for. ONE shuffle on user_id (union + window
    carry-forward), no range-predicate join, so no nested-loop plan.
    Left-join semantics: a purchase with no prior touch keeps nulls
    (70 such rows at sf0.01). Ties resolve to the largest event_id —
    pinned by the pandas merge_asof twin in tests/test_temporal.py.
    DuckDB's native ASOF LEFT JOIN is the oracle."""
    from nadeefiler_spark.operators.temporal import asof_join

    e = _t(spark, sf_dir, "events")
    conv = e.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    touch = e.where(F.col("event_type").isin("click", "view")).select(
        "user_id", "ts", "event_id", "event_type"
    )
    out = asof_join(
        conv,
        touch,
        ["user_id"],
        "ts",
        "ts",
        ["event_id", "event_type", "ts"],
        prefix="touch_",
        tiebreak_col="event_id",
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("ts").cast("string").alias("ts"),
        F.round("value", 6).alias("value"),
        "touch_event_id",
        F.col("touch_event_type").alias("touch_type"),
        F.col("touch_ts").cast("string").alias("touch_ts"),
        (F.unix_timestamp("ts") - F.unix_timestamp("touch_ts")).alias("lag_s"),
    )


_SQL_ASOF_ATTRIBUTION = """
SELECT p.event_id, p.user_id, CAST(p.ts AS VARCHAR) AS ts,
       round(p.value, 6) AS value,
       t.event_id AS touch_event_id, t.event_type AS touch_type,
       CAST(t.ts AS VARCHAR) AS touch_ts,
       CAST(floor(epoch(p.ts)) - floor(epoch(t.ts)) AS BIGINT) AS lag_s
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type IN ('click', 'view')) t
  ON p.user_id = t.user_id AND t.ts <= p.ts
"""


def _session_matches(spark: SparkSession, sf_dir: str):
    """Front half of the session-concurrency query: 12h-gap sessions +
    the bin-bucketed interval–point containment join against other
    users' events. Returns (sessions, matches).

    Each match carries ``p_prev_ts`` — the event's same-user
    predecessor timestamp (lag over (user, ts, event_id)) — which turns
    exact COUNT DISTINCT partners into a plain conditional count
    downstream (see _q_session_concurrency)."""
    from nadeefiler_spark.operators.sessions import session_stats
    from nadeefiler_spark.operators.temporal import interval_point_join

    e = _t(spark, sf_dir, "events")
    iv = session_stats(e, "user_id", "ts", gap_s=43200, tiebreak_col="event_id").select(
        "user", "session_idx", "n_events", "t_start", "t_end"
    )
    pts = e.select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_event_id"),
    )
    w = Window.partitionBy("p_user").orderBy("p_ts", "p_event_id")
    pts = pts.withColumn("p_prev_ts", F.lag("p_ts").over(w))
    m = interval_point_join(iv, pts, "t_start", "t_end", "p_ts", bin_s=86400).where(
        F.col("p_user") != F.col("user")
    )
    return iv, m


def _q_session_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval–point range join (operators.temporal.interval_point_join):
    per 12h-gap user session, how many events from OTHER users landed
    inside [t_start, t_end] — the keyless containment join Spark would
    otherwise plan as BroadcastNestedLoopJoin. Both sides bucket into
    1-day bins (a session spans at most ~4 days at sf0.01) so the join
    is a plain hash equi-join on the bin; exact containment filters
    inside buckets; left-join-back keeps zero-concurrency sessions."""
    iv, m = _session_matches(spark, sf_dir)
    # EXACT distinct partners WITHOUT a distinct exchange — the
    # predecessor trick (classical offline range-distinct reduction):
    # each event carries its same-user predecessor's ts (lag over
    # (p_user, p_ts, p_event_id), one events-sized shuffle on p_user),
    # and within an interval [t_start, t_end] a partner's FIRST
    # in-interval event — and only it — has p_prev_ts NULL or
    # < t_start (its predecessor, if >= t_start, would itself be
    # in-interval and earlier, contradicting "first"; a tie at exactly
    # t_start means the predecessor IS in-interval, so the event is
    # correctly not first). So count(first-flags) == count(DISTINCT
    # p_user), turning the agg into ONE fully combinable groupBy:
    # no per-(session, partner) groups ever shuffle. Replaces the
    # previous two stacked groupBys whose 20M-group (session, partner)
    # exchange BENCH/BASELINE.md had measured as the dominant cost
    # (17.8 -> 5.2 s at sf0.1, noop-forced full materialization;
    # decomposition + the count()-pruning measurement trap there).
    counts = m.groupBy("user", "session_idx").agg(
        F.count(F.lit(1)).alias("n_concurrent"),
        F.sum(
            (
                F.col("p_prev_ts").isNull()
                | (F.col("p_prev_ts") < F.col("t_start"))
            ).cast("bigint")
        ).alias("n_other_users"),
    )
    return iv.join(counts, ["user", "session_idx"], "left").select(
        "user",
        "session_idx",
        "n_events",
        F.coalesce("n_concurrent", F.lit(0)).alias("n_concurrent"),
        F.coalesce("n_other_users", F.lit(0)).alias("n_other_users"),
    )


_SQL_SESSION_CONCURRENCY = """
WITH e AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
              OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 43200
              THEN 1 ELSE 0 END AS boundary
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts,
         sum(boundary) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM e
), sess AS (
  SELECT user_id AS user, CAST(session_idx AS BIGINT) AS session_idx,
         CAST(count(*) AS BIGINT) AS n_events,
         min(ts) AS t_start, max(ts) AS t_end
  FROM s GROUP BY 1, 2
)
SELECT sess.user, sess.session_idx, sess.n_events,
       CAST(count(p.event_id) AS BIGINT) AS n_concurrent,
       CAST(count(DISTINCT p.user_id) AS BIGINT) AS n_other_users
FROM sess LEFT JOIN events p
  ON p.ts >= sess.t_start AND p.ts <= sess.t_end AND p.user_id <> sess.user
GROUP BY 1, 2, 3
"""


def _temporal_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synthetic run history (manifest-shaped) derived
    from the orders table: part = order priority, stage = 'audio',
    completed_at = order date, violations planted on o_orderkey % 3.
    Shared by the two engine temporal-lineage contract queries so the
    Spark stage and the DuckDB oracle derive from the same integers."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        F.col("o_orderkey").cast("string").alias("run_id"),
        F.col("o_orderpriority").alias("part"),
        F.lit("audio").alias("stage"),
        F.col("o_orderdate").cast("timestamp").alias("completed_at"),
        F.lit(100).cast("bigint").alias("n_rows"),
        (F.col("o_orderkey") % 3 == 0).cast("bigint").alias("n_violations"),
        F.lit(0).cast("bigint").alias("wall_ms"),
    )


def _temporal_engine(spark: SparkSession):
    import tempfile

    from nadeefiler_spark.engine import ValidationEngine
    from nadeefiler_spark.profiler import default_clips_config

    return ValidationEngine(
        spark, tempfile.mkdtemp(prefix="ndf_temporal_"),
        rules=[], profile_cfg=default_clips_config(),
    )


def _q_incident_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine temporal-lineage stage run end-to-end
    (engine.run_incident_sessions): the derived run history is appended
    to a fresh engine's manifest, the stage gap-sessionizes each
    partition's VIOLATING runs (3-day gap) into incident episodes via
    operators.sessions.session_stats, and the resulting
    ``incident_sessions`` table is returned — stage rows, per-partition
    replace, and manifest commit all exercised inside the query. The
    DuckDB oracle recomputes the sessionization from the same orders
    integers. Manifest-sized at any corpus scale (rows ∝ runs, never
    clips)."""
    eng = _temporal_engine(spark)
    eng.io.append(_temporal_history(spark, sf_dir), "manifest", coalesce=1)
    eng.run_incident_sessions(gap_s=3 * 86400, run_id="q1")
    return eng.incident_sessions().select(
        "part", "v_stage", "incident_idx", "n_runs",
        F.col("t_start").cast("string").alias("t_start"),
        F.col("t_end").cast("string").alias("t_end"),
        "dur_s",
    )


_SQL_INCIDENT_SESSIONS = """
WITH h AS (
  SELECT o_orderpriority AS part, CAST(o_orderdate AS TIMESTAMP) AS ts,
         CAST(o_orderkey AS VARCHAR) AS run_id
  FROM orders WHERE o_orderkey % 3 = 0
), e AS (
  SELECT part, ts, run_id,
         CASE WHEN lag(ts) OVER w IS NULL
              OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 259200
              THEN 1 ELSE 0 END AS boundary
  FROM h
  WINDOW w AS (PARTITION BY part ORDER BY ts, run_id)
), s AS (
  SELECT part, ts,
         sum(boundary) OVER (PARTITION BY part ORDER BY ts, run_id
                             ROWS UNBOUNDED PRECEDING) AS idx
  FROM e)
SELECT part, 'audio' AS v_stage, CAST(idx AS BIGINT) AS incident_idx,
       CAST(count(*) AS BIGINT) AS n_runs,
       CAST(min(ts) AS VARCHAR) AS t_start, CAST(max(ts) AS VARCHAR) AS t_end,
       CAST(floor(epoch(max(ts))) - floor(epoch(min(ts))) AS BIGINT) AS dur_s
FROM s GROUP BY 1, 2, 3
"""


def _q_screen_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine as-of screen attribution run end-to-end
    (engine.run_screen_attribution): audio-stage runs from the derived
    history plus certificate-stage screens planted on o_orderkey % 7
    (deduped to one per (part, ts) — the as-of match must be
    deterministic), then the stage's backward as-of join attributes
    every audio run to its most recent screen; unscreened runs keep
    NULLs. DuckDB's native ASOF LEFT JOIN is the oracle. Manifest-sized
    at any corpus scale."""
    eng = _temporal_engine(spark)
    hist = _temporal_history(spark, sf_dir)
    screens = (
        hist.where(F.col("run_id").cast("bigint") % 7 == 0)
        .groupBy("part", "completed_at")
        .agg(F.max("run_id").alias("run_id"))
        .select(
            "run_id", "part", F.lit("certificate").alias("stage"),
            "completed_at",
            F.lit(0).cast("bigint").alias("n_rows"),
            F.lit(0).cast("bigint").alias("n_violations"),
            F.lit(0).cast("bigint").alias("wall_ms"),
        )
    )
    eng.io.append(hist.unionByName(screens), "manifest", coalesce=1)
    eng.run_screen_attribution(run_id="q1")
    return eng.screen_attribution().select(
        "part", "t_stage", "run_id",
        F.col("completed_at").cast("string").alias("completed_at"),
        "n_violations", "screen_run_id",
        F.col("screen_completed_at").cast("string").alias(
            "screen_completed_at"
        ),
        "screen_lag_s",
    )


_SQL_SCREEN_ATTRIBUTION = """
WITH a AS (
  SELECT o_orderpriority AS part, CAST(o_orderkey AS VARCHAR) AS run_id,
         CAST(o_orderdate AS TIMESTAMP) AS ts,
         CAST(CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END AS BIGINT)
           AS n_violations
  FROM orders
), c AS (
  SELECT o_orderpriority AS part, CAST(o_orderdate AS TIMESTAMP) AS ts,
         max(CAST(o_orderkey AS VARCHAR)) AS run_id
  FROM orders WHERE o_orderkey % 7 = 0
  GROUP BY 1, 2
)
SELECT a.part, 'audio' AS t_stage, a.run_id,
       CAST(a.ts AS VARCHAR) AS completed_at, a.n_violations,
       c.run_id AS screen_run_id,
       CAST(c.ts AS VARCHAR) AS screen_completed_at,
       CAST(floor(epoch(a.ts)) - floor(epoch(c.ts)) AS BIGINT)
         AS screen_lag_s
FROM a ASOF LEFT JOIN c ON a.part = c.part AND c.ts <= a.ts
"""


# IND candidates: every declared-FK-shaped pair in the testdata schema
# (all hold on the clean synthetic data) plus two REVERSE pairs that
# only partially hold (customers with no orders; never-ordered parts),
# so both verdicts are exercised. Shared by the Spark query and the
# oracle-SQL generator so the two can't drift.
_IND_PAIRS = (
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
    ("events", "user_id", "customer", "c_custkey"),
    ("customer", "c_custkey", "orders", "o_custkey"),
    ("part", "p_partkey", "lineitem", "l_partkey"),
)


def _q_ind_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inclusion-dependency mining (ind.mine_inds): containment of each
    candidate column pair A ⊆ B — the discovery counterpart of the
    engine's declared referential rule, and the classical profiling
    companion to fd_mine. Each side collapses to its distinct set first
    (shuffle bytes ∝ NDV, not rows), the containment join runs over
    distinct sets (AQE broadcasts the small side), and all 9 candidate
    pairs union into ONE Spark job."""
    from nadeefiler_spark.ind import IndCandidate, mine_inds

    dfs: dict[str, DataFrame] = {}
    cands = []
    for lt, lc, rt, rc in _IND_PAIRS:
        for t in (lt, rt):
            if t not in dfs:
                dfs[t] = _t(spark, sf_dir, t)
        cands.append(IndCandidate(lt, dfs[lt], lc, rt, dfs[rt], rc))
    out = mine_inds(cands, min_containment=1.0)
    return out.select(
        "lhs",
        "rhs",
        "n_lhs",
        "n_contained",
        F.round("containment", 6).alias("containment"),
        "holds",
    )


def _sql_ind_mine() -> str:
    parts = []
    for lt, lc, rt, rc in _IND_PAIRS:
        parts.append(
            f"""SELECT '{lt}.{lc}' AS lhs, '{rt}.{rc}' AS rhs,
       CAST(count(*) AS BIGINT) AS n_lhs,
       CAST(count(b.v) AS BIGINT) AS n_contained,
       round(CAST(count(b.v) AS DOUBLE) / count(*), 6) AS containment,
       count(b.v) = count(*) AS holds
FROM (SELECT DISTINCT {lc} AS v FROM {lt} WHERE {lc} IS NOT NULL) a
LEFT JOIN (SELECT DISTINCT {rc} AS v FROM {rt} WHERE {rc} IS NOT NULL) b
  ON a.v = b.v"""
        )
    return "\nUNION ALL\n".join(parts)


# UCC candidates: the declared keys of the testdata schema plus
# combinations that fail — singletons with duplicates, and the
# TPC-H-shaped composite (l_orderkey, l_linenumber), which the
# synthetic datagen does NOT keep unique — so both verdicts and the
# dup accounting are exercised. Shared by the Spark query and the
# oracle-SQL generator so the two can't drift.
_UCC_CANDS = (
    ("events", ("event_id",)),
    ("events", ("user_id",)),
    ("events", ("user_id", "ts")),
    ("lineitem", ("l_orderkey",)),
    ("lineitem", ("l_orderkey", "l_linenumber")),
    ("lineitem", ("l_partkey", "l_suppkey")),
    ("orders", ("o_orderkey",)),
    ("orders", ("o_custkey",)),
    ("documents", ("doc_id",)),
)


def _q_ucc_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unique-column-combination mining (ucc.mine_uccs): per candidate
    key, the exact duplicate-row and NULL accounting — the discovery
    counterpart of the engine's declared uniqueness rule, completing
    the keys/FDs/INDs profiling-discovery triple with fd_mine and
    ind_mine. One shuffle per candidate keyed on its own columns with
    map-side partial agg; all 9 candidates union into ONE Spark job;
    at scale the HLL prune (ucc.prune_candidates, exercised in pytest)
    refutes non-keys before any exact shuffle."""
    from nadeefiler_spark.ucc import UccCandidate, mine_uccs

    dfs: dict[str, DataFrame] = {}
    cands = []
    for t, cols in _UCC_CANDS:
        if t not in dfs:
            dfs[t] = _t(spark, sf_dir, t)
        cands.append(UccCandidate(t, dfs[t], cols))
    return mine_uccs(cands)


def _sql_ucc_mine() -> str:
    parts = []
    for t, cols in _UCC_CANDS:
        cl = ", ".join(cols)
        null_any = " OR ".join(f"{c} IS NULL" for c in cols)
        nulls = f"coalesce(sum(CASE WHEN {null_any} THEN cnt ELSE 0 END), 0)"
        dups = "coalesce(sum(cnt - 1), 0)"
        parts.append(
            f"""SELECT '{t}' AS tbl, '{",".join(cols)}' AS cols,
       CAST(coalesce(sum(cnt), 0) AS BIGINT) AS n_rows,
       CAST({nulls} AS BIGINT) AS n_nulls,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST({dups} AS BIGINT) AS dup_rows,
       {dups} = 0 AS is_unique,
       ({dups} = 0 AND {nulls} = 0) AS is_key
FROM (SELECT {cl}, count(*) AS cnt FROM {t} GROUP BY {cl}) g"""
        )
    return "\nUNION ALL\n".join(parts)


_MASK_COLS = ("p_name", "p_brand", "p_type")


def _q_mask_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pattern/mask histogram (functions.text.mask): per column, the
    histogram of structure masks (uppercase→A, lowercase→a, digit→9,
    punctuation kept) — format-drift profiling at mask cardinality
    instead of value cardinality. One scan: the columns melt via
    explode(array(struct...)) before a single groupBy; the per-column
    percentage reuses the groupBy's hash partitioning for its window."""
    p = _t(spark, sf_dir, "part")
    melted = p.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(c).alias("key"), tx.mask(c).alias("mask"))
                    for c in _MASK_COLS
                ]
            )
        ).alias("kv")
    ).select("kv.*")
    w = Window.partitionBy("key")
    return (
        melted.groupBy("key", "mask")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("pct", F.round(F.col("cnt") / F.sum("cnt").over(w), 6))
    )


def _sql_mask_profile() -> str:
    def m(c: str) -> str:
        return (
            "regexp_replace(regexp_replace(regexp_replace("
            f"{c}, '[A-Z]', 'A', 'g'), '[a-z]', 'a', 'g'), '[0-9]', '9', 'g')"
        )

    melted = "\n  UNION ALL\n".join(
        f"  SELECT '{c}' AS key, {m(c)} AS mask FROM part" for c in _MASK_COLS
    )
    return f"""WITH melted AS (
{melted}
)
SELECT key, mask, CAST(count(*) AS BIGINT) AS cnt,
       round(CAST(count(*) AS DOUBLE) / sum(count(*)) OVER (PARTITION BY key), 6) AS pct
FROM melted GROUP BY key, mask"""


def _q_dc_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Denial constraint (rules.denial.violation_pairs): no two orders
    of the same customer on the same day may disagree on total price —
    the DC ¬(t1.cust = t2.cust ∧ t1.date = t2.date ∧ t1.total >
    t2.total), NADEEF's pairwise rule language over the equality-block
    hash join (never a cross join; the '=' predicates are the blocking
    key, enumeration happens only inside same-(cust, date) blocks)."""
    from nadeefiler_spark.rules.denial import Pred, violation_pairs

    return violation_pairs(
        _t(spark, sf_dir, "orders"),
        [
            Pred("o_custkey", "="),
            Pred("o_orderdate", "="),
            Pred("o_totalprice", ">"),
        ],
        id_col="o_orderkey",
    )


_SQL_DC_VIOLATIONS = """
SELECT a.o_orderkey AS id_a, b.o_orderkey AS id_b
FROM orders a JOIN orders b
  ON a.o_custkey = b.o_custkey
 AND a.o_orderdate = b.o_orderdate
 AND a.o_totalprice > b.o_totalprice
 AND a.o_orderkey <> b.o_orderkey
"""


def _qc_planted_clips(spark: SparkSession) -> DataFrame:
    """Three deterministic capture-defect clips (digital clipping, dead
    air, DC offset) encoded as real WAVs — shared by the audio_qc query
    and its pure-numpy twin test so the two can't drift."""
    import numpy as np

    from nadeefiler_spark import audio

    sr, n = 16000, 1600
    t = np.arange(n)
    rows = []
    for cid, pcm in (
        ("qc-clipped", np.where((t // 8) % 2 == 0, 32767, -32768)),
        ("qc-silent", np.zeros(n)),
        ("qc-dc", 3000.0 * np.sin(2 * np.pi * 440.0 * t / sr) + 8000.0),
    ):
        blob = audio.encode(pcm.astype(np.int16), sr, "pcm_s16le")
        rows.append((cid, bytearray(blob), sr, 100, "pcm_s16le", "qc", "pcm_s16le"))
    return spark.createDataFrame(
        rows,
        "clip_id string, bytes binary, sr_hz int, dur_ms int, "
        "codec string, transcript string, part string",
    )


def _q_audio_qc_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio signal-QC profile over the DECODED synthetic corpus
    (rules.audio_rules decode_facts with_qc=True + AudioQcRule
    thresholds): clipping / dead-air / DC-offset stats computed on the
    SAME decoded PCM pass as every other audio fact
    (decode-once-check-many), flagged rows only. Planted defect clips
    ride along a synthetic corpus, so the result is the planted set
    plus the datagen's SNR-distorted clips (their distortion genuinely
    clips ~2% of samples — the QC gate catches them without needing
    the reference waveform). No DuckDB oracle (the corpus is rendered
    PCM); pinned by the pure-numpy twin in
    tests/test_audio.py::test_qc_stats_twin. The DuckDB-oracled twin
    of the same operator over SQL-built containers is ``audio_qc``."""
    from nadeefiler_spark.rules.audio_rules import decode_facts

    cfg = datagen.GenConfig(n_rows=2000, seed=11, dur_min_ms=40, dur_max_ms=200)
    clips = _cached_clips(spark, cfg).unionByName(_qc_planted_clips(spark))
    facts = decode_facts(clips, with_snr=False, with_qc=True)
    return (
        facts.where(
            F.col("decode_error").isNull()
            & (
                (F.col("clip_ratio") > 0.01)
                | (F.col("silence_ratio") > 0.9)
                | (F.abs(F.col("dc_offset")) > 0.05)
            )
        )
        .select(
            "clip_id",
            "part",
            F.round("clip_ratio", 6).alias("clip_ratio"),
            F.round("silence_ratio", 6).alias("silence_ratio"),
            F.round("dc_offset", 6).alias("dc_offset"),
        )
        .orderBy("clip_id")
    )


def _q_fd_repairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FD repair suggestions (repair.suggest_fd_repairs): for orders
    violating (o_custkey, o_orderdate) -> o_totalprice, the modal total
    per violating group and the rows that would change — NADEEF's
    repair phase over the same FD the dc_violations query detects. One
    (group, value) groupBy (shuffle ∝ distinct pairs), a window over
    the per-group value histogram, and one broadcast join of violating
    modes back to the scan."""
    from nadeefiler_spark.repair import suggest_fd_repairs

    out = suggest_fd_repairs(
        _t(spark, sf_dir, "orders"),
        ["o_custkey", "o_orderdate"],
        "o_totalprice",
        "o_orderkey",
    )
    return out.withColumnRenamed("current", "current_val")


_SQL_FD_REPAIRS = """
WITH counts AS (
  SELECT o_custkey, o_orderdate, o_totalprice AS val, count(*) AS cnt
  FROM orders GROUP BY 1, 2, 3
), ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY o_custkey, o_orderdate
                            ORDER BY cnt DESC, val ASC NULLS LAST) AS rk,
         count(*) OVER (PARTITION BY o_custkey, o_orderdate) AS nvals,
         sum(cnt) OVER (PARTITION BY o_custkey, o_orderdate) AS gsize
  FROM counts
), modes AS (
  SELECT o_custkey, o_orderdate, val AS suggested,
         cnt AS n_support, gsize AS group_size
  FROM ranked WHERE rk = 1 AND nvals > 1
)
SELECT o.o_orderkey AS id, o.o_custkey, o.o_orderdate,
       o.o_totalprice AS current_val, m.suggested,
       CAST(m.n_support AS BIGINT) AS n_support,
       CAST(m.group_size AS BIGINT) AS group_size
FROM orders o JOIN modes m USING (o_custkey, o_orderdate)
WHERE o.o_totalprice IS DISTINCT FROM m.suggested
"""


def _q_repair_whatif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What-if re-validation closing the repair arc
    (repair.apply_repairs): apply the fd_repairs suggestions to orders
    and recount violating (o_custkey, o_orderdate) -> o_totalprice
    groups before and after (NULL counted as a value). Modal repair
    makes every flagged group single-valued, so 'after' must recount to
    zero — but both engines COMPUTE the recount over the patched table
    rather than assert it. One extra broadcast join + one (lhs)-grouped
    agg over the patched scan."""
    from nadeefiler_spark.repair import apply_repairs, suggest_fd_repairs

    orders = _t(spark, sf_dir, "orders")
    lhs = ["o_custkey", "o_orderdate"]
    rep = suggest_fd_repairs(orders, lhs, "o_totalprice", "o_orderkey")
    patched = apply_repairs(orders, rep, "o_totalprice", "o_orderkey")

    def viol_groups(d: DataFrame):
        per = d.groupBy(*lhs).agg(
            (
                F.countDistinct("o_totalprice")
                + F.max(F.col("o_totalprice").isNull().cast("int"))
            ).alias("nv")
        )
        return per.where(F.col("nv") > 1).count()

    n_rep = rep.count()
    rows = [
        ("before", int(viol_groups(orders)), int(n_rep)),
        ("after", int(viol_groups(patched)), 0),
    ]
    return spark.createDataFrame(
        rows, "phase string, violating_groups bigint, repaired_rows bigint"
    ).orderBy("phase")


_SQL_REPAIR_WHATIF = """
WITH counts AS (
  SELECT o_custkey, o_orderdate, o_totalprice AS val, count(*) AS cnt
  FROM orders GROUP BY 1, 2, 3
), ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY o_custkey, o_orderdate
                            ORDER BY cnt DESC, val ASC NULLS LAST) AS rk,
         count(*) OVER (PARTITION BY o_custkey, o_orderdate) AS nvals
  FROM counts
), modes AS (
  SELECT o_custkey, o_orderdate, val AS suggested
  FROM ranked WHERE rk = 1 AND nvals > 1
), rep AS (
  SELECT o.o_orderkey, m.suggested
  FROM orders o JOIN modes m USING (o_custkey, o_orderdate)
  WHERE o.o_totalprice IS DISTINCT FROM m.suggested
), patched AS (
  SELECT o.o_custkey, o.o_orderdate,
         CASE WHEN r.o_orderkey IS NOT NULL THEN r.suggested
              ELSE o.o_totalprice END AS o_totalprice
  FROM orders o LEFT JOIN rep r USING (o_orderkey)
), vg AS (
  SELECT 'before' AS phase, o_custkey, o_orderdate,
         count(DISTINCT o_totalprice)
         + max(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS nv
  FROM orders GROUP BY 2, 3
  UNION ALL
  SELECT 'after', o_custkey, o_orderdate,
         count(DISTINCT o_totalprice)
         + max(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)
  FROM patched GROUP BY 2, 3
)
SELECT phase,
       CAST(sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END) AS BIGINT) AS violating_groups,
       CAST(CASE WHEN phase = 'before' THEN (SELECT count(*) FROM rep)
            ELSE 0 END AS BIGINT) AS repaired_rows
FROM vg GROUP BY phase
ORDER BY phase
"""


def _q_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance similarity self-join (operators.fuzzy
    .edit_distance_pairs): part-name pairs within Levenshtein distance
    2 — q-gram inverted-index blocking, multiset count-bound pruning,
    levenshtein verify only inside candidate blocks (a raw
    levenshtein<=k self-join plans a cartesian). p_name lengths (7-12)
    clear the q-gram exactness bound, so the blocked plan returns
    EXACTLY the cartesian semantics the oracle computes."""
    from nadeefiler_spark.operators.fuzzy import edit_distance_pairs

    return edit_distance_pairs(
        _t(spark, sf_dir, "part"), "p_partkey", "p_name", max_dist=2
    )


_SQL_FUZZY_NAME_PAIRS = """
SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
FROM part a JOIN part b
  ON a.p_partkey < b.p_partkey
 AND abs(length(a.p_name) - length(b.p_name)) <= 2
WHERE levenshtein(a.p_name, b.p_name) <= 2
"""


# numeric correlation profile: all pairs of these lineitem measures in
# ONE aggregation pass (F.corr partials merge map-side)
_CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def _q_corr_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation profile (profiler.numeric_corr):
    the cross-column consistency stat dBoost-style outlier models
    consume. k(k-1)/2 pairs cost one scan and a one-row shuffle —
    F.corr's co-moment partials combine map-side, so the plan is
    row-count-independent past the scan."""
    from nadeefiler_spark.profiler import numeric_corr

    return numeric_corr(_t(spark, sf_dir, "lineitem"), _CORR_COLS)


def _sql_corr_profile() -> str:
    from itertools import combinations

    parts = []
    for a, b in combinations(_CORR_COLS, 2):
        parts.append(
            f"""SELECT '*' AS part, '{a}' AS col_a, '{b}' AS col_b,
       CAST(count(CASE WHEN {a} IS NOT NULL AND {b} IS NOT NULL THEN 1 END) AS BIGINT) AS n,
       round(corr({a}, {b}), 6) AS corr
FROM lineitem"""
        )
    return "\nUNION ALL\n".join(parts)


def _q_partition_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-partition consistency check (outliers.group_stat_outliers):
    robust median/MAD z-score of each event_type group's mean value —
    the partition-level gaussian the engine runs before trusting
    per-partition verdicts. One groupBy shuffle over raw rows; the
    median/MAD layer runs on #groups rows via broadcast crossJoins."""
    from nadeefiler_spark.outliers import group_stat_outliers

    return group_stat_outliers(
        _t(spark, sf_dir, "events"), "event_type", "value"
    )


_SQL_PARTITION_OUTLIERS = """
WITH stats AS (
  SELECT CAST(event_type AS VARCHAR) AS grp, CAST(count(*) AS BIGINT) AS n,
         avg(value) AS stat
  FROM events GROUP BY 1
), m AS (
  SELECT percentile_cont(0.5) WITHIN GROUP (ORDER BY stat) AS med FROM stats
), d AS (
  SELECT s.*, m.med, abs(s.stat - m.med) AS dev FROM stats s, m
), md AS (
  SELECT percentile_cont(0.5) WITHIN GROUP (ORDER BY dev) AS mad FROM d
)
SELECT grp, n, round(stat, 6) AS stat,
       round(CASE WHEN md.mad > 0
                  THEN 0.6745 * (stat - med) / md.mad END, 6) AS z,
       coalesce(CASE WHEN md.mad > 0
                     THEN abs(0.6745 * (stat - med) / md.mad) > 3.5 END,
                stat <> med) AS is_outlier
FROM d, md
"""


def _q_numeric_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition quantile profile (profiler.numeric_quantiles).
    exact=True here because the ORACLE demands SQL percentile_cont
    semantics; the production default is the mergeable
    percentile_approx sketch (shuffle bytes independent of row count —
    the 10^12-row path), sanity-bounded vs exact in pytest."""
    ev = _t(spark, sf_dir, "events")
    return profiler.numeric_quantiles(
        ev, ("value",), part_col="event_type", exact=True
    )


def _sql_numeric_quantiles() -> str:
    sub = (
        "SELECT event_type AS part, 'value' AS key, CAST({q} AS DOUBLE) AS q, "
        'round(quantile_cont("value", {q}), 6) AS val FROM events GROUP BY 1'
    )
    return " UNION ALL ".join(sub.format(q=q) for q in (0.25, 0.5, 0.75, 0.95))


def _q_audio_fp_dups_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio CONTENT dedup over the DECODED synthetic corpus
    (operators.audio_fp): decoded-PCM Haitsma–Kalker fingerprints over
    the deterministic synthetic clips table — catches the same
    recording re-encoded in a different container, which byte-hash
    dedup cannot see. No DuckDB oracle (the corpus is rendered PCM);
    pinned by an independent pure-numpy twin (tests/test_audio_fp.py)
    and the planted-duplicate golden. The DuckDB-oracled twin of the
    same operator over SQL-built containers is ``audio_fp_dups``."""
    from nadeefiler_spark.operators.audio_fp import audio_content_dup_groups

    cfg = datagen.GenConfig(n_rows=4000, seed=7, dur_min_ms=40, dur_max_ms=200)
    clips = _cached_clips(spark, cfg)
    return audio_content_dup_groups(clips).select(
        "fp", "n_clips", "keeper_id", F.to_json("clip_ids").alias("clip_ids")
    ).orderBy("fp")


def _q_transcript_conflicts_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transcript-consistency inside audio CONTENT dup groups
    (operators/consistency.group_attr_conflicts over
    operators/audio_fp fingerprints): the same recording carrying two
    materially different transcripts is an annotation error the dedup
    stage has already paid to expose. Planted on top of the synthetic
    corpus: three byte-identical copies with rewritten transcripts
    (MUST flag) and two copies whose transcript differs only in casing
    and spacing (norm_text — must NOT flag). Datagen's own i%211 exact
    duplicates copy the transcript verbatim, so they group consistent.
    No DuckDB oracle (rendered-PCM inputs); the planted conflict set is
    pinned exactly in tests/test_consistency.py. The DuckDB-oracled
    twin of the same operators over SQL-built containers is
    ``transcript_conflicts``."""
    from nadeefiler_spark.operators import consistency
    from nadeefiler_spark.operators.audio_fp import audio_fingerprints

    cfg = datagen.GenConfig(n_rows=1000, seed=23, dur_min_ms=60, dur_max_ms=200)
    base = _cached_clips(spark, cfg)
    # residues avoid empty/NULL transcripts (i%61==7, i%67==8) and the
    # datagen copy rows (i%211==1) — see row_spec
    conflict_ids = [f"clip-{i:012d}" for i in (12, 345, 679)]
    benign_ids = [f"clip-{i:012d}" for i in (23, 310)]
    alt = base.where(F.col("clip_id").isin(conflict_ids)).select(
        F.concat(F.col("clip_id"), F.lit("-alt")).alias("clip_id"),
        "bytes", "sr_hz", "dur_ms", "codec",
        F.concat(F.lit("mislabeled "), F.col("clip_id")).alias("transcript"),
        "part",
    )
    benign = base.where(F.col("clip_id").isin(benign_ids)).select(
        F.concat(F.col("clip_id"), F.lit("-copy")).alias("clip_id"),
        "bytes", "sr_hz", "dur_ms", "codec",
        F.concat(F.upper(F.col("transcript")), F.lit("  ")).alias("transcript"),
        "part",
    )
    clips = base.unionByName(alt).unionByName(benign)
    fps = audio_fingerprints(clips).where(F.col("fp").isNotNull())
    # datagen's i%211 copy rows repeat clip_id verbatim (uniqueness-rule
    # bait) — dropDuplicates keeps the transcript join 1:1 so n_members
    # counts fingerprint rows, not join fanout
    labeled = fps.join(
        clips.select(F.col("clip_id").alias("id"), "transcript")
        .dropDuplicates(["id"]),
        "id",
    )
    return (
        consistency.group_attr_conflicts(
            labeled, "fp", "id",
            {"transcript": consistency.norm_text("transcript")},
        )
        .select(
            F.col("group_key").alias("fp"),
            "n_members", "keeper_id", "n_transcript", "consistent",
        )
        .orderBy("fp")
    )


def _q_clip_admission_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental clip admission over the DECODED synthetic corpus
    (operators.audio_fp.incremental_clip_admission): a derived
    delivery batch classified against the deterministic synthetic
    corpus. Batch rows are planted by clip-index residue — byte copies
    (exact_corpus), cross-codec re-encodes (content_corpus), lightly
    noised re-encodes (near_corpus), duplicated fresh content (accept
    + exact_batch), and junk blobs (undecodable). No DuckDB oracle
    (rendered-PCM inputs and the near tier's hamming math); the
    operator is pinned by planted-outcome pytests
    (tests/test_audio_fp.py). The DuckDB-oracled twin of the same
    operator over SQL-built containers (near tier excluded) is
    ``clip_admission``."""
    from typing import Iterator

    import pandas as pd

    from nadeefiler_spark.operators.audio_fp import incremental_clip_admission

    cfg = datagen.GenConfig(n_rows=1200, seed=11, dur_min_ms=60, dur_max_ms=200)
    corpus = _cached_clips(spark, cfg).persist()

    def make_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from nadeefiler_spark import audio  # import on executor

        codecs = ("pcm_s16le", "flac", "opus")
        for pdf in batches:
            ids: list[str] = []
            blobs: list[bytes] = []
            for cid, blob in zip(pdf["clip_id"], pdf["bytes"]):
                i = int(cid.rsplit("-", 1)[1])
                r = i % 32
                if r == 0:
                    ids.append(f"new-{i:012d}")
                    blobs.append(bytes(blob))  # byte copy -> exact_corpus
                    continue
                if r == 24:
                    pcm = audio.render_pcm(f"new-content-{i}", 16000, 120)
                    fresh = audio.encode(pcm, 16000, "pcm_s16le")
                    ids += [f"new-{i:012d}-a", f"new-{i:012d}-b",
                            f"new-{i:012d}-junk"]
                    blobs += [fresh, fresh, b"\x00bad-" + str(i).encode()]
                    continue
                try:
                    codec, sr, pcm = audio.decode(bytes(blob))
                except Exception:
                    continue  # planted-corrupt corpus rows: skip
                if r == 8:  # same PCM, next container -> content_corpus
                    other = codecs[(codecs.index(codec) + 1) % len(codecs)
                                   ] if codec in codecs else "flac"
                    ids.append(f"new-{i:012d}")
                    blobs.append(audio.encode(pcm, int(sr), other))
                else:  # r == 16: light noise -> near_corpus (usually)
                    rng = np.random.default_rng([11, i])
                    noise = (rng.standard_normal(len(pcm)) * 50).astype("int16")
                    p2 = np.clip(
                        pcm.astype("int32") + noise, -32768, 32767
                    ).astype("int16")
                    ids.append(f"new-{i:012d}")
                    blobs.append(audio.encode(p2, int(sr), "flac"))
            yield pd.DataFrame({"clip_id": ids, "bytes": blobs})

    batch = (
        corpus.where(F.expr("cast(split(clip_id, '-')[1] as bigint) % 8 = 0"))
        .select("clip_id", "bytes")
        .mapInPandas(make_batch, "clip_id string, bytes binary")
    )
    # the operator's eager finalize has materialized its result, so the
    # render cache can be released before returning
    out = incremental_clip_admission(corpus, batch)
    corpus.unpersist()
    return out.select(
        F.col("id").alias("clip_id"),
        "disposition",
        F.coalesce("match_id", F.lit("-")).alias("match_id"),
        F.coalesce("hamming", F.lit(-1)).alias("hamming"),
    )


def _q_audio_feature_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio -> embedding -> ANN composition (operators.audio_features +
    operators.ann): band-energy feature vectors over the deterministic
    synthetic clips feed the EXISTING brute-force ANN — deterministic
    top-2 per query clip. Planted exact duplicates reuse their
    original's clip_id (datagen.row_spec), so the cos=1 twin-retrieval
    property is pinned on distinct ids in tests/test_audio_features.py;
    no DuckDB oracle (binary decode)."""
    from nadeefiler_spark.operators.audio_features import audio_features

    cfg = datagen.GenConfig(n_rows=1000, seed=7, dur_min_ms=40, dur_max_ms=200)
    clips = _cached_clips(spark, cfg)
    emb = (
        audio_features(clips)
        .where(F.col("features").isNotNull())
        .select(F.col("id").alias("vec_id"), F.col("features").alias("embedding"))
        .dropDuplicates(["vec_id"])  # planted dups share their twin's id
    )
    q = emb.where(F.col("vec_id").isin([f"clip-{i:012d}" for i in (0, 5, 500)]))
    from nadeefiler_spark.operators.ann import brute_force_topk

    return brute_force_topk(emb, q, k=2).orderBy("query_id", "rank")


def _q_audio_embedding_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup at scale (operators.audio_features.
    audio_embedding_dup_pairs): decode -> mean-centered band-energy
    embedding -> hyperplane-LSH blocking -> exact-cosine verify. The
    corpus is the deterministic synthetic clips PLUS a planted 8 kHz
    resample of every 11th 16 kHz clip of >=60 ms (clean 2:1 ratio;
    measured cos vs original >=0.9908 across the 13 plants — sub-60 ms
    clips are excluded because their FFT has too few bins below 4 kHz
    for banding to survive a rate change). The result must contain each
    planted variant paired with its original, along with the corpus's
    genuine f0-collision near-dups (the synthetic waveform has ONE
    content degree of freedom, so same-band f0s really are
    near-identical). No DuckDB oracle (binary decode); recall and
    blocked-subset-of-exact are pinned in tests/test_audio_features.py."""
    from nadeefiler_spark.operators.audio_features import (
        audio_embedding_dup_pairs, resample_clips,
    )

    cfg = datagen.GenConfig(n_rows=800, seed=7, dur_min_ms=40, dur_max_ms=200)
    clips = _cached_clips(spark, cfg)
    idx = F.substring("clip_id", 6, 12).cast("long")
    subset = clips.where(
        (idx % 11 == 0) & (F.col("sr_hz") == 16000) & (F.col("dur_ms") >= 60)
    )
    variants = (
        resample_clips(subset, 8000)
        .where(F.col("bytes").isNotNull())
        .select(F.concat("clip_id", F.lit("-rs8k")).alias("clip_id"), "bytes")
    )
    corpus = clips.select("clip_id", "bytes").unionByName(variants)
    return audio_embedding_dup_pairs(corpus, threshold=0.985).orderBy("id_a", "id_b")


def _q_percent_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    hist = c.groupBy(F.col("c_mktsegment").alias("value")).agg(
        F.count(F.lit(1)).alias("count")
    )
    total = Window.partitionBy()
    return hist.select(
        "value",
        "count",
        F.round(F.col("count") * 100.0 / F.sum("count").over(total)).alias("pct"),
    )


_SQL_PERCENT_HISTOGRAM = """
SELECT c_mktsegment AS value, count(*) AS count,
       round(count(*) * 100.0 / (SELECT count(*) FROM customer)) AS pct
FROM customer GROUP BY 1
"""


def _q_kb_group_import(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("members"),
            F.count(F.lit(1)).alias("n"),
        )
    )


_SQL_KB_GROUP_IMPORT = """
SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS members, count(*) AS n
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def _q_semantic_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").select("event_type")
    string_hist = typedetect.melt_values(e).groupBy("key", "value").agg(
        F.count(F.lit(1)).alias("count")
    )
    out = semantic.semantic_scores(string_hist, _kb_df(spark), top_k=10)
    return out.select(
        "key", "object", "score", F.col("rank").cast("bigint").alias("rank")
    )


# idf weighting mirrors semantic.semantic_scores(tf_idf=True):
# w(tok) = ln((N_subjects + 1) / df(tok)), df over distinct subjects
_SQL_SEMANTIC_SCORES = f"""
WITH string_hist AS (
  SELECT 'event_type' AS key, event_type AS value, count(*) AS count
  FROM events GROUP BY 2
),
kb(subject, objects) AS (VALUES {_KB_SQL_ROWS}),
vals AS (
  SELECT key, value, count, unnest(list_filter(string_split_regex(lower(value), '\\s+'),
                                               t -> t <> '')) AS tok
  FROM string_hist
),
subs AS (
  SELECT subject, objects, unnest(list_filter(string_split_regex(subject, '\\s+'),
                                              t -> t <> '')) AS tok
  FROM kb
),
nsub AS (SELECT count(DISTINCT subject) AS n_subj FROM kb),
idf AS (
  SELECT tok, ln((n_subj + 1.0) / count(DISTINCT subject)) AS w
  FROM subs CROSS JOIN nsub GROUP BY tok, n_subj
),
matches AS (
  SELECT v.key, v.value, v.count, s.subject, s.objects, sum(i.w) AS match_score
  FROM vals v JOIN subs s USING (tok) JOIN idf i USING (tok)
  GROUP BY 1, 2, 3, 4, 5
),
scored AS (
  SELECT key, unnest(objects) AS object, match_score * count AS w FROM matches
),
agg AS (
  -- rank over the ROUNDED score (twin of semantic.semantic_scores):
  -- equal-by-construction float sums must tie exactly for the
  -- object-ASC tie-break to agree across engines
  SELECT key, object, round(CAST(sum(w) AS DOUBLE), 6) AS score
  FROM scored GROUP BY 1, 2
)
SELECT key, object, score, rank FROM (
  SELECT key, object, score,
         row_number() OVER (PARTITION BY key ORDER BY score DESC, object ASC) AS rank
  FROM agg
) WHERE rank <= 10
"""


def _q_drift_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    cfg = profiler.ProfileConfig(part_col="event_type", bucket_hist_cols={"value": 5.0})
    hist = profiler.profile_histograms(e, cfg)
    m = drift.drift_metrics(hist, drift.global_baseline(hist))
    return m.select(
        "part", "key", "kind", F.round("psi", 6).alias("psi"), F.round("ks_d", 6).alias("ks_d")
    )


def _q_windowed_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-validation drift (streaming.windowed_drift_hist +
    windowed_drift_metrics, batch mode): hourly event-time windows of
    the events value histogram, PSI/KS-tested against the global
    baseline. The SAME definition runs as a stream (append mode,
    watermark-finalized windows, foreachBatch PSI) — stream==batch is
    pinned in tests/test_job_skew_streaming.py; this query oracles the
    shared math."""
    from nadeefiler_spark import streaming as st

    e = _t(spark, sf_dir, "events")
    hist = st.windowed_drift_hist(e, ts_col="ts", bucket_hist_cols={"value": 5.0})
    m = st.windowed_drift_metrics(hist, drift.global_baseline(hist))
    return m.select(
        "window_start", "key", "kind",
        F.round("psi", 6).alias("psi"), F.round("ks_d", 6).alias("ks_d"),
    )


_SQL_WINDOWED_DRIFT = """
WITH hist AS (
  SELECT date_trunc('hour', ts) AS part, 'value' AS key, 'bucket' AS kind,
         CAST(CAST(floor("value" / 5.0) * 5.0 AS BIGINT) AS VARCHAR) AS bin,
         count(*) AS c
  FROM events GROUP BY 1, 4
),
base AS (SELECT key, kind, bin, CAST(sum(c) AS BIGINT) AS cq FROM hist GROUP BY 1, 2, 3),
parts AS (SELECT DISTINCT part, key, kind FROM hist),
bins AS (SELECT DISTINCT key, kind, bin FROM hist),
grid AS (SELECT p.part, b.key, b.kind, b.bin FROM parts p JOIN bins b USING (key, kind)),
j AS (
  SELECT g.part, g.key, g.kind, g.bin,
         coalesce(h.c, 0) AS c_p, coalesce(q.cq, 0) AS c_q
  FROM grid g
  LEFT JOIN hist h ON h.part = g.part AND h.bin = g.bin
  LEFT JOIN base q ON q.bin = g.bin
),
probs AS (
  SELECT part, key, kind, bin, c_p, c_q,
    greatest(c_p / greatest(CAST(sum(c_p) OVER w AS BIGINT), 1), 1e-4) AS p,
    greatest(c_q / greatest(CAST(sum(c_q) OVER w AS BIGINT), 1), 1e-4) AS q,
    (CAST(sum(c_p) OVER ord AS BIGINT) * 1.0) / greatest(CAST(sum(c_p) OVER w AS BIGINT), 1) AS cdf_p,
    (CAST(sum(c_q) OVER ord AS BIGINT) * 1.0) / greatest(CAST(sum(c_q) OVER w AS BIGINT), 1) AS cdf_q
  FROM j
  WINDOW w AS (PARTITION BY part, key, kind),
         ord AS (PARTITION BY part, key, kind
                 ORDER BY try_cast(bin AS DOUBLE) ASC NULLS LAST, bin
                 ROWS UNBOUNDED PRECEDING)
)
SELECT part AS window_start, key, kind,
       round(sum((p - q) * ln(p / q)), 6) AS psi,
       round(max(abs(cdf_p - cdf_q)), 6) AS ks_d
FROM probs GROUP BY 1, 2, 3
"""


_SQL_DRIFT_METRICS = """
WITH hist AS (
  SELECT event_type AS part, 'value' AS key, 'bucket' AS kind,
         CAST(CAST(floor("value" / 5.0) * 5.0 AS BIGINT) AS VARCHAR) AS bin,
         count(*) AS c
  FROM events GROUP BY 1, 4
),
base AS (SELECT key, kind, bin, CAST(sum(c) AS BIGINT) AS cq FROM hist GROUP BY 1, 2, 3),
parts AS (SELECT DISTINCT part, key, kind FROM hist),
bins AS (SELECT DISTINCT key, kind, bin FROM hist),
grid AS (SELECT p.part, b.key, b.kind, b.bin FROM parts p JOIN bins b USING (key, kind)),
j AS (
  SELECT g.part, g.key, g.kind, g.bin,
         coalesce(h.c, 0) AS c_p, coalesce(q.cq, 0) AS c_q
  FROM grid g
  LEFT JOIN hist h ON h.part = g.part AND h.bin = g.bin
  LEFT JOIN base q ON q.bin = g.bin
),
probs AS (
  SELECT part, key, kind, bin, c_p, c_q,
    greatest(c_p / greatest(CAST(sum(c_p) OVER w AS BIGINT), 1), 1e-4) AS p,
    greatest(c_q / greatest(CAST(sum(c_q) OVER w AS BIGINT), 1), 1e-4) AS q,
    (CAST(sum(c_p) OVER ord AS BIGINT) * 1.0) / greatest(CAST(sum(c_p) OVER w AS BIGINT), 1) AS cdf_p,
    (CAST(sum(c_q) OVER ord AS BIGINT) * 1.0) / greatest(CAST(sum(c_q) OVER w AS BIGINT), 1) AS cdf_q
  FROM j
  WINDOW w AS (PARTITION BY part, key, kind),
         ord AS (PARTITION BY part, key, kind
                 ORDER BY try_cast(bin AS DOUBLE) ASC NULLS LAST, bin
                 ROWS UNBOUNDED PRECEDING)
)
SELECT part, key, kind,
       round(sum((p - q) * ln(p / q)), 6) AS psi,
       round(max(abs(cdf_p - cdf_q)), 6) AS ks_d
FROM probs GROUP BY 1, 2, 3
"""


def _q_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    return outliers.zscore_outliers(e, "value", "event_type", k=2.5)


_SQL_ZSCORE_OUTLIERS = """
WITH m AS (
  SELECT event_type AS p, avg("value") AS mean, stddev_pop("value") AS sd
  FROM events GROUP BY 1
)
SELECT event_id, event_type, "value",
       round(("value" - mean) / sd, 6) AS z
FROM events JOIN m ON event_type = m.p
WHERE sd > 0 AND abs("value" - mean) > 2.5 * sd
"""


def _q_rare_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    cfg = profiler.ProfileConfig(part_col="event_type", bucket_hist_cols={"value": 5.0})
    hist = profiler.profile_histograms(e, cfg)
    return outliers.rare_values(hist, eps=0.005, min_total=100)


_SQL_RARE_VALUES = """
WITH hist AS (
  SELECT event_type AS part, 'value' AS key,
         CAST(CAST(floor("value" / 5.0) * 5.0 AS BIGINT) AS VARCHAR) AS bin,
         count(*) AS count
  FROM events GROUP BY 1, 3
),
tot AS (SELECT part, key, CAST(sum(count) AS BIGINT) AS t FROM hist GROUP BY 1, 2)
SELECT h.part, h.key, h.bin AS value, h.count,
       round(h.count * 1.0 / t, 6) AS share
FROM hist h JOIN tot USING (part, key)
WHERE t >= 100 AND h.count * 1.0 / t < 0.005
"""


def _q_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return dedup.exact_dup_groups(d, "doc_id", "text")


_SQL_EXACT_DUP_GROUPS = """
SELECT md5(text) AS content_hash, count(*) AS n_dups, min(doc_id) AS keeper_id
FROM documents GROUP BY 1
"""


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # max_df="auto" (default): hot-shingle guard ON in the contract query
    # — the unguarded inverted-index self-join is quadratic in a stopword
    # shingle's document frequency (see test_dedup_similarity skew test)
    d = _t(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.2)


# twin of auto_max_df(count(documents)): greatest(5, floor(0.01 * n))
# shared CTE body so the pair query and the clustering query can never
# diverge on pair semantics
_NGRAM_CTES = """toks AS (
  SELECT doc_id AS id,
         list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS tk
  FROM documents
),
shing AS (
  SELECT id, CASE WHEN len(tk) >= 3
                  THEN list_transform(range(1, len(tk) - 1),
                                      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
                  ELSE CAST([] AS VARCHAR[]) END AS shingles
  FROM toks
),
sh0 AS (SELECT DISTINCT id, unnest(shingles) AS shingle FROM shing),
guard AS (SELECT greatest(5, CAST(floor(0.01 * count(*)) AS BIGINT)) AS mx
          FROM documents),
rare AS (SELECT shingle FROM sh0 CROSS JOIN guard
         GROUP BY shingle, mx HAVING count(*) <= mx),
sh AS (SELECT sh0.id, sh0.shingle FROM sh0 JOIN rare USING (shingle)),
sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
common AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2
),
jpairs AS (
  SELECT id_a, id_b, round(jac, 6) AS jaccard FROM (
    SELECT c.id_a, c.id_b,
           c.n_common * 1.0 / (sa.n_sh + sb.n_sh - c.n_common) AS jac
    FROM common c
    JOIN sizes sa ON sa.id = c.id_a
    JOIN sizes sb ON sb.id = c.id_b
  ) WHERE jac >= 0.2
)"""

_SQL_NGRAM_JACCARD = f"""
WITH {_NGRAM_CTES}
SELECT id_a, id_b, jaccard FROM jpairs
"""

# connected components over the jaccard pairs: recursive reachability
# (set-semantics UNION terminates on cycles), component id = min
# reachable node — the oracle twin of the large-star/small-star
# algorithm in operators/components.py
_SQL_DUP_CLUSTERS = f"""
WITH RECURSIVE {_NGRAM_CTES},
edges AS (
  SELECT id_a AS u, id_b AS v FROM jpairs
  UNION
  SELECT id_b AS u, id_a AS v FROM jpairs
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON e.u = r.v
),
comp AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id
         FROM reach GROUP BY u)
SELECT doc_id, cluster_id,
       CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
FROM comp
"""


def _q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering (operators/components.py): connected
    components over the ngram-Jaccard pair list via alternating
    large-star/small-star; cluster id = min member (the keeper)."""
    from nadeefiler_spark.operators import components

    d = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.2)
    return components.dup_clusters(pairs).select(
        F.col("id").alias("doc_id"),
        "cluster_id",
        F.col("cluster_size").cast("bigint").alias("cluster_size"),
    )


def _q_expectation_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative expectation suite (expectations.verify): eight
    dataset-contract checks over orders, grouped by o_orderstatus —
    the per-partition pass/fail verdict shape of the north rule,
    compiled to ONE aggregate scan (every check is an aggregate
    expression in the same groupBy().agg(); the verdict table is
    unpivoted JVM-side via inline_outer). max_at_most(400k) is
    deliberately violated so the failing path is oracle-covered."""
    from nadeefiler_spark import expectations as E

    o = _t(spark, sf_dir, "orders")
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    suite = [
        E.size_between(1000),
        E.completeness("o_custkey", 1.0),
        E.uniqueness("o_orderkey", 1.0),
        E.mean_between("o_totalprice", 200000.0, 300000.0),
        E.min_at_least("o_totalprice", 0.0),
        E.max_at_most("o_totalprice", 400000.0),
        E.values_in("o_orderpriority", prios, 1.0),
        E.matches_regex("o_orderpriority", "^[1-5]-[A-Z ]+$", 1.0),
    ]
    out = E.verify(o, suite, by=["o_orderstatus"])
    return out.select(
        "o_orderstatus", "check", "column",
        F.round("value", 6).alias("value"), "lo", "hi", "passed",
    )


# Twin: one grouped aggregate CTE, one UNION ALL arm per check — the
# same unpivot the Spark side does with inline_outer. Bounds mirror
# the suite literally; +-infinity doubles keep single-sided checks on
# the shared between() path.
_SQL_EXPECTATION_SUITE = """
WITH m AS (
  SELECT o_orderstatus,
    CAST(count(*) AS DOUBLE) AS m_size,
    avg(CASE WHEN o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS m_compl,
    count(DISTINCT o_orderkey) * 1.0
      / greatest(count(o_orderkey), 1) AS m_uniq,
    avg(o_totalprice) AS m_mean,
    CAST(min(o_totalprice) AS DOUBLE) AS m_min,
    CAST(max(o_totalprice) AS DOUBLE) AS m_max,
    avg(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH','3-MEDIUM',
      '4-NOT SPECIFIED','5-LOW') THEN 1 ELSE 0 END) AS m_in,
    avg(CASE WHEN o_orderpriority IS NOT NULL AND
      regexp_matches(o_orderpriority, '^[1-5]-[A-Z ]+$')
      THEN 1 ELSE 0 END) AS m_re
  FROM orders GROUP BY 1
),
inf AS (SELECT CAST('infinity' AS DOUBLE) AS p, CAST('-infinity' AS DOUBLE) AS n)
SELECT o_orderstatus, 'size' AS "check", '*' AS "column",
       round(m_size, 6) AS value, 1000.0 AS lo, inf.p AS hi,
       coalesce(m_size >= 1000.0 AND m_size <= inf.p, false) AS passed
FROM m, inf
UNION ALL
SELECT o_orderstatus, 'completeness(o_custkey)', 'o_custkey',
       round(m_compl, 6), 1.0, inf.p,
       coalesce(m_compl >= 1.0 AND m_compl <= inf.p, false) FROM m, inf
UNION ALL
SELECT o_orderstatus, 'uniqueness(o_orderkey)', 'o_orderkey',
       round(m_uniq, 6), 1.0, inf.p,
       coalesce(m_uniq >= 1.0 AND m_uniq <= inf.p, false) FROM m, inf
UNION ALL
SELECT o_orderstatus, 'mean(o_totalprice)', 'o_totalprice',
       round(m_mean, 6), 200000.0, 300000.0,
       coalesce(m_mean >= 200000.0 AND m_mean <= 300000.0, false) FROM m, inf
UNION ALL
SELECT o_orderstatus, 'min(o_totalprice)', 'o_totalprice',
       round(m_min, 6), 0.0, inf.p,
       coalesce(m_min >= 0.0 AND m_min <= inf.p, false) FROM m, inf
UNION ALL
SELECT o_orderstatus, 'max(o_totalprice)', 'o_totalprice',
       round(m_max, 6), inf.n, 400000.0,
       coalesce(m_max >= inf.n AND m_max <= 400000.0, false) FROM m, inf
UNION ALL
SELECT o_orderstatus, 'values_in(o_orderpriority)', 'o_orderpriority',
       round(m_in, 6), 1.0, inf.p,
       coalesce(m_in >= 1.0 AND m_in <= inf.p, false) FROM m, inf
UNION ALL
SELECT o_orderstatus, 'matches(o_orderpriority)', 'o_orderpriority',
       round(m_re, 6), 1.0, inf.p,
       coalesce(m_re >= 1.0 AND m_re <= inf.p, false) FROM m, inf
"""


def _q_windowed_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous expectation monitoring, batch twin
    (streaming.windowed_expectations — the identical plan streams in
    append mode with a watermark): the declarative suite evaluated per
    event-time hour over events. Bounds are deliberately tight enough
    that verdicts MIX per window (size >= 10, mean in [20, 80],
    max <= 400) — both branches of every check are oracle-covered."""
    from nadeefiler_spark import expectations as E
    from nadeefiler_spark.streaming import windowed_expectations

    ev = _t(spark, sf_dir, "events")
    suite = [
        E.size_between(10),
        E.completeness("value", 1.0),
        E.mean_between("value", 20.0, 80.0),
        E.max_at_most("value", 400.0),
        E.values_in(
            "event_type", ["view", "click", "signup", "purchase", "error"], 1.0
        ),
    ]
    out = windowed_expectations(ev, suite, ts_col="ts", window="1 hour")
    return out.select(
        "window_start", "window_end", "check", "column",
        F.round("value", 6).alias("value"), "lo", "hi", "passed",
    )


_SQL_WINDOWED_EXPECTATIONS = """
WITH m AS (
  SELECT date_trunc('hour', ts) AS ws,
    CAST(count(*) AS DOUBLE) AS m_size,
    avg(CASE WHEN value IS NOT NULL THEN 1 ELSE 0 END) AS m_compl,
    avg(value) AS m_mean,
    CAST(max(value) AS DOUBLE) AS m_max,
    avg(CASE WHEN event_type IN ('view','click','signup','purchase',
      'error') THEN 1 ELSE 0 END) AS m_in
  FROM events GROUP BY 1
),
inf AS (SELECT CAST('infinity' AS DOUBLE) AS p, CAST('-infinity' AS DOUBLE) AS n)
SELECT ws AS window_start, ws + INTERVAL 1 HOUR AS window_end,
       'size' AS "check", '*' AS "column",
       round(m_size, 6) AS value, 10.0 AS lo, inf.p AS hi,
       coalesce(m_size >= 10.0 AND m_size <= inf.p, false) AS passed
FROM m, inf
UNION ALL
SELECT ws, ws + INTERVAL 1 HOUR, 'completeness(value)', 'value',
       round(m_compl, 6), 1.0, inf.p,
       coalesce(m_compl >= 1.0 AND m_compl <= inf.p, false) FROM m, inf
UNION ALL
SELECT ws, ws + INTERVAL 1 HOUR, 'mean(value)', 'value',
       round(m_mean, 6), 20.0, 80.0,
       coalesce(m_mean >= 20.0 AND m_mean <= 80.0, false) FROM m, inf
UNION ALL
SELECT ws, ws + INTERVAL 1 HOUR, 'max(value)', 'value',
       round(m_max, 6), inf.n, 400.0,
       coalesce(m_max >= inf.n AND m_max <= 400.0, false) FROM m, inf
UNION ALL
SELECT ws, ws + INTERVAL 1 HOUR, 'values_in(event_type)', 'event_type',
       round(m_in, 6), 1.0, inf.p,
       coalesce(m_in >= 1.0 AND m_in <= inf.p, false) FROM m, inf
"""


def _q_dup_label_conflicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Annotation-consistency over near-dup pairs
    (operators/consistency.pair_attr_conflicts): the ngram-Jaccard pair
    list annotated with lang/source agreement flags — near-identical
    documents tagged with two different languages are probable labeling
    errors, the cross-row check the reference's per-document profilers
    cannot see (verdict-row shape per profilers/worker.js:84-100). The
    pair list is tiny vs the corpus, so AQE broadcasts it into the two
    attribute joins — no extra shuffle of the base table."""
    from nadeefiler_spark.operators import consistency

    d = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.2)
    return consistency.pair_attr_conflicts(
        pairs, d, "doc_id", ["lang", "source"]
    )


# Twin: jpairs (the shared ngram CTE body) joined back to documents on
# each side; IS NOT DISTINCT FROM mirrors eqNullSafe (never-NULL
# booleans — the oracle hash compare chokes on nullable bools).
_SQL_DUP_LABEL_CONFLICTS = f"""
WITH {_NGRAM_CTES}
SELECT j.id_a, j.id_b, j.jaccard,
       da.lang AS lang_a, db.lang AS lang_b,
       da.source AS source_a, db.source AS source_b,
       (da.lang IS NOT DISTINCT FROM db.lang) AS lang_match,
       (da.source IS NOT DISTINCT FROM db.source) AS source_match
FROM jpairs j
LEFT JOIN documents da ON da.doc_id = j.id_a
LEFT JOIN documents db ON db.doc_id = j.id_b
"""


def _q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental admission (operators/incremental.py): classify a new
    batch against the existing corpus — the steady-state dedup shape of
    a training pipeline. The batch is derived deterministically from the
    corpus so every disposition is exercised: doc_id%12==0 rows re-enter
    verbatim (exact_corpus), %12==4 rows carry three appended tokens
    (near_corpus), %12==8 rows become batch-only filler emitted twice
    (the min-id keeper accepts; the copy is exact_batch). NULLs of the
    accept rows are coalesced to -1 here in the contract projection only
    (NULL-free oracle compare); the library returns real NULLs."""
    from nadeefiler_spark.operators import incremental

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    base = d.where(F.col("doc_id") % 4 == 0)
    filler = F.concat(
        F.lit("batch-only filler text "), F.col("doc_id").cast("string")
    )
    batch = base.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.when(F.col("doc_id") % 12 == 0, F.col("text"))
        .when(F.col("doc_id") % 12 == 4, F.concat(F.col("text"), F.lit(" zz qx vv")))
        .otherwise(filler)
        .alias("text"),
    ).unionByName(
        base.where(F.col("doc_id") % 12 == 8).select(
            (F.col("doc_id") + 2000000).alias("doc_id"), filler.alias("text")
        )
    )
    out = incremental.incremental_dedup(
        d, batch, "doc_id", "text", n=3, threshold=0.5
    )
    return out.select(
        F.col("id").alias("doc_id"),
        "disposition",
        F.coalesce("match_id", F.lit(-1)).alias("match_id"),
        F.round(F.coalesce("similarity", F.lit(-1.0)), 6).alias("similarity"),
    )


# Twin of incremental.incremental_dedup over the same derived batch:
# exact tier on md5 digests, near tier = the _NGRAM_CTES shingle/guard
# semantics rebuilt batch-vs-corpus (guard df measured on the CORPUS).
_SQL_INCREMENTAL_DEDUP = """
WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0),
batch AS (
  SELECT doc_id + 1000000 AS doc_id,
         CASE WHEN doc_id % 12 = 0 THEN text
              WHEN doc_id % 12 = 4 THEN text || ' zz qx vv'
              ELSE 'batch-only filler text ' || CAST(doc_id AS VARCHAR)
         END AS text
  FROM base
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id,
         'batch-only filler text ' || CAST(doc_id AS VARCHAR) AS text
  FROM base WHERE doc_id % 12 = 8
),
bd AS (SELECT doc_id, text, md5(text) AS digest FROM batch),
cd AS (SELECT doc_id AS cid, md5(text) AS digest FROM documents),
ec AS (SELECT digest, min(cid) AS match_id
       FROM cd WHERE digest IN (SELECT digest FROM bd) GROUP BY 1),
rem1 AS (SELECT * FROM bd WHERE digest NOT IN (SELECT digest FROM ec)),
keep AS (SELECT digest, min(doc_id) AS keeper_id FROM rem1 GROUP BY 1),
rem2 AS (SELECT r.doc_id, r.text FROM rem1 r JOIN keep k USING (digest)
         WHERE r.doc_id = k.keeper_id),
btoks AS (SELECT doc_id,
                 list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS tk
          FROM rem2),
bsh AS (SELECT DISTINCT doc_id, unnest(
          CASE WHEN len(tk) >= 3
               THEN list_transform(range(1, len(tk) - 1),
                                   i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
               ELSE CAST([] AS VARCHAR[]) END) AS shingle
        FROM btoks),
ctoks AS (SELECT doc_id AS cid,
                 list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS tk
          FROM documents),
csh AS (SELECT DISTINCT cid, unnest(
          CASE WHEN len(tk) >= 3
               THEN list_transform(range(1, len(tk) - 1),
                                   i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
               ELSE CAST([] AS VARCHAR[]) END) AS shingle
        FROM ctoks),
guard AS (SELECT greatest(5, CAST(floor(0.01 * count(*)) AS BIGINT)) AS mx
          FROM documents),
hot AS (SELECT shingle FROM csh CROSS JOIN guard
        GROUP BY shingle, mx HAVING count(*) > mx),
csr AS (SELECT * FROM csh WHERE shingle NOT IN (SELECT shingle FROM hot)),
bsr AS (SELECT * FROM bsh WHERE shingle NOT IN (SELECT shingle FROM hot)),
sc AS (SELECT cid, count(*) AS n_c FROM csr GROUP BY 1),
sb AS (SELECT doc_id, count(*) AS n_b FROM bsr GROUP BY 1),
common AS (SELECT b.doc_id, c.cid, count(*) AS n_common
           FROM bsr b JOIN csr c USING (shingle) GROUP BY 1, 2),
jac AS (SELECT m.doc_id, m.cid,
               m.n_common * 1.0 / (sb.n_b + sc.n_c - m.n_common) AS j
        FROM common m JOIN sb USING (doc_id) JOIN sc USING (cid)
        WHERE m.n_common * 1.0 / (sb.n_b + sc.n_c - m.n_common) >= 0.5),
near AS (SELECT doc_id, cid AS match_id, j FROM (
           SELECT doc_id, cid, j,
                  row_number() OVER (PARTITION BY doc_id
                                     ORDER BY j DESC, cid ASC) AS rk
           FROM jac) WHERE rk = 1),
sel AS (
  SELECT bd.doc_id AS doc_id, 'exact_corpus' AS disposition,
         ec.match_id AS match_id, CAST(1.0 AS DOUBLE) AS similarity
  FROM bd JOIN ec USING (digest)
  UNION ALL
  SELECT r.doc_id, 'exact_batch', k.keeper_id, CAST(1.0 AS DOUBLE)
  FROM rem1 r JOIN keep k USING (digest) WHERE r.doc_id <> k.keeper_id
  UNION ALL
  SELECT doc_id, 'near_corpus', match_id, CAST(j AS DOUBLE) FROM near
  UNION ALL
  SELECT doc_id, 'accept', CAST(-1 AS BIGINT), CAST(-1.0 AS DOUBLE)
  FROM rem2 WHERE doc_id NOT IN (SELECT doc_id FROM near)
)
SELECT doc_id, disposition, match_id, round(similarity, 6) AS similarity
FROM sel
"""


def _q_golden_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship election (components.golden_records): per near-dup
    cluster, the longest document (n_chars, ties to smallest id) wins;
    every member carries its keeper in a redirect map — the
    record-linkage step after clustering."""
    from nadeefiler_spark.operators import components

    d = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.2)
    return components.golden_records(d, "doc_id", pairs, "n_chars")


_SQL_GOLDEN_RECORDS = f"""
WITH RECURSIVE {_NGRAM_CTES},
edges AS (
  SELECT id_a AS u, id_b AS v FROM jpairs
  UNION
  SELECT id_b AS u, id_a AS v FROM jpairs
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON e.u = r.v
),
comp AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id
         FROM reach GROUP BY u),
m AS (
  SELECT c.doc_id, c.cluster_id, d.n_chars AS q
  FROM comp c JOIN documents d ON d.doc_id = c.doc_id
),
r AS (
  SELECT doc_id, cluster_id, q,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY q DESC NULLS LAST, doc_id ASC) AS rk,
         count(*) OVER (PARTITION BY cluster_id) AS sz
  FROM m
),
k AS (SELECT cluster_id, doc_id AS keeper_id FROM r WHERE rk = 1)
SELECT r.cluster_id, r.doc_id AS id, k.keeper_id,
       r.doc_id = k.keeper_id AS is_keeper,
       CAST(r.sz AS BIGINT) AS cluster_size
FROM r JOIN k ON r.cluster_id = k.cluster_id
"""


def _q_windowed_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous corpus-quality monitor, batch twin
    (streaming.windowed_text_quality — same plan runs streaming with a
    watermark): hourly windows over documents with synthesized arrival
    times (doc_id × 7 min) and planted PII on every 7th doc."""
    from nadeefiler_spark.streaming import windowed_text_quality

    d = _t(spark, sf_dir, "documents").select(
        F.timestamp_seconds(
            F.lit(1704067200) + F.col("doc_id") * 420
        ).alias("ts"),
        F.concat(
            F.coalesce("text", F.lit("")),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" reach user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
        ).alias("body"),
    )
    return windowed_text_quality(d, "ts", "body")


_SQL_WINDOWED_TEXT_QUALITY = r"""
WITH d AS (
  SELECT TIMESTAMP '2024-01-01 00:00:00'
           + CAST(doc_id * 420 AS BIGINT) * INTERVAL 1 SECOND AS ts,
         coalesce(text, '')
         || CASE WHEN doc_id % 7 = 0
                 THEN ' reach user' || CAST(doc_id AS VARCHAR) || '@example.com'
                 ELSE '' END AS body
  FROM documents
), m AS (
  SELECT date_trunc('hour', ts) AS ws, body,
         list_filter(string_split_regex(body, '\s+'), t -> t <> '') AS toks,
         length(regexp_replace(body, '[^\.,;:!\?]', '', 'g')) * 1.0
           / greatest(length(body), 1) AS praw,
         (len(regexp_extract_all(body,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) > 0
          OR len(regexp_extract_all(body, '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b')) > 0
          OR len(regexp_extract_all(body, '\+[0-9][0-9 ()-]{7,}[0-9]')) > 0
          OR len(regexp_extract_all(body,
            '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) > 0
          OR len(regexp_extract_all(body, '\b[0-9]{13,16}\b')) > 0) AS flag
  FROM d
), q AS (
  SELECT ws, flag, len(toks) AS ntok, length(body) AS n_chars, praw,
         CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
           / greatest(len(toks), 1) AS mwl
  FROM m
)
SELECT ws AS window_start, ws + INTERVAL 1 HOUR AS window_end,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN flag THEN 1 ELSE 0 END) AS BIGINT) AS pii_docs,
       round(CAST(sum(CAST(round(
         0.4 * (CASE WHEN n_chars BETWEEN 50 AND 20000 THEN 1.0 ELSE 0.0 END)
         + 0.3 * (CASE WHEN mwl >= 3.0 AND mwl <= 12.0 THEN 1.0 ELSE 0.0 END)
         + 0.3 * (1.0 - least(praw * 5.0, 1.0)), 6) AS DECIMAL(30,8)))
         AS DOUBLE) / nullif(count(n_chars), 0), 6) AS avg_quality,
       round(avg(CAST(ntok AS DOUBLE)), 6) AS avg_tokens
FROM q GROUP BY ws
"""


def _q_embedding_qc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-column quality gate (profiler.embedding_qc): per
    label, dimension consistency + zero-norm + non-finite counts, with
    violations planted on vec_id residues (truncated dim on %37, zero
    vector on %41, NaN vector on %43, NULL on %47)."""
    from nadeefiler_spark.profiler import embedding_qc

    e = _t(spark, sf_dir, "embeddings").select(
        "label",
        F.when(
            F.col("vec_id") % 37 == 0,
            F.slice("embedding", 1, F.size("embedding") - 1),
        )
        .when(
            F.col("vec_id") % 41 == 0,
            F.transform(
                "embedding", lambda x: F.lit(0.0).cast("float")
            ),
        )
        .when(
            F.col("vec_id") % 43 == 0,
            F.transform(
                "embedding", lambda x: F.lit(float("nan")).cast("float")
            ),
        )
        .when(F.col("vec_id") % 47 == 0, F.lit(None).cast("array<float>"))
        .otherwise(F.col("embedding"))
        .alias("v"),
    )
    return embedding_qc(e, "v", group_col="label")


_SQL_EMBEDDING_QC = """
WITH v AS (
  SELECT label,
         CASE WHEN vec_id % 37 = 0 THEN embedding[1:len(embedding)-1]
              WHEN vec_id % 41 = 0
                THEN list_transform(embedding, x -> CAST(0.0 AS FLOAT))
              WHEN vec_id % 43 = 0
                THEN list_transform(embedding, x -> CAST('NaN' AS FLOAT))
              WHEN vec_id % 47 = 0 THEN NULL
              ELSE embedding END AS emb
  FROM embeddings
), r AS (
  SELECT label, emb IS NULL AS is_null, len(emb) AS d,
         CASE WHEN emb IS NULL THEN NULL
              ELSE coalesce(list_max(list_transform(emb,
                     x -> CASE WHEN isnan(x) OR NOT isfinite(x)
                               THEN 1 ELSE 0 END)), 0) = 1 END AS bad,
         CASE WHEN emb IS NULL THEN NULL
              ELSE coalesce(list_sum(list_transform(emb,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 0.0)
                   = 0.0 END AS zero
  FROM v
), s AS (
  SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
         CAST(sum(CASE WHEN is_null THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
         CAST(coalesce(sum(CASE WHEN zero THEN 1 ELSE 0 END), 0) AS BIGINT)
           AS zero_norm_vecs,
         CAST(coalesce(sum(CASE WHEN bad THEN 1 ELSE 0 END), 0) AS BIGINT)
           AS nonfinite_vecs
  FROM r GROUP BY label
), c AS (
  SELECT label, d, count(*) AS cnt FROM r WHERE NOT is_null GROUP BY 1, 2
), m AS (
  SELECT label, d, cnt,
         first_value(d) OVER (PARTITION BY label
                              ORDER BY cnt DESC, d ASC) AS dim_mode
  FROM c
), dv AS (
  SELECT label, CAST(max(dim_mode) AS INTEGER) AS dim_mode,
         CAST(coalesce(sum(CASE WHEN d <> dim_mode THEN cnt END), 0)
              AS BIGINT) AS dim_violations
  FROM m GROUP BY label
)
SELECT s.label, s.n_vecs, s.n_null, dv.dim_mode, dv.dim_violations,
       s.zero_norm_vecs, s.nonfinite_vecs,
       dv.dim_violations = 0 AND s.zero_norm_vecs = 0
         AND s.nonfinite_vecs = 0 AS holds
FROM s JOIN dv USING (label)
"""


def _q_lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID audit (functions.text.lang_id): detected-vs-declared
    agreement matrix over documents — marker-word voting with the
    deterministic en,de,fr,es tie cascade, mirrored exactly in the
    DuckDB oracle via list_intersect."""
    from nadeefiler_spark.functions.text import lang_id

    d = _t(spark, sf_dir, "documents")
    return (
        d.select("lang", lang_id("text").alias("detected"))
        .groupBy("lang", "detected")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _sql_lang_profile() -> str:
    from nadeefiler_spark.functions.text import LANG_MARKERS

    hit_exprs = []
    for lang, words in LANG_MARKERS.items():
        lst = ", ".join(f"'{w}'" for w in words)
        hit_exprs.append(
            f"len(list_intersect(toks, [{lst}])) AS h_{lang}"
        )
    langs = list(LANG_MARKERS)
    g = "greatest(" + ", ".join(f"h_{x}" for x in langs) + ")"
    cascade = " ".join(
        f"WHEN h_{x} = {g} THEN '{x}'" for x in langs
    )
    return f"""
    WITH t AS (
      SELECT lang,
             list_distinct(list_filter(
               string_split_regex(lower(text), '\\s+'), x -> x <> ''
             )) AS toks
      FROM documents
    ), h AS (
      SELECT lang, {', '.join(hit_exprs)} FROM t
    ), d AS (
      SELECT lang,
             CASE WHEN {g} <= 0 THEN 'und' {cascade} ELSE 'und' END
               AS detected
      FROM h
    )
    SELECT lang, detected, CAST(count(*) AS BIGINT) AS n
    FROM d GROUP BY 1, 2
    """


def _q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus dedup end-to-end (components.near_dedup): drop every
    non-keeper member of every near-dup cluster; survivors = corpus
    minus victims via ONE left-anti broadcast join — the corpus is
    never shuffled."""
    from nadeefiler_spark.operators import components

    d = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.2)
    return components.near_dedup(d, "doc_id", pairs).select("doc_id")


_SQL_DEDUP_SURVIVORS = f"""
WITH RECURSIVE {_NGRAM_CTES},
edges AS (
  SELECT id_a AS u, id_b AS v FROM jpairs
  UNION
  SELECT id_b AS u, id_a AS v FROM jpairs
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON e.u = r.v
),
comp AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id
         FROM reach GROUP BY u)
SELECT d.doc_id FROM documents d
WHERE d.doc_id NOT IN (
  SELECT doc_id FROM comp WHERE doc_id <> cluster_id
)
"""


def _q_redacted_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction end-to-end (functions.pii.redact): the planted-PII
    corpus from pii_scan, redacted; output is (doc_id, md5 of the
    redacted text) so the oracle (same regexp_replace chain in DuckDB —
    shared Java∩RE2 patterns) pins every byte."""
    from nadeefiler_spark.functions.pii import redact

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.coalesce("text", F.lit("")),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" reach user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 13 == 0, F.lit(" ssn 123-45-6789"))
            .otherwise(F.lit("")),
            F.when(F.col("doc_id") % 17 == 0, F.lit(" call +1 (415) 555-0199"))
            .otherwise(F.lit("")),
        ).alias("body"),
    )
    return d.select(
        "doc_id", F.md5(F.encode(redact(F.col("body")), "UTF-8")).alias("digest")
    )


_SQL_REDACTED_DOCS = r"""
WITH d AS (
  SELECT doc_id,
         coalesce(text, '')
         || CASE WHEN doc_id % 7 = 0
                 THEN ' reach user' || CAST(doc_id AS VARCHAR) || '@example.com'
                 ELSE '' END
         || CASE WHEN doc_id % 13 = 0 THEN ' ssn 123-45-6789' ELSE '' END
         || CASE WHEN doc_id % 17 = 0 THEN ' call +1 (415) 555-0199' ELSE '' END
           AS body
  FROM documents
)
SELECT doc_id,
       md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         regexp_replace(body,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '<SSN>', 'g'),
           '\+[0-9][0-9 ()-]{7,}[0-9]', '<PHONE>', 'g'),
           '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IPV4>', 'g'),
           '\b[0-9]{13,16}\b', '<CARD>', 'g')) AS digest
FROM d
"""


def _q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # no oracle: signatures use Spark's xxhash64 (not available in DuckDB);
    # recall vs ngram_jaccard is pytest-validated instead
    d = _t(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(d, "doc_id", "text", n=3, threshold=0.2)


def _q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # no oracle: xxhash64-based fingerprints
    d = _t(spark, sf_dir, "documents")
    return dedup.simhash_pairs(d, "doc_id", "text", max_hamming=3)


_EMB_THRESH = 0.45  # testdata embeddings are near-orthogonal (max pairwise
# cos ~0.51 at sf0.01); 0.45 yields a small nonzero pair set — a 0-row
# oracle match is a weak signal (round-1 used 0.8 -> 0 rows)

def _q_embedding_cosine_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    return dedup.embedding_cosine_pairs(e, "vec_id", "embedding", threshold=_EMB_THRESH)


_SQL_EMBEDDING_COSINE_DUPS = f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 6) AS cos
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                             CAST(b.embedding AS DOUBLE[])) >= {_EMB_THRESH}
"""


# blocked production path: 4 hash tables x 4 hyperplane sign bits,
# seeds _LSH_SEED+t — identical literals in Spark and DuckDB
_EMB_BITS, _EMB_TABLES = 4, 4


def _q_embedding_cosine_dups_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _embeddings_double(spark, sf_dir)
    return dedup.embedding_cosine_pairs_blocked(
        e, "vec_id", "embedding", threshold=_EMB_THRESH,
        bits=_EMB_BITS, tables=_EMB_TABLES, dim=_LSH_DIM, seed=_LSH_SEED,
    )


def _plane_bucket_sql(vec: str, planes: np.ndarray) -> str:
    terms = []
    for i, plane in enumerate(planes):
        lits = ", ".join(repr(float(x)) for x in plane)
        terms.append(
            f"CASE WHEN list_dot_product({vec}, [{lits}]) >= 0 THEN {1 << i} ELSE 0 END"
        )
    return "(" + " + ".join(terms) + ")"


def _sql_embedding_cosine_dups_blocked() -> str:
    selects = []
    for t in range(_EMB_TABLES):
        planes = np.random.default_rng(_LSH_SEED + t).standard_normal(
            (_EMB_BITS, _LSH_DIM)
        )
        bucket = _plane_bucket_sql("v", planes)
        selects.append(f"SELECT vec_id, v, {t} AS tbl, {bucket} AS bucket FROM e")
    banded = " UNION ALL ".join(selects)
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    b AS ({banded}),
    cand AS (
      SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
      FROM b x JOIN b y ON x.tbl = y.tbl AND x.bucket = y.bucket
                        AND x.vec_id < y.vec_id
    )
    SELECT id_a, id_b, round(list_cosine_similarity(ea.v, eb.v), 6) AS cos
    FROM cand JOIN e ea ON ea.vec_id = cand.id_a JOIN e eb ON eb.vec_id = cand.id_b
    WHERE list_cosine_similarity(ea.v, eb.v) >= {_EMB_THRESH}
    """


def _embeddings_double(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )


def _q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _embeddings_double(spark, sf_dir)
    q = e.where(F.col("vec_id") < 5)
    out = ann.brute_force_topk(e, q, id_col="vec_id", vec_col="embedding", k=5)
    return out.select(
        "query_id", "neighbor_id", "cos", F.col("rank").cast("bigint").alias("rank")
    )


_SQL_ANN_TOPK = """
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), qv), 6) AS cos
  FROM embeddings c CROSS JOIN q WHERE q.query_id <> c.vec_id
)
SELECT query_id, neighbor_id, cos, rank FROM (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
"""


def _q_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _embeddings_double(spark, sf_dir)
    q = e.where(F.col("vec_id") < 5)
    out = ann.lsh_topk(
        e, q, id_col="vec_id", vec_col="embedding", k=5,
        bits=_LSH_BITS, dim=_LSH_DIM, seed=_LSH_SEED,
    )
    return out.select(
        "query_id", "neighbor_id", "cos", F.col("rank").cast("bigint").alias("rank")
    )


def _sql_lsh_topk() -> str:
    bucket = _lsh_bucket_sql("CAST(embedding AS DOUBLE[])")
    return f"""
    WITH c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv,
                      {bucket} AS bucket
               FROM embeddings),
    q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv,
                 {bucket} AS bucket
          FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT q.query_id, c.neighbor_id,
             round(list_cosine_similarity(c.cv, q.qv), 6) AS cos
      FROM c JOIN q USING (bucket) WHERE q.query_id <> c.neighbor_id
    )
    SELECT query_id, neighbor_id, cos, rank FROM (
      SELECT query_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id ASC) AS rank
      FROM scored
    ) WHERE rank <= 5
    """


# IVF top-k: the coarse quantizer's centroids are FIXED corpus rows
# (vec_id < _IVF_CELLS) so the DuckDB twin reads the identical values
# from the same table — no float literals to drift. nprobe=2 cells.
_IVF_CELLS, _IVF_NPROBE = 16, 2


def _ivf_centroids(spark: SparkSession, sf_dir: str) -> list:
    rows = (
        _t(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < _IVF_CELLS)
        .orderBy("vec_id")
        .select(F.col("embedding").cast("array<double>").alias("v"))
        .collect()
    )
    return [r["v"] for r in rows]


def _q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _embeddings_double(spark, sf_dir)
    q = e.where(F.col("vec_id") < 5)
    out = ann.ivf_topk(
        e, q, _ivf_centroids(spark, sf_dir),
        id_col="vec_id", vec_col="embedding", k=5, nprobe=_IVF_NPROBE,
    )
    return out.select(
        "query_id", "neighbor_id", "cos", F.col("rank").cast("bigint").alias("rank")
    )


_SQL_IVF_TOPK = f"""
WITH cent AS (
  SELECT CAST(vec_id AS INT) AS cell, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings WHERE vec_id < {_IVF_CELLS}
),
c AS (
  SELECT neighbor_id, v, cell FROM (
    SELECT e.vec_id AS neighbor_id, CAST(e.embedding AS DOUBLE[]) AS v, cent.cell,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]), cent.cv), cent.cell
           ) AS rn
    FROM embeddings e CROSS JOIN cent
  ) WHERE rn = 1
),
qp AS (
  SELECT query_id, v AS qv, cell FROM (
    SELECT e.vec_id AS query_id, CAST(e.embedding AS DOUBLE[]) AS v, cent.cell,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]), cent.cv), cent.cell
           ) AS rn
    FROM embeddings e CROSS JOIN cent WHERE e.vec_id < 5
  ) WHERE rn <= {_IVF_NPROBE}
),
scored AS (
  SELECT qp.query_id, c.neighbor_id,
         round(list_cosine_similarity(c.v, qp.qv), 6) AS cos
  FROM c JOIN qp USING (cell) WHERE qp.query_id <> c.neighbor_id
)
SELECT query_id, neighbor_id, cos, rank FROM (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
"""


def _q_ivf_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-index variant: write the cell-partitioned IVF index to
    a temp dir, then search it with directory-level partition pruning.
    Must produce byte-identical results to ivf_topk (same oracle SQL)."""
    import os
    import tempfile

    e = _embeddings_double(spark, sf_dir)
    q = e.where(F.col("vec_id") < 5)
    cents = _ivf_centroids(spark, sf_dir)
    # deterministic per-sf path + overwrite: repeated bench/oracle runs
    # reuse the location instead of accumulating temp dirs
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(tempfile.gettempdir(), f"ndf_ivf_index_{tag}")
    ann.write_ivf_index(e, path, cents)
    out = ann.ivf_topk_indexed(
        spark, path, q, cents,
        id_col="vec_id", vec_col="embedding", k=5, nprobe=_IVF_NPROBE,
    )
    return out.select(
        "query_id", "neighbor_id", "cos", F.col("rank").cast("bigint").alias("rank")
    )


def _q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        tx.token_count("text").cast("bigint").alias("n_tokens"),
        tx.bpe_ish_token_count("text").cast("bigint").alias("n_bpe"),
        F.round(tx.punct_ratio("text"), 6).alias("punct_ratio"),
        F.round(tx.mean_word_len("text"), 6).alias("mean_wlen"),
        tx.quality_score("text").alias("quality"),
        tx.lang_id("text").alias("lang_guess"),
        tx.fingerprint("text").alias("fp"),
    )


def _sql_text_quality() -> str:
    markers = {
        lang: ", ".join(f"'{w}'" for w in words)
        for lang, words in tx.LANG_MARKERS.items()
    }
    hit = {
        lang: f"len(list_intersect(toks_d, [{words}]))"
        for lang, words in markers.items()
    }
    best = "greatest({}, {}, {}, {})".format(*hit.values())
    lang_case = (
        f"CASE WHEN {best} <= 0 THEN 'und' "
        + " ".join(f"WHEN {hit[lang]} = {best} THEN '{lang}'" for lang in tx.LANG_MARKERS)
        + " ELSE 'und' END"
    )
    return f"""
    WITH base AS (
      SELECT doc_id, text,
             list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS toks,
             list_distinct(list_filter(string_split_regex(lower(text), '\\s+'),
                                       t -> t <> '')) AS toks_d
      FROM documents
    ),
    m AS (
      SELECT doc_id, text, toks, toks_d,
             len(toks) AS n_tokens,
             len(regexp_extract_all(text, '{tx.BPE_ISH_REGEX}')) AS n_bpe,
             length(regexp_replace(text, '[^\\.,;:!\\?]', '', 'g')) * 1.0
               / greatest(length(text), 1) AS praw,
             CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
               / greatest(len(toks), 1) AS mwl
      FROM base
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_bpe AS BIGINT) AS n_bpe,
           round(praw, 6) AS punct_ratio,
           round(mwl, 6) AS mean_wlen,
           round(0.4 * (CASE WHEN length(text) BETWEEN 50 AND 20000 THEN 1.0 ELSE 0.0 END)
                 + 0.3 * (CASE WHEN mwl >= 3.0 AND mwl <= 12.0 THEN 1.0 ELSE 0.0 END)
                 + 0.3 * (1.0 - least(praw * 5.0, 1.0)), 6) AS quality,
           {lang_case} AS lang_guess,
           md5(array_to_string(list_sort(toks_d), ' ')) AS fp
    FROM m
    """


_CHUNK_SIZE, _CHUNK_OVERLAP = 64, 8


def _q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window chunking (functions.text.token_chunks): 64-token
    chunks, 8-token overlap, exploded to one row per chunk. Chunk text
    is md5'd so the contract rows stay small."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id",
            F.posexplode(tx.token_chunks("text", _CHUNK_SIZE, _CHUNK_OVERLAP))
            .alias("chunk_idx", "chunk"),
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
            F.md5("chunk").alias("chunk_md5"),
            tx.token_count(F.col("chunk")).cast("bigint").alias("n_tokens"),
        )
    )


def _sql_doc_chunks() -> str:
    sz, st = _CHUNK_SIZE, _CHUNK_SIZE - _CHUNK_OVERLAP
    return f"""
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS toks
      FROM documents
    ),
    s AS (
      SELECT doc_id, toks,
             CASE WHEN len(toks) <= {sz} THEN 1
                  ELSE (len(toks) - {sz})
                       + (({st} - ((len(toks) - {sz}) % {st})) % {st}) + 1
             END AS last
      FROM base WHERE len(toks) > 0
    ),
    x AS (
      SELECT doc_id, toks,
             unnest(generate_series(1, greatest(last, 1), {st})) AS st
      FROM s
    )
    SELECT doc_id,
           CAST((st - 1) // {st} AS BIGINT) AS chunk_idx,
           md5(array_to_string(list_slice(toks, st, st + {sz} - 1), ' ')) AS chunk_md5,
           CAST(len(list_slice(toks, st, st + {sz} - 1)) AS BIGINT) AS n_tokens
    FROM x
    """


def _q_curation_disposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed curation pipeline (operators/curate.py): language gate +
    quality gate + fingerprint exact-dedup, audited per document."""
    from nadeefiler_spark.operators.curate import curation_disposition

    d = _t(spark, sf_dir, "documents")
    return curation_disposition(
        d, id_col="doc_id", text_col="text", min_quality=0.7, langs=("en",)
    ).select(
        "doc_id", "quality",
        F.col("lang").alias("lang_guess"),  # table has a declared `lang`
        "disposition",
        F.col("dup_of").cast("bigint").alias("dup_of"),
    )


def _sql_curation_disposition() -> str:
    # built ON the text_quality oracle: same quality/lang/fp expressions
    return f"""
    WITH tq AS ({_sql_text_quality()}),
    keep AS (
      SELECT fp, min(doc_id) AS keeper_id
      FROM tq WHERE lang_guess IN ('en') AND quality >= 0.7
      GROUP BY fp
    )
    SELECT t.doc_id, t.quality, t.lang_guess,
           CASE WHEN t.lang_guess NOT IN ('en') THEN 'lang'
                WHEN t.quality < 0.7 THEN 'quality'
                WHEN k.keeper_id IS NOT NULL AND t.doc_id <> k.keeper_id
                  THEN 'duplicate'
                ELSE 'kept' END AS disposition,
           CAST(CASE WHEN t.lang_guess IN ('en') AND t.quality >= 0.7
                          AND t.doc_id <> k.keeper_id
                     THEN k.keeper_id END AS BIGINT) AS dup_of
    FROM tq t LEFT JOIN keep k USING (fp)
    """


_CONTAM_N = 5  # word-n-gram length for the contamination check


def _q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/decontam.py): corpus docs
    sharing 5-gram shingles with a deterministic "benchmark" subset
    (doc_id % 17 == 3) of the same table; self-pairs excluded since the
    benchmark is drawn from the corpus."""
    from nadeefiler_spark.operators import decontam

    d = _t(spark, sf_dir, "documents")
    bench = d.where(F.col("doc_id") % 17 == 3).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    return decontam.benchmark_contamination(
        d, bench, corpus_id="doc_id", bench_id="bench_id", n=_CONTAM_N
    ).where(F.col("doc_id") != F.col("bench_id"))


_SQL_CONTAMINATION = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS tk
  FROM documents
),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(CASE WHEN len(tk) >= {_CONTAM_N}
             THEN list_transform(range(1, len(tk) - {_CONTAM_N - 2}),
                                 i -> array_to_string(tk[i:i+{_CONTAM_N - 1}], ' '))
             ELSE CAST([] AS VARCHAR[]) END)) AS shingle
  FROM toks
),
bench AS (SELECT doc_id AS bench_id, shingle FROM sh WHERE doc_id % 17 = 3),
bsz AS (SELECT bench_id, count(*) AS n_bench_sh FROM bench GROUP BY 1),
hits AS (
  SELECT c.doc_id, b.bench_id, count(*) AS n_common
  FROM sh c JOIN bench b USING (shingle)
  WHERE c.doc_id <> b.bench_id
  GROUP BY 1, 2
)
SELECT h.doc_id, h.bench_id,
       CAST(h.n_common AS BIGINT) AS n_common,
       round(h.n_common * 1.0 / b.n_bench_sh, 6) AS frac_bench
FROM hits h JOIN bsz b USING (bench_id)
"""


# lang-stratified deterministic sample: fractions per stratum
_SAMPLE_FRACTIONS = {"en": 0.5, "de": 0.25, "fr": 0.1}
_SAMPLE_DEFAULT = 0.05


def _q_corpus_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified corpus sampling (operators/sample.py):
    portable integer-hash membership, per-lang fractions, pure scan-
    stage filter (no shuffle, no RNG state)."""
    from nadeefiler_spark.operators import sample as smp

    d = _t(spark, sf_dir, "documents")
    return smp.stratified_hash_sample(
        d, "doc_id", "lang", _SAMPLE_FRACTIONS, default_fraction=_SAMPLE_DEFAULT
    ).select("doc_id", "lang", "source")


def _sql_corpus_sample() -> str:
    from nadeefiler_spark.operators import sample as smp

    cases = " ".join(
        f"WHEN '{v}' THEN {smp.threshold(f)}"
        for v, f in sorted(_SAMPLE_FRACTIONS.items())
    )
    return f"""
    SELECT doc_id, lang, source FROM documents
    WHERE ((doc_id % 2147483648) * 2654435761 + 17) % 2147483648 <
          CASE lang {cases} ELSE {smp.threshold(_SAMPLE_DEFAULT)} END
    """


_N_SHARDS, _SHARD_SALT = 16, 29


def _q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard manifest (operators/shards.py): deterministic
    hash shard assignment, per-shard doc/token counts + additive
    membership checksum — the dataloader index a shard export emits."""
    from nadeefiler_spark.operators import shards

    d = _t(spark, sf_dir, "documents")
    return shards.shard_manifest(
        d, "doc_id", "text", n_shards=_N_SHARDS, salt=_SHARD_SALT
    )


def _sql_shard_manifest() -> str:
    return f"""
    WITH k AS (
      SELECT doc_id, text,
             ((doc_id % 2147483648) * 2654435761 + {_SHARD_SALT}) % 2147483648 AS key
      FROM documents
    )
    SELECT CAST(key % {_N_SHARDS} AS INT) AS shard_id,
           count(*) AS n_docs,
           CAST(sum(len(list_filter(string_split_regex(text, '\\s+'),
                                    t -> t <> ''))) AS BIGINT) AS n_tokens,
           CAST(sum(key % {2**20}) AS BIGINT) AS id_checksum
    FROM k GROUP BY 1
    """


def _q_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal binary plumbing: per-blob metadata (size, sniffed kind)
    via mapInPandas over the deterministic synthetic clips' audio bytes.
    No oracle: binary payloads don't exist in the DuckDB-visible tables.
    """
    from nadeefiler_spark.operators.multimodal import binary_meta

    _ensure_pkg_shipped(spark)
    cfg = datagen.GenConfig(n_rows=160)
    clips = _cached_clips(spark, cfg)
    return binary_meta(clips, "clip_id", "bytes").orderBy("id")


_FD_COLS = ("c_nationkey", "nk_bucket", "c_mktsegment")


def _q_fd_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FD discovery (the reference's fdminer cascade slot,
    profilers/config.js:10-20, stub fdminer/index.js:17-21): one
    holds-by-construction FD (c_nationkey -> nk_bucket) among failing
    pairs."""
    from nadeefiler_spark import fd

    c = _t(spark, sf_dir, "customer").select(
        "c_nationkey",
        (F.col("c_nationkey") % 5).cast("bigint").alias("nk_bucket"),
        "c_mktsegment",
    )
    return fd.mine_fds(c, list(_FD_COLS), max_ndv_frac=1.0)


def _sql_fd_mine() -> str:
    parts = []
    for x in _FD_COLS:
        for y in _FD_COLS:
            if y == x:
                continue
            parts.append(f"""
            SELECT '{x}' AS lhs, '{y}' AS rhs,
                   CAST(count(*) AS BIGINT) AS n_groups,
                   CAST(coalesce(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END), 0) AS BIGINT)
                     AS violating_groups,
                   coalesce(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END), 0) <= 0
                     AS holds
            FROM (SELECT {x}, count(DISTINCT {y}) AS nd FROM t GROUP BY 1)""")
    u = " UNION ALL ".join(parts)
    return f"""
    WITH t AS (SELECT c_nationkey, CAST(c_nationkey % 5 AS BIGINT) AS nk_bucket,
                      c_mktsegment FROM customer)
    {u}
    """


def _q_fd_mine_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition FD discovery (engine cascade stage grain,
    ValidationEngine.run_fd): ONE pass groups on (part, lhs) — no driver
    loop over partitions. c_nationkey -> nk_bucket holds inside every
    segment; the reverse fails wherever a bucket maps to >1 nation."""
    from nadeefiler_spark import fd

    c = _t(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("part"),
        "c_nationkey",
        (F.col("c_nationkey") % 5).cast("bigint").alias("nk_bucket"),
    )
    return fd.mine_fds(
        c, ["c_nationkey", "nk_bucket"], max_ndv_frac=1.0, part_col="part"
    )


def _sql_fd_mine_parts() -> str:
    cols = ("c_nationkey", "nk_bucket")
    parts = []
    for x in cols:
        for y in cols:
            if y == x:
                continue
            parts.append(f"""
            SELECT part, '{x}' AS lhs, '{y}' AS rhs,
                   CAST(count(*) AS BIGINT) AS n_groups,
                   CAST(coalesce(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END), 0) AS BIGINT)
                     AS violating_groups,
                   coalesce(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END), 0) <= 0
                     AS holds
            FROM (SELECT part, {x}, count(DISTINCT {y}) AS nd FROM t GROUP BY 1, 2)
            GROUP BY part""")
    u = " UNION ALL ".join(parts)
    return f"""
    WITH t AS (SELECT c_mktsegment AS part, c_nationkey,
                      CAST(c_nationkey % 5 AS BIGINT) AS nk_bucket FROM customer)
    {u}
    """


def _q_cfd_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constant-CFD discovery (fd.mine_constant_cfds — the NADEEF-family
    rule type the reference's fdminer slot reserves): per nation, the
    consensus market segment with support/confidence. The global FD
    c_nationkey → c_mktsegment fails everywhere; the tableau shows by
    how much, per condition."""
    from nadeefiler_spark import fd

    c = _t(spark, sf_dir, "customer")
    return fd.mine_constant_cfds(
        c, "c_nationkey", "c_mktsegment", min_support=2
    )


_SQL_CFD_MINE = """
WITH c AS (
  SELECT CAST(c_nationkey AS VARCHAR) AS lhs_value,
         CAST(c_mktsegment AS VARCHAR) AS rhs_value,
         count(*) AS cnt
  FROM customer GROUP BY 1, 2
), g AS (
  SELECT lhs_value, rhs_value, cnt,
         sum(cnt) OVER (PARTITION BY lhs_value) AS support,
         row_number() OVER (
           PARTITION BY lhs_value
           ORDER BY cnt DESC, rhs_value ASC NULLS LAST) AS rn
  FROM c
)
SELECT 'c_nationkey' AS lhs, lhs_value, 'c_mktsegment' AS rhs,
       rhs_value AS consensus,
       CAST(support AS BIGINT) AS support,
       CAST(support - cnt AS BIGINT) AS n_violations,
       round(cnt / support, 6) AS confidence,
       cnt / support >= 1.0 AS holds
FROM g WHERE rn = 1 AND support >= 2
"""


def _q_od_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-dependency check (od.check_order_dependencies): order date
    lexicographically orders its year-month (holds by construction) but
    not the customer key (interval overlap on nearly every adjacent
    day)."""
    from nadeefiler_spark import od

    o = _t(spark, sf_dir, "orders").select(
        "o_orderdate",
        F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
        "o_custkey",
    )
    return od.check_order_dependencies(
        o, [("o_orderdate", "ym"), ("o_orderdate", "o_custkey")]
    )


_SQL_OD_CHECK = """
WITH t AS (
  SELECT o_orderdate, strftime(o_orderdate, '%Y-%m') AS ym, o_custkey
  FROM orders
), g1 AS (
  SELECT o_orderdate, min(ym) AS mn, max(ym) AS mx
  FROM t GROUP BY 1
), h1 AS (
  SELECT mn, lag(mx) OVER (ORDER BY o_orderdate ASC NULLS LAST) AS prev_mx
  FROM g1
), r1 AS (
  SELECT CAST(count(*) AS BIGINT) AS n_groups,
         CAST(coalesce(sum(CASE WHEN prev_mx > mn THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS violating_pairs
  FROM h1
), g2 AS (
  SELECT o_orderdate, min(o_custkey) AS mn, max(o_custkey) AS mx
  FROM t GROUP BY 1
), h2 AS (
  SELECT mn, lag(mx) OVER (ORDER BY o_orderdate ASC NULLS LAST) AS prev_mx
  FROM g2
), r2 AS (
  SELECT CAST(count(*) AS BIGINT) AS n_groups,
         CAST(coalesce(sum(CASE WHEN prev_mx > mn THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS violating_pairs
  FROM h2
)
SELECT 'o_orderdate' AS on_col, 'ym' AS ordered_col,
       n_groups, violating_pairs, violating_pairs = 0 AS holds FROM r1
UNION ALL
SELECT 'o_orderdate' AS on_col, 'o_custkey' AS ordered_col,
       n_groups, violating_pairs, violating_pairs = 0 AS holds FROM r2
"""


def _q_mi_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-information profile (profiler.mutual_info — the
    categorical sibling of corr_profile): segment vs nation-bucket is
    near-independent (mi ≈ 0), nation → nation-bucket is a
    deterministic function (nmi = 1)."""
    from nadeefiler_spark.profiler import mutual_info

    c = _t(spark, sf_dir, "customer").select(
        "c_mktsegment",
        "c_nationkey",
        (F.col("c_nationkey") % 5).alias("nk_bucket"),
    )
    return mutual_info(
        c, [("c_mktsegment", "nk_bucket"), ("c_nationkey", "nk_bucket")]
    )


def _sql_mi_profile() -> str:
    parts = []
    for x, y in (("c_mktsegment", "nk_bucket"), ("c_nationkey", "nk_bucket")):
        parts.append(f"""
        SELECT '{x}' AS col_x, '{y}' AS col_y, n_rows, ndv_x, ndv_y,
               abs(round(h_x, 6)) AS h_x, abs(round(h_y, 6)) AS h_y,
               abs(round(mi, 6)) AS mi,
               abs(round(CASE WHEN least(h_x, h_y) > 0
                              THEN mi / least(h_x, h_y) END, 6)) AS nmi
        FROM (
          SELECT CAST(max(n) AS BIGINT) AS n_rows,
                 CAST(count(DISTINCT xv)
                      + max(CASE WHEN xv IS NULL THEN 1 ELSE 0 END)
                      AS BIGINT) AS ndv_x,
                 CAST(count(DISTINCT yv)
                      + max(CASE WHEN yv IS NULL THEN 1 ELSE 0 END)
                      AS BIGINT) AS ndv_y,
                 -sum((c / n) * ln(cx / n)) AS h_x,
                 -sum((c / n) * ln(cy / n)) AS h_y,
                 sum((c / n) * ln(c * n / (cx * cy))) AS mi
          FROM (
            SELECT xv, yv, c,
                   sum(c) OVER (PARTITION BY xv) AS cx,
                   sum(c) OVER (PARTITION BY yv) AS cy,
                   sum(c) OVER () AS n
            FROM (
              SELECT CAST({x} AS VARCHAR) AS xv, CAST({y} AS VARCHAR) AS yv,
                     count(*) AS c
              FROM t GROUP BY 1, 2
            )
          )
        )""")
    u = " UNION ALL ".join(parts)
    return f"""
    WITH t AS (SELECT c_mktsegment, c_nationkey,
                      c_nationkey % 5 AS nk_bucket FROM customer)
    {u}
    """


def _q_profile_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-over-run profile diff (drift.profile_diff — the structural
    half of drift, next to PSI/KS): orders ≤1995 profiled as the 'old'
    run (with o_orderstatus), >1995 as the 'new' run (without it) —
    exercising dropped columns, ndv/null-rate movement, and a
    standardized mean shift, all from profile tables only."""
    from nadeefiler_spark.drift import profile_diff
    from nadeefiler_spark.profiler import ProfileConfig, profile_summary

    o = _t(spark, sf_dir, "orders").withColumn("part", F.lit("*"))
    cfg = ProfileConfig(exact_ndv=True, part_col="part")
    old = profile_summary(
        o.where(F.year("o_orderdate") <= 1995).select(
            "part", "o_totalprice", "o_orderpriority", "o_orderstatus"
        ),
        cfg,
    )
    new = profile_summary(
        o.where(F.year("o_orderdate") > 1995).select(
            "part", "o_totalprice", "o_orderpriority"
        ),
        cfg,
    )
    return profile_diff(old, new)


_SQL_PROFILE_DIFF = """
WITH oldr AS (SELECT * FROM orders WHERE year(o_orderdate) <= 1995),
newr AS (SELECT * FROM orders WHERE year(o_orderdate) > 1995),
po AS (
  SELECT 'o_totalprice' AS key, count(*) AS n_rows,
         sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS n_nulls,
         count(DISTINCT o_totalprice) AS ndv,
         CAST(min(o_totalprice) AS VARCHAR) AS mn,
         CAST(max(o_totalprice) AS VARCHAR) AS mx,
         avg(o_totalprice) AS mean, stddev_pop(o_totalprice) AS sd
  FROM oldr
  UNION ALL
  SELECT 'o_orderpriority', count(*),
         sum(CASE WHEN o_orderpriority IS NULL OR o_orderpriority = ''
                  THEN 1 ELSE 0 END),
         count(DISTINCT o_orderpriority),
         min(o_orderpriority), max(o_orderpriority), NULL, NULL
  FROM oldr
  UNION ALL
  SELECT 'o_orderstatus', count(*),
         sum(CASE WHEN o_orderstatus IS NULL OR o_orderstatus = ''
                  THEN 1 ELSE 0 END),
         count(DISTINCT o_orderstatus),
         min(o_orderstatus), max(o_orderstatus), NULL, NULL
  FROM oldr
), pn AS (
  SELECT 'o_totalprice' AS key, count(*) AS n_rows,
         sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS n_nulls,
         count(DISTINCT o_totalprice) AS ndv,
         CAST(min(o_totalprice) AS VARCHAR) AS mn,
         CAST(max(o_totalprice) AS VARCHAR) AS mx,
         avg(o_totalprice) AS mean, stddev_pop(o_totalprice) AS sd
  FROM newr
  UNION ALL
  SELECT 'o_orderpriority', count(*),
         sum(CASE WHEN o_orderpriority IS NULL OR o_orderpriority = ''
                  THEN 1 ELSE 0 END),
         count(DISTINCT o_orderpriority),
         min(o_orderpriority), max(o_orderpriority), NULL, NULL
  FROM newr
)
SELECT '*' AS part, coalesce(po.key, pn.key) AS key,
       CASE WHEN po.key IS NULL THEN 'added'
            WHEN pn.key IS NULL THEN 'dropped'
            ELSE 'common' END AS status,
       CAST(po.n_rows AS BIGINT) AS n_rows_old,
       CAST(pn.n_rows AS BIGINT) AS n_rows_new,
       round(CASE WHEN po.n_rows > 0 AND pn.n_rows > 0
                  THEN pn.n_nulls / pn.n_rows - po.n_nulls / po.n_rows END,
             6) AS null_rate_delta,
       round(CASE WHEN po.ndv > 0 THEN pn.ndv / po.ndv END, 6) AS ndv_ratio,
       round(CASE WHEN po.sd > 0 THEN (pn.mean - po.mean) / po.sd END, 6)
         AS mean_shift,
       CASE WHEN po.key IS NOT NULL AND pn.key IS NOT NULL
            THEN (po.mn IS DISTINCT FROM pn.mn)
                 OR (po.mx IS DISTINCT FROM pn.mx)
            ELSE FALSE END AS minmax_changed
FROM po FULL OUTER JOIN pn ON po.key = pn.key
"""


def _q_profile_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-profile combination (profiler.merge_profiles — the
    incremental-profiling primitive: fold new partitions' summaries
    into running totals without rescanning). Orders split pre/post-1996
    profiled separately, merged, doubles rounded for the compare; the
    oracle computes the pooled-moment formulas from per-half SQL
    aggregates independently."""
    from nadeefiler_spark.profiler import (
        ProfileConfig, merge_profiles, profile_summary,
    )

    o = _t(spark, sf_dir, "orders").withColumn("part", F.lit("*"))
    cfg = ProfileConfig(exact_ndv=True, part_col="part")
    halves = [
        profile_summary(
            o.where(pred).select("part", "o_totalprice", "o_orderpriority"),
            cfg,
        )
        for pred in (
            F.year("o_orderdate") <= 1995,
            F.year("o_orderdate") > 1995,
        )
    ]
    m = merge_profiles(halves[0], halves[1])
    return m.select(
        "part", "key", "n_rows", "n_nulls", "ndv_ub", "min", "max",
        F.round("mean", 6).alias("mean"),
        F.round("stddev", 6).alias("stddev"),
        F.round("avg_len", 6).alias("avg_len"),
    )


_SQL_PROFILE_MERGE = """
WITH oldr AS (SELECT * FROM orders WHERE year(o_orderdate) <= 1995),
newr AS (SELECT * FROM orders WHERE year(o_orderdate) > 1995),
t1 AS (
  SELECT count(*) AS n,
         sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS nulls,
         count(DISTINCT o_totalprice) AS ndv,
         min(o_totalprice) AS mn, max(o_totalprice) AS mx,
         avg(o_totalprice) AS m, stddev_pop(o_totalprice) AS sd
  FROM oldr
), t2 AS (
  SELECT count(*) AS n,
         sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS nulls,
         count(DISTINCT o_totalprice) AS ndv,
         min(o_totalprice) AS mn, max(o_totalprice) AS mx,
         avg(o_totalprice) AS m, stddev_pop(o_totalprice) AS sd
  FROM newr
), p1 AS (
  SELECT count(*) AS n,
         sum(CASE WHEN o_orderpriority IS NULL OR o_orderpriority = ''
                  THEN 1 ELSE 0 END) AS nulls,
         count(DISTINCT o_orderpriority) AS ndv,
         min(o_orderpriority) AS mn, max(o_orderpriority) AS mx,
         avg(length(o_orderpriority)) AS al
  FROM oldr
), p2 AS (
  SELECT count(*) AS n,
         sum(CASE WHEN o_orderpriority IS NULL OR o_orderpriority = ''
                  THEN 1 ELSE 0 END) AS nulls,
         count(DISTINCT o_orderpriority) AS ndv,
         min(o_orderpriority) AS mn, max(o_orderpriority) AS mx,
         avg(length(o_orderpriority)) AS al
  FROM newr
)
SELECT '*' AS part, 'o_totalprice' AS key,
       CAST(t1.n + t2.n AS BIGINT) AS n_rows,
       CAST(t1.nulls + t2.nulls AS BIGINT) AS n_nulls,
       CAST(t1.ndv + t2.ndv AS BIGINT) AS ndv_ub,
       CAST(least(t1.mn, t2.mn) AS VARCHAR) AS min,
       CAST(greatest(t1.mx, t2.mx) AS VARCHAR) AS max,
       round(((t1.n - t1.nulls) * t1.m + (t2.n - t2.nulls) * t2.m)
             / ((t1.n - t1.nulls) + (t2.n - t2.nulls)), 6) AS mean,
       round(sqrt(greatest(
         ((t1.n - t1.nulls) * (t1.sd * t1.sd + t1.m * t1.m)
          + (t2.n - t2.nulls) * (t2.sd * t2.sd + t2.m * t2.m))
         / ((t1.n - t1.nulls) + (t2.n - t2.nulls))
         - pow(((t1.n - t1.nulls) * t1.m + (t2.n - t2.nulls) * t2.m)
               / ((t1.n - t1.nulls) + (t2.n - t2.nulls)), 2), 0)), 6)
         AS stddev,
       CAST(NULL AS DOUBLE) AS avg_len
FROM t1, t2
UNION ALL
SELECT '*', 'o_orderpriority',
       CAST(p1.n + p2.n AS BIGINT),
       CAST(p1.nulls + p2.nulls AS BIGINT),
       CAST(p1.ndv + p2.ndv AS BIGINT),
       least(p1.mn, p2.mn), greatest(p1.mx, p2.mx),
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       round(((p1.n - p1.nulls) * p1.al + (p2.n - p2.nulls) * p2.al)
             / ((p1.n - p1.nulls) + (p2.n - p2.nulls)), 6)
FROM p1, p2
"""


def _q_md_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matching-dependency check (rules.matching.md_violation_pairs —
    the NADEEF-family rule on NEARLY-equal keys): part pairs whose
    names are within Levenshtein 2 but that disagree on brand or type.
    Same blocked-join exactness conditions as fuzzy_name_pairs."""
    from nadeefiler_spark.rules.matching import md_violation_pairs

    return md_violation_pairs(
        _t(spark, sf_dir, "part"),
        "p_partkey",
        "p_name",
        ["p_brand", "p_type"],
        max_dist=2,
    )


_SQL_MD_VIOLATIONS = """
SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist,
       concat_ws(',',
         CASE WHEN a.p_brand IS DISTINCT FROM b.p_brand
              THEN 'p_brand' END,
         CASE WHEN a.p_type IS DISTINCT FROM b.p_type
              THEN 'p_type' END) AS mismatched
FROM part a JOIN part b
  ON a.p_partkey < b.p_partkey
 AND abs(length(a.p_name) - length(b.p_name)) <= 2
WHERE levenshtein(a.p_name, b.p_name) <= 2
  AND (a.p_brand IS DISTINCT FROM b.p_brand
       OR a.p_type IS DISTINCT FROM b.p_type)
"""


def _q_benford_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit profile (outliers.benford): order totals
    follow Benford closely (multiplicative spread), order keys do not
    (near-uniform sequence) — the shape contrast the screen exists to
    surface."""
    from nadeefiler_spark.outliers import benford

    o = _t(spark, sf_dir, "orders")
    return benford(o, ["o_totalprice", "o_orderkey"])


_SQL_BENFORD_PROFILE = """
WITH m AS (
  SELECT 'o_totalprice' AS col,
         regexp_extract(CAST(CAST(abs(o_totalprice) AS DECIMAL(38,6))
                             AS VARCHAR), '[1-9]') AS d
  FROM orders
  UNION ALL
  SELECT 'o_orderkey',
         regexp_extract(CAST(CAST(abs(o_orderkey) AS DECIMAL(38,6))
                             AS VARCHAR), '[1-9]')
  FROM orders
), c AS (
  SELECT col, CAST(d AS INTEGER) AS digit, count(*) AS n
  FROM m WHERE d <> '' GROUP BY 1, 2
)
SELECT col, digit, CAST(n AS BIGINT) AS n,
       round(n / sum(n) OVER (PARTITION BY col), 6) AS p_obs,
       round(log10(1 + 1.0 / digit), 6) AS p_benford
FROM c
"""


def _q_json_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured profiling (profiler.json_profile): top-level-key
    presence/null/type-shape stats over a JSON column built
    deterministically from event fields (integer id always, string tag
    on 1/3 of rows, boolean flag on 1/5, JSON null note on 1/7). The
    oracle derives the same stats directly from the construction — an
    independent derivation, no JSON parser on the oracle side."""
    from nadeefiler_spark.profiler import json_profile

    e = _t(spark, sf_dir, "events").select(
        F.concat(
            F.lit('{"id": '),
            F.col("event_id").cast("string"),
            F.when(
                F.col("event_id") % 3 == 0,
                F.concat(F.lit(', "t": "'), F.col("event_type"), F.lit('"')),
            ).otherwise(F.lit("")),
            F.when(F.col("event_id") % 5 == 0, F.lit(', "flag": true'))
            .otherwise(F.lit("")),
            F.when(F.col("event_id") % 7 == 0, F.lit(', "note": null'))
            .otherwise(F.lit("")),
            F.lit("}"),
        ).alias("body"),
    )
    return json_profile(e, "body")


_SQL_JSON_PROFILE = """
WITH base AS (SELECT event_id, event_type FROM events)
SELECT 'id' AS key, CAST(count(*) AS BIGINT) AS n_entries,
       CAST(0 AS BIGINT) AS n_null,
       CAST(count(DISTINCT event_id) AS BIGINT) AS ndv,
       CAST(count(*) AS BIGINT) AS n_int, CAST(0 AS BIGINT) AS n_num,
       CAST(0 AS BIGINT) AS n_bool,
       CAST(max(length(CAST(event_id AS VARCHAR))) AS INTEGER) AS max_len
FROM base
UNION ALL
SELECT 't', CAST(count(*) AS BIGINT), CAST(0 AS BIGINT),
       CAST(count(DISTINCT event_type) AS BIGINT), CAST(0 AS BIGINT),
       CAST(0 AS BIGINT), CAST(0 AS BIGINT),
       CAST(max(length(event_type)) AS INTEGER)
FROM base WHERE event_id % 3 = 0
UNION ALL
SELECT 'flag', CAST(count(*) AS BIGINT), CAST(0 AS BIGINT),
       CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
       CAST(count(*) AS BIGINT), CAST(4 AS INTEGER)
FROM base WHERE event_id % 5 = 0
UNION ALL
SELECT 'note', CAST(count(*) AS BIGINT), CAST(count(*) AS BIGINT),
       CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
       CAST(0 AS BIGINT), CAST(NULL AS INTEGER)
FROM base WHERE event_id % 7 = 0
"""


def _q_sd_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-dependency check (od.check_sequential): per user,
    consecutive event timestamps must be 0..30 min apart — the
    inter-arrival continuity rule of event-stream monitoring. Gaps in
    exact integer microseconds (unix_micros / epoch_us on both sides)
    so no float drift enters the compare."""
    from nadeefiler_spark import od

    e = _t(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        # parquet ts is TIMESTAMP_NTZ; cast is identity under the
        # session's UTC timezone and unix_micros requires TIMESTAMP
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    return od.check_sequential(
        e, "user_id", "ts", "us", lo=0.0, hi=1800e6
    )


_SQL_SD_CHECK = """
WITH t AS (SELECT user_id, ts, epoch_us(ts) AS us FROM events),
g AS (
  SELECT user_id,
         CAST(us - lag(us) OVER (PARTITION BY user_id ORDER BY ts)
              AS DOUBLE) AS gap
  FROM t
)
SELECT user_id AS "group",
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(gap) AS BIGINT) AS n_gaps,
       CAST(coalesce(sum(CASE WHEN gap < 0 OR gap > 1800000000
                               THEN 1 ELSE 0 END), 0) AS BIGINT)
         AS violating_gaps,
       min(gap) AS min_gap,
       max(gap) AS max_gap,
       coalesce(sum(CASE WHEN gap < 0 OR gap > 1800000000
                          THEN 1 ELSE 0 END), 0) = 0 AS holds
FROM g GROUP BY user_id
"""


def _q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII audit (functions.pii.scan_pii): per-source counts of planted
    emails/SSNs/phones/IPs/card numbers and the row-level PII rate —
    the pre-ship redaction gate of a training-data pipeline. PII is
    planted deterministically on doc_id residues so every detector has
    positives; the same construction runs in the DuckDB oracle."""
    from nadeefiler_spark.functions.pii import scan_pii

    d = _t(spark, sf_dir, "documents").select(
        "source",
        F.concat(
            F.coalesce("text", F.lit("")),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" reach user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 13 == 0, F.lit(" ssn 123-45-6789"))
            .otherwise(F.lit("")),
            F.when(F.col("doc_id") % 17 == 0, F.lit(" call +1 (415) 555-0199"))
            .otherwise(F.lit("")),
            F.when(F.col("doc_id") % 19 == 0, F.lit(" from 10.0.0.1"))
            .otherwise(F.lit("")),
            F.when(F.col("doc_id") % 23 == 0, F.lit(" card 4111111111111111"))
            .otherwise(F.lit("")),
        ).alias("body"),
    )
    return scan_pii(d, "body", group_cols=["source"])


_SQL_PII_SCAN = r"""
WITH d AS (
  SELECT source,
         coalesce(text, '')
         || CASE WHEN doc_id % 7 = 0
                 THEN ' reach user' || CAST(doc_id AS VARCHAR) || '@example.com'
                 ELSE '' END
         || CASE WHEN doc_id % 13 = 0 THEN ' ssn 123-45-6789' ELSE '' END
         || CASE WHEN doc_id % 17 = 0 THEN ' call +1 (415) 555-0199' ELSE '' END
         || CASE WHEN doc_id % 19 = 0 THEN ' from 10.0.0.1' ELSE '' END
         || CASE WHEN doc_id % 23 = 0 THEN ' card 4111111111111111' ELSE '' END
           AS body
  FROM documents
), m AS (
  SELECT source,
         len(regexp_extract_all(body, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS c_email,
         len(regexp_extract_all(body, '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b')) AS c_ssn,
         len(regexp_extract_all(body, '\+[0-9][0-9 ()-]{7,}[0-9]')) AS c_phone,
         len(regexp_extract_all(body, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS c_ipv4,
         len(regexp_extract_all(body, '\b[0-9]{13,16}\b')) AS c_card
  FROM d
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(c_email) AS BIGINT) AS n_email,
       CAST(sum(c_ssn) AS BIGINT) AS n_ssn,
       CAST(sum(c_phone) AS BIGINT) AS n_phone,
       CAST(sum(c_ipv4) AS BIGINT) AS n_ipv4,
       CAST(sum(c_card) AS BIGINT) AS n_card,
       CAST(sum(CASE WHEN c_email + c_ssn + c_phone + c_ipv4 + c_card > 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS pii_rows,
       round(sum(CASE WHEN c_email + c_ssn + c_phone + c_ipv4 + c_card > 0
                      THEN 1 ELSE 0 END) / count(*), 6) AS pii_rate
FROM m GROUP BY source
"""


def _q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Release-risk audit (functions.pii.k_anonymity): quasi-identifier
    groups on customer (nation x market segment) that are either
    re-identifiable (fewer than k=10 members) or attribute-disclosing
    (fewer than l=8 distinct account balances) — the structured-column
    complement of the free-text PII scan."""
    from nadeefiler_spark.functions.pii import k_anonymity

    c = _t(spark, sf_dir, "customer")
    return k_anonymity(
        c,
        ["c_nationkey", "c_mktsegment"],
        k=10,
        sensitive_col="c_acctbal",
        l=8,
    )


def _q_entropy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy l-diversity (functions.pii.entropy_l_diversity): per
    (nation x market segment) QI group, Shannon entropy of the bucketed
    account-balance classes vs ln(l) — the strict diversity form the
    distinct-count flag in k_anonymity under-approximates."""
    from nadeefiler_spark.functions.pii import entropy_l_diversity

    c = _t(spark, sf_dir, "customer").withColumn(
        "bal_band", F.floor(F.col("c_acctbal") / 2000)
    )
    return entropy_l_diversity(
        c, ["c_nationkey", "c_mktsegment"], "bal_band", l=4.0
    )


_SQL_ENTROPY_L_DIVERSITY = f"""
WITH gh AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(floor(c_acctbal / 2000) AS BIGINT) AS sv, count(*) AS c
  FROM customer GROUP BY 1, 2, 3
),
agg AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(sum(c) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS n_sensitive,
         sum(c * ln(c)) AS clc
  FROM gh GROUP BY 1, 2
)
SELECT c_nationkey, c_mktsegment,
       n AS group_size, n_sensitive,
       round(ln(n) - clc / n, 6) AS entropy,
       (ln(n) - clc / n) < {__import__("math").log(4.0)!r} AS at_risk
FROM agg
"""


def _q_sampled_certificate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampling-based validation certificate (certify
    .sampled_violation_bound): per event_type, a Hoeffding 95% upper
    confidence bound on the rate of value >= 90 rows, computed from the
    deterministic 25% hash sample — the pattern that lets decode-heavy
    rules certify 10^12-row partitions from a 1% scan. The sample and
    the bound are pure integer/closed-form math, so the DuckDB oracle
    reproduces membership AND bound bit-comparably (the ln(1/delta)
    constant is injected as one shared double literal)."""
    from nadeefiler_spark.certify import sampled_violation_bound

    e = _t(spark, sf_dir, "events")
    return sampled_violation_bound(
        e,
        "event_id",
        F.col("value") >= 90.0,
        fraction=0.25,
        part_col="event_type",
        eps=0.2,
        delta=0.05,
    )


# the exact double Spark uses for ln(1/delta), shared into the SQL so
# no transcendental is computed twice by two engines; the sample
# threshold comes from the same integer function the Spark side uses
_CERT_LN = __import__("math").log(1.0 / 0.05)
from nadeefiler_spark.operators.sample import threshold as _cert_thr  # noqa: E402

_SQL_SAMPLED_CERTIFICATE = f"""
WITH parts AS (SELECT DISTINCT event_type FROM events),
s AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_sampled,
         CAST(sum(CASE WHEN value >= 90.0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_viol
  FROM events
  WHERE ((event_id % 2147483648) * 2654435761 + 17) % 2147483648
        < {_cert_thr(0.25)}
  GROUP BY 1
),
j AS (
  SELECT p.event_type,
         coalesce(s.n_sampled, 0) AS n_sampled,
         coalesce(s.n_viol, 0) AS n_viol
  FROM parts p LEFT JOIN s USING (event_type)
),
b AS (
  SELECT event_type, n_sampled, n_viol,
         CASE WHEN n_sampled > 0 THEN n_viol * 1.0 / n_sampled
              ELSE 0.0 END AS rate_hat,
         CASE WHEN n_sampled > 0
              THEN least(1.0, n_viol * 1.0 / n_sampled
                              + sqrt({_CERT_LN!r} / (2.0 * n_sampled)))
              ELSE 1.0 END AS rate_ub
  FROM j
)
SELECT event_type, n_sampled, n_viol,
       round(rate_hat, 6) AS rate_hat,
       round(rate_ub, 6) AS rate_ub,
       rate_ub <= 0.2 AS certified
FROM b
"""


def _q_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (functions.pii.t_closeness): per
    (nation x market segment) QI group, rank-EMD between the group's
    bucketed account-balance distribution and the whole table's — the
    release-risk check k-anonymity/l-diversity cannot see (a group can
    be large and diverse while still skewed rich). Sensitive attribute
    pre-bucketed to 2k-wide bands per the high-NDV contract."""
    from nadeefiler_spark.functions.pii import t_closeness

    c = _t(spark, sf_dir, "customer")
    return t_closeness(
        c,
        ["c_nationkey", "c_mktsegment"],
        F.floor(F.col("c_acctbal") / 2000),
        t=0.15,
        ordered=True,
    )


_SQL_T_CLOSENESS = """
WITH gh AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(floor(c_acctbal / 2000) AS BIGINT) AS sv,
         count(*) AS c_p
  FROM customer GROUP BY 1, 2, 3
),
bins AS (SELECT sv, CAST(sum(c_p) AS BIGINT) AS c_q FROM gh GROUP BY 1),
grps AS (
  SELECT c_nationkey, c_mktsegment, CAST(sum(c_p) AS BIGINT) AS gsz
  FROM gh GROUP BY 1, 2
),
grid AS (SELECT g.c_nationkey, g.c_mktsegment, g.gsz, b.sv, b.c_q
         FROM grps g CROSS JOIN bins b),
j AS (
  SELECT grid.c_nationkey, grid.c_mktsegment, grid.gsz, grid.sv, grid.c_q,
         coalesce(gh.c_p, 0) AS c_p
  FROM grid LEFT JOIN gh
    ON gh.c_nationkey IS NOT DISTINCT FROM grid.c_nationkey
   AND gh.c_mktsegment IS NOT DISTINCT FROM grid.c_mktsegment
   AND gh.sv IS NOT DISTINCT FROM grid.sv
),
tot AS (SELECT sum(c_q) AS n_total FROM bins),
cdf AS (
  SELECT c_nationkey, c_mktsegment, gsz,
         abs(sum(c_p * 1.0 / gsz - c_q * 1.0 / n_total) OVER ord) AS d,
         count(*) OVER gw AS m
  FROM j CROSS JOIN tot
  WINDOW gw AS (PARTITION BY c_nationkey, c_mktsegment),
         ord AS (PARTITION BY c_nationkey, c_mktsegment
                 ORDER BY sv ASC NULLS LAST ROWS UNBOUNDED PRECEDING)
)
SELECT c_nationkey, c_mktsegment,
       CAST(max(gsz) AS BIGINT) AS group_size,
       round(CASE WHEN max(m) > 1 THEN sum(d) / (max(m) - 1)
                  ELSE 0.0 END, 6) AS t_distance,
       (CASE WHEN max(m) > 1 THEN sum(d) / (max(m) - 1)
             ELSE 0.0 END) > 0.15 AS at_risk_t
FROM cdf GROUP BY 1, 2
"""


_SQL_K_ANONYMITY = """
SELECT c_nationkey, c_mktsegment,
       CAST(count(*) AS BIGINT) AS group_size,
       CAST(count(DISTINCT c_acctbal) AS BIGINT) AS n_sensitive,
       count(*) < 10 AS at_risk_k,
       count(DISTINCT c_acctbal) < 8 AS at_risk_l
FROM customer
GROUP BY 1, 2
HAVING count(*) < 10 OR count(DISTINCT c_acctbal) < 8
"""


def _q_binary_meta_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-gated twin of the multimodal metadata pass: the documents'
    UTF-8 bytes stand in for opaque blobs, so every column (octet count,
    4-byte magic hex, sha256 digest, sniffed kind) is checkable in DuckDB
    (whose digest functions hash VARCHAR as UTF-8)."""
    from nadeefiler_spark.operators.multimodal import binary_meta

    _ensure_pkg_shipped(spark)
    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.encode(F.coalesce("text", F.lit("")), "UTF-8").alias("b"),
    )
    return binary_meta(d, "doc_id", "b", digest="sha256")


# kind mirror of multimodal._MAGIC_KINDS via 4-byte magic hex prefixes
_SQL_BINARY_META_DOCS = """
WITH m AS (
  SELECT CAST(doc_id AS VARCHAR) AS id,
         CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT) AS n_bytes,
         lower(substr(hex(encode(coalesce(text, ''))), 1, 8)) AS magic_hex,
         sha256(coalesce(text, '')) AS digest
  FROM documents
)
SELECT id, n_bytes, magic_hex, digest,
       CASE WHEN magic_hex LIKE '52494646%' THEN 'audio/wav'
            WHEN magic_hex LIKE '4e444631%' THEN 'audio/ndf-fake'
            WHEN magic_hex LIKE '89504e47%' THEN 'image/png'
            WHEN magic_hex LIKE 'ffd8ff%'   THEN 'image/jpeg'
            WHEN magic_hex LIKE '47494638%' THEN 'image/gif'
            WHEN magic_hex LIKE '00000018%' THEN 'video/mp4'
            WHEN magic_hex LIKE '00000020%' THEN 'video/mp4'
            ELSE 'application/octet-stream' END AS kind
FROM m
"""


def _q_audio_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end audio-aware validation on the deterministic synthetic
    clips table (BASELINE.json input_hint schema; the testdata tables have
    no audio payloads). No oracle: decode runs in pandas UDFs over binary.
    """
    _ensure_pkg_shipped(spark)
    cfg = datagen.GenConfig(n_rows=240)
    clips = _cached_clips(spark, cfg)
    refs = _cached_refs(spark, cfg)
    ctx = RuleContext(
        spark=spark,
        clips=clips,
        refs=refs,
        decoded=decode_facts(clips),
        key_col="clip_id",
        part_col="part",
    )
    from nadeefiler_spark.presets import default_clip_rules

    rules = [r for r in default_clip_rules(with_drift=False)]
    out = None
    for r in rules:
        v = r.violations(ctx)
        out = v if out is None else out.unionByName(v)
    return out.orderBy("rule", "clip_id", "part")


def _q_header_triage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode-free triage tier (operators/headerprobe.header_findings):
    container magic / header rate / header duration / declared-length
    checks as pure Catalyst byte arithmetic over the synthetic corpus,
    plus planted rows the decode tier would only see as numpy errors —
    a truncated WAV (bad_length), a junk blob (unrecognized), and a
    real-FLAC-magic bitstream (needs_decode). The planted i%239 PCM
    corruption is deliberately ABSENT from this output: noise preserves
    the container structure, which is exactly the tier boundary (SNR
    belongs to the decode pass). No DuckDB oracle (binary input);
    tests/test_headerprobe.py pins the exact flagged set from row_spec;
    the oracle-gated construct→parse twin is ``header_probe_sql``."""
    from nadeefiler_spark.operators.headerprobe import header_findings

    _ensure_pkg_shipped(spark)
    cfg = datagen.GenConfig(n_rows=1500, seed=5, dur_min_ms=60, dur_max_ms=200)
    base = _cached_clips(spark, cfg)
    donors = base.where(F.col("clip_id").isin("clip-000000000010", "clip-000000000020"))
    planted = donors.select(
        F.concat(F.col("clip_id"), F.lit("-trunc")).alias("clip_id"),
        # drop the last 10 payload bytes: header still declares full size
        F.expr("substring(bytes, 1, length(bytes) - 10)").alias("bytes"),
        "sr_hz", "dur_ms", "codec", "transcript", "part",
    ).unionByName(
        donors.select(
            F.concat(F.col("clip_id"), F.lit("-junk")).alias("clip_id"),
            F.lit(b"\x00garbage-not-audio").alias("bytes"),
            "sr_hz", "dur_ms", "codec", "transcript", "part",
        )
    ).unionByName(
        donors.select(
            F.concat(F.col("clip_id"), F.lit("-flac")).alias("clip_id"),
            # real FLAC stream marker + opaque tail: probe must route to
            # the decode tier, not claim a verdict
            F.concat(F.lit(b"fLaC"), F.col("bytes")).alias("bytes"),
            "sr_hz", "dur_ms", F.lit("flac").alias("codec"), "transcript", "part",
        )
    )
    # Materialize the 6 planted rows as a LocalRelation (O(1) driver
    # data — fixture scaffolding, not a data path): Catalyst pushes the
    # hdr_finding filter down through each union branch, re-inlining the
    # staged probe tree into the branch's Filter condition with `bytes`
    # replaced by the branch's substring/concat plant expression — and
    # THAT substituted condition busts Janino's 64 KB method limit
    # (silent interpreted-eval fallback, caught by check_oracle's
    # codegen detector). With bytes as a plain attribute the inlined
    # condition matches the production parquet-scan shape, which
    # compiles.
    planted = spark.createDataFrame(planted.collect(), schema=base.schema)
    out = header_findings(base).unionByName(header_findings(planted))
    return (
        out.where(F.col("hdr_finding").isNotNull())
        .select(
            "clip_id",
            F.coalesce("hdr_codec", F.lit("-")).alias("hdr_codec"),
            F.coalesce("hdr_sr_hz", F.lit(-1)).alias("hdr_sr_hz"),
            F.coalesce("hdr_dur_ms", F.lit(-1)).alias("hdr_dur_ms"),
            F.coalesce("hdr_len_ok", F.lit(False)).alias("hdr_len_ok"),
            "hdr_finding",
        )
        .orderBy("clip_id")
    )


def _built_probe_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAV and NDF1 container blobs BUILT in pure SQL (unhex of a
    hex-string header + repeated payload) from supplier-table integers,
    with planted defects per s_suppkey residue: %11==3 truncated payload
    (bad_length), %13==4 declared sr_hz off by +1000 (rate_mismatch),
    %17==5 declared dur_ms doubled (duration_mismatch), %19==6 declared
    codec flipped (codec_mismatch). Shared by the ``header_probe_sql``
    and ``probe_stats_sql`` contract queries; the DuckDB oracles derive
    the same outputs arithmetically from the same source integers."""
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("bigint").alias("k")
    )

    def le_hex(v):
        h = F.lpad(F.hex(v), 8, "0")
        return F.concat(
            F.substring(h, 7, 2), F.substring(h, 5, 2),
            F.substring(h, 3, 2), F.substring(h, 1, 2),
        )

    k = F.col("k")
    sr = F.element_at(
        F.array(*[F.lit(v) for v in (8000, 16000, 22050, 44100, 48000)]),
        (k % 5 + 1).cast("int"),
    )
    n = (F.lit(100) + k % 900).cast("bigint")
    # payload: n 16-bit samples of 0x1A2B, short 3 samples when truncated
    pay_n = F.when(k % 11 == 3, n - 3).otherwise(n)
    payload = F.repeat(F.lit("1A2B"), pay_n.cast("int"))
    wav_hex = F.concat(
        F.lit("52494646"), le_hex(F.lit(36) + 2 * n), F.lit("57415645"),
        F.lit("666D7420"), le_hex(F.lit(16)), F.lit("01000100"),
        le_hex(sr), le_hex(sr * 2), F.lit("02001000"),
        F.lit("64617461"), le_hex(2 * n), payload,
    )
    # NDF1: magic + 'flac' NUL-padded to 10 bytes + sr + n + payload
    ndf_hex = F.concat(
        F.lit("4E444631"), F.lit("666C6163" + "00" * 6),
        le_hex(sr), le_hex(n), payload,
    )
    is_wav = k % 2 == 0
    built_codec = F.when(is_wav, F.lit("pcm_s16le")).otherwise(F.lit("flac"))
    decl_codec = F.when(
        k % 19 == 6,
        F.when(is_wav, F.lit("opus")).otherwise(F.lit("pcm_s16le")),
    ).otherwise(built_codec)
    true_dur = F.floor(n * 1000 / sr)
    return s.select(
        k.alias("id"),
        F.unhex(F.when(is_wav, wav_hex).otherwise(ndf_hex)).alias("bytes"),
        decl_codec.alias("codec"),
        F.when(k % 13 == 4, sr + 1000).otherwise(sr).cast("int").alias("sr_hz"),
        F.when(k % 17 == 5, true_dur * 2 + 100)
        .otherwise(true_dur).cast("int").alias("dur_ms"),
    )


def _q_header_probe_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-gated construct→parse twin of the header probe
    (operators/headerprobe.header_findings over :func:`_built_probe_rows`
    blobs): Spark's byte arithmetic must round-trip every planted field
    exactly against the DuckDB oracle's pure-arithmetic derivation."""
    _ensure_pkg_shipped(spark)
    from nadeefiler_spark.operators.headerprobe import header_findings

    return (
        header_findings(_built_probe_rows(spark, sf_dir))
        .select(
            "id", "hdr_codec", "hdr_sr_hz", "hdr_n_samples", "hdr_dur_ms",
            "hdr_len_ok",
            F.coalesce("hdr_finding", F.lit("ok")).alias("finding"),
        )
        .orderBy("id")
    )


_SQL_HEADER_PROBE_SQL = """
WITH s AS (
  SELECT CAST(s_suppkey AS BIGINT) AS k FROM supplier
), f AS (
  SELECT k,
         ([8000, 16000, 22050, 44100, 48000])[CAST(k % 5 AS INTEGER) + 1] AS sr,
         100 + k % 900 AS n
  FROM s
), d AS (
  SELECT k, sr, n,
         CAST(FLOOR(n * 1000 / sr) AS BIGINT) AS true_dur,
         (k % 11 = 3) AS truncated,
         CASE WHEN k % 19 = 6 THEN
              CASE WHEN k % 2 = 0 THEN 'opus' ELSE 'pcm_s16le' END
              ELSE CASE WHEN k % 2 = 0 THEN 'pcm_s16le' ELSE 'flac' END
         END AS decl_codec,
         CASE WHEN k % 2 = 0 THEN 'pcm_s16le' ELSE 'flac' END AS built_codec,
         CAST(CASE WHEN k % 13 = 4 THEN sr + 1000 ELSE sr END AS INTEGER) AS decl_sr,
         CAST(CASE WHEN k % 17 = 5 THEN FLOOR(n * 1000 / sr) * 2 + 100
              ELSE FLOOR(n * 1000 / sr) END AS INTEGER) AS decl_dur
  FROM f
)
SELECT k AS id,
       built_codec AS hdr_codec,
       CAST(sr AS INTEGER) AS hdr_sr_hz,
       n AS hdr_n_samples,
       true_dur AS hdr_dur_ms,
       NOT truncated AS hdr_len_ok,
       CASE WHEN truncated THEN 'bad_length'
            WHEN built_codec <> decl_codec THEN 'codec_mismatch'
            WHEN sr <> decl_sr THEN 'rate_mismatch'
            WHEN abs(true_dur - decl_dur) >
                 greatest(20.0, 0.02 * decl_dur) THEN 'duration_mismatch'
            ELSE 'ok' END AS finding
FROM d
ORDER BY id
"""


def _q_probe_stats_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-gated grouped probe health (operators/headerprobe
    .probe_stats over the :func:`_built_probe_rows` blobs, grouped by
    k%3): per group, clip count, flagged count, one conditional-sum
    column per finding kind, and the flagged rate — the map-side-
    combinable dashboard aggregation the streaming ingest gate
    (streaming.windowed_probe_stats) runs per event-time window."""
    _ensure_pkg_shipped(spark)
    from nadeefiler_spark.operators.headerprobe import probe_stats

    rows = _built_probe_rows(spark, sf_dir).withColumn(
        "grp", (F.col("id") % 3).cast("int")
    )
    return probe_stats(rows, by=("grp",)).orderBy("grp")


_SQL_PROBE_STATS_SQL = """
WITH s AS (
  SELECT CAST(s_suppkey AS BIGINT) AS k FROM supplier
), f AS (
  SELECT k,
         ([8000, 16000, 22050, 44100, 48000])[CAST(k % 5 AS INTEGER) + 1] AS sr,
         100 + k % 900 AS n
  FROM s
), d AS (
  SELECT k,
         CASE WHEN k % 11 = 3 THEN 'bad_length'
              WHEN (CASE WHEN k % 19 = 6 THEN 1 ELSE 0 END) = 1 THEN 'codec_mismatch'
              WHEN k % 13 = 4 THEN 'rate_mismatch'
              WHEN k % 17 = 5 AND abs(FLOOR(n * 1000 / sr) -
                   (FLOOR(n * 1000 / sr) * 2 + 100)) >
                   greatest(20.0, 0.02 * (FLOOR(n * 1000 / sr) * 2 + 100))
                   THEN 'duration_mismatch'
              ELSE NULL END AS finding
  FROM f
)
SELECT CAST(k % 3 AS INTEGER) AS grp,
       COUNT(*) AS n_clips,
       CAST(sum(CASE WHEN finding IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       CAST(sum(CASE WHEN finding = 'unrecognized' THEN 1 ELSE 0 END) AS BIGINT) AS n_unrecognized,
       CAST(sum(CASE WHEN finding = 'bad_length' THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_length,
       CAST(sum(CASE WHEN finding = 'bad_rate' THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_rate,
       CAST(sum(CASE WHEN finding = 'codec_mismatch' THEN 1 ELSE 0 END) AS BIGINT) AS n_codec_mismatch,
       CAST(sum(CASE WHEN finding = 'rate_mismatch' THEN 1 ELSE 0 END) AS BIGINT) AS n_rate_mismatch,
       CAST(sum(CASE WHEN finding = 'duration_mismatch' THEN 1 ELSE 0 END) AS BIGINT) AS n_duration_mismatch,
       CAST(sum(CASE WHEN finding = 'needs_decode' THEN 1 ELSE 0 END) AS BIGINT) AS n_needs_decode,
       round(CAST(avg(CASE WHEN finding IS NOT NULL THEN 1.0 ELSE 0.0 END) AS DOUBLE), 6) AS flagged_rate
FROM d
GROUP BY 1
ORDER BY grp
"""


# --- SQL-built audio containers: DuckDB-oracled decode-path queries -------
#
# The _built_probe_rows technique extended to the DECODE tier (VERDICT r4
# #1): containers are BUILT in pure SQL (hex concat/repeat from
# supplier-table integers) on BOTH engines, Spark runs the REAL decode
# operators (audio.decode -> numpy) over them, and the DuckDB oracle
# derives the same outputs arithmetically from the same source integers.
# Payloads are square waves (period 2p samples), not constants: a constant
# payload is a DC signal whose band energies are all ~0, making the
# spectral fingerprint degenerate. Design constants verified empirically
# (deterministic, so once true always true): the 7 corpus content classes
# are pairwise >=7 hamming bits apart, fresh-content classes are >=7 bits
# from every corpus class (admission max_hamming=3), and identical
# payloads round-trip bit-exact through both WAV and NDF1 containers.


def _le_hex32(v) -> Column:
    """Little-endian u32 hex of an int Column (shared by the built-blob
    family; same layout as _built_probe_rows' local helper)."""
    h = F.lpad(F.hex(v), 8, "0")
    return F.concat(
        F.substring(h, 7, 2), F.substring(h, 5, 2),
        F.substring(h, 3, 2), F.substring(h, 1, 2),
    )


def _sq_payload_hex(p, m) -> Column:
    """Square-wave PCM16 payload hex: p samples of +10000 then p of
    -10000, repeated m times (n = 2*p*m samples, fundamental at
    sr/(2p) Hz)."""
    return F.repeat(
        F.concat(F.repeat(F.lit("1027"), p), F.repeat(F.lit("F0D8"), p)), m
    )


def _wav_hex(sr, n, payload_hex) -> Column:
    """RIFF/WAVE PCM16 mono container hex around a payload of n samples."""
    return F.concat(
        F.lit("52494646"), _le_hex32(F.lit(36) + 2 * n), F.lit("57415645"),
        F.lit("666D7420"), _le_hex32(F.lit(16)), F.lit("01000100"),
        _le_hex32(sr), _le_hex32(sr * 2), F.lit("02001000"),
        F.lit("64617461"), _le_hex32(2 * n), payload_hex,
    )


_NDF_TAG_FLAC = "666C6163" + "00" * 6
_NDF_TAG_OPUS = "6F707573" + "00" * 6


def _ndf_hex(tag_hex: str, sr, n, payload_hex) -> Column:
    """NDF1 fake-container hex (magic + 10-byte codec tag + sr + n +
    payload) — the sandbox stand-in for compressed codecs (audio.py)."""
    return F.concat(
        F.lit("4E444631"), F.lit(tag_hex), _le_hex32(sr), _le_hex32(n),
        payload_hex,
    )


_BUILT_SR = 16000


def _built_content_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-dedup corpus BUILT in pure SQL: 7 content classes
    (c = k % 7; square wave with period p = 2+c, m = 20+c repeats, so
    distinct classes have distinct fundamentals 16000/(2p) Hz and
    pairwise fingerprint hamming >= 7 — verified, deterministic), each
    clip stored as WAV (even k) or NDF1-flac (odd k). Same payload ->
    same decoded PCM -> same fingerprint regardless of container, so
    content-dup groups are exactly the k%7 classes — arithmetically
    derivable by the DuckDB oracle."""
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("bigint").alias("k")
    )
    k = F.col("k")
    c = (k % 7).cast("int")
    p, m = c + 2, c + 20
    n = (2 * p * m).cast("bigint")
    payload = _sq_payload_hex(p, m)
    sr = F.lit(_BUILT_SR)
    blob_hex = F.when(k % 2 == 0, _wav_hex(sr, n, payload)).otherwise(
        _ndf_hex(_NDF_TAG_FLAC, sr, n, payload)
    )
    return s.select(
        F.format_string("blt-%012d", k).alias("id"),
        F.unhex(blob_hex).alias("bytes"),
    )


def _q_audio_fp_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio CONTENT dedup, DuckDB-oracled (operators.audio_fp
    .audio_content_dup_groups over :func:`_built_content_rows`): the
    REAL decode + spectral-fingerprint + groupBy path runs on Spark
    (WAV/NDF1 parse -> numpy rFFT band-energy hash -> one 8-byte-key
    shuffle); the oracle groups the same clips arithmetically by
    content class. The fingerprint VALUE is not SQL-derivable, so the
    output keys groups by keeper_id instead of fp — if two distinct
    content classes ever collided in fingerprint space, Spark would
    merge groups and the row/hash gate would catch it. The
    decoded-synthetic-corpus variant (planted datagen duplicates,
    numpy-twin-pinned) is ``audio_fp_dups_corpus``."""
    _ensure_pkg_shipped(spark)
    from nadeefiler_spark.operators.audio_fp import audio_content_dup_groups

    rows = _built_content_rows(spark, sf_dir)
    return (
        audio_content_dup_groups(rows, id_col="id", bytes_col="bytes")
        .select(
            "keeper_id",
            F.col("n_clips").cast("bigint").alias("n_clips"),
            F.to_json("clip_ids").alias("clip_ids"),
        )
        .orderBy("keeper_id")
    )


_SQL_AUDIO_FP_DUPS = """
WITH s AS (
  SELECT CAST(s_suppkey AS BIGINT) AS k FROM supplier
), d AS (
  SELECT k, k % 7 AS c, printf('blt-%012d', k) AS id FROM s
)
SELECT min(id) AS keeper_id,
       CAST(count(*) AS BIGINT) AS n_clips,
       to_json(list_sort(list(id))) AS clip_ids
FROM d GROUP BY c HAVING count(*) > 1
ORDER BY keeper_id
"""


def _q_clip_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental clip admission, DuckDB-oracled (operators.audio_fp
    .incremental_clip_admission over SQL-built containers): the REAL
    tiered operator runs on Spark — md5 byte tier, decoded-PCM
    fingerprint tier, chunk-blocked near tier, undecodable routing —
    against a delivery batch whose dispositions are arithmetically
    derivable. Batch plants by k % 8: r=0 byte copies (exact_corpus,
    match = smallest corpus clip with the same class+container), r=1
    NDF1-opus re-encodes of the class payload (byte-new, fingerprint
    EQUAL -> content_corpus for the smallest-id clip per class; its
    byte-identical batch siblings are exact_batch), r=2 junk blobs
    (undecodable), r=3 fresh square waves (period 12..20, >= 7
    fingerprint bits from every corpus class — verified, so the near
    tier never fires and the keeper is accept) delivered twice
    (-a keeper accepts, -b is exact_batch). The near_corpus tier's
    hamming math is NOT SQL-derivable and is exercised by
    ``clip_admission_corpus`` + tests/test_audio_fp.py instead."""
    _ensure_pkg_shipped(spark)
    from nadeefiler_spark.operators.audio_fp import incremental_clip_admission

    corpus = _built_content_rows(spark, sf_dir)
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("bigint").alias("k")
    )
    k = F.col("k")
    c = (k % 7).cast("int")
    p, m = c + 2, c + 20
    n = (2 * p * m).cast("bigint")
    payload = _sq_payload_hex(p, m)
    sr = F.lit(_BUILT_SR)
    nid = F.format_string("new-%012d", k)

    copies = s.where(k % 8 == 0).select(
        nid.alias("id"),
        F.unhex(
            F.when(k % 2 == 0, _wav_hex(sr, n, payload)).otherwise(
                _ndf_hex(_NDF_TAG_FLAC, sr, n, payload)
            )
        ).alias("bytes"),
    )
    content = s.where(k % 8 == 1).select(
        nid.alias("id"),
        F.unhex(_ndf_hex(_NDF_TAG_OPUS, sr, n, payload)).alias("bytes"),
    )
    junk = s.where(k % 8 == 2).select(
        nid.alias("id"),
        F.unhex(F.concat(F.lit("DEADBEEF"), F.lpad(F.hex(k), 8, "0"))).alias(
            "bytes"
        ),
    )
    fp_p = (F.lit(12) + 2 * (k % 5)).cast("int")
    fp_m = (F.lit(25) + (k % 89)).cast("int")
    fn = (2 * fp_p * fp_m).cast("bigint")
    fresh_blob = F.unhex(_wav_hex(sr, fn, _sq_payload_hex(fp_p, fp_m)))
    fresh = s.where(k % 8 == 3).select(
        nid.alias("id"), fresh_blob.alias("bytes")
    )
    twins = fresh.select(
        F.explode(F.array(F.lit("-a"), F.lit("-b"))).alias("sfx"), "id", "bytes"
    ).select(F.concat("id", "sfx").alias("id"), "bytes")

    batch = copies.unionByName(content).unionByName(junk).unionByName(twins)
    out = incremental_clip_admission(
        corpus, batch, id_col="id", bytes_col="bytes"
    )
    return out.select(
        F.col("id").alias("clip_id"),
        "disposition",
        F.coalesce("match_id", F.lit("-")).alias("match_id"),
        F.coalesce("hamming", F.lit(-1)).cast("int").alias("hamming"),
    ).orderBy("clip_id")


_SQL_CLIP_ADMISSION = """
WITH s AS (
  SELECT CAST(s_suppkey AS BIGINT) AS k FROM supplier
), mins_cp AS (  -- byte identity: same class AND same container parity
  SELECT k % 7 AS c, k % 2 AS par, min(k) AS mk FROM s GROUP BY 1, 2
), mins_c AS (   -- fingerprint identity: same class, any container
  SELECT k % 7 AS c, min(k) AS mk FROM s GROUP BY 1
), mins_r1 AS (  -- batch-internal byte identity among the r=1 re-encodes
  SELECT k % 7 AS c, min(k) AS mk FROM s WHERE k % 8 = 1 GROUP BY 1
)
SELECT clip_id, disposition, match_id, hamming FROM (
  SELECT printf('new-%012d', s.k) AS clip_id,
         'exact_corpus' AS disposition,
         printf('blt-%012d', m.mk) AS match_id,
         CAST(0 AS INTEGER) AS hamming
  FROM s JOIN mins_cp m ON m.c = s.k % 7 AND m.par = s.k % 2
  WHERE s.k % 8 = 0
  UNION ALL
  SELECT printf('new-%012d', s.k), 'content_corpus',
         printf('blt-%012d', m.mk), CAST(0 AS INTEGER)
  FROM s JOIN mins_c m ON m.c = s.k % 7
  WHERE s.k % 8 = 1 AND s.k = (SELECT mk FROM mins_r1 r WHERE r.c = s.k % 7)
  UNION ALL
  SELECT printf('new-%012d', s.k), 'exact_batch',
         printf('new-%012d', r.mk), CAST(0 AS INTEGER)
  FROM s JOIN mins_r1 r ON r.c = s.k % 7
  WHERE s.k % 8 = 1 AND s.k <> r.mk
  UNION ALL
  SELECT printf('new-%012d', k), 'undecodable', '-', CAST(-1 AS INTEGER)
  FROM s WHERE k % 8 = 2
  UNION ALL
  SELECT printf('new-%012d', k) || '-a', 'accept', '-', CAST(-1 AS INTEGER)
  FROM s WHERE k % 8 = 3
  UNION ALL
  SELECT printf('new-%012d', k) || '-b', 'exact_batch',
         printf('new-%012d', k) || '-a', CAST(0 AS INTEGER)
  FROM s WHERE k % 8 = 3
) ORDER BY clip_id
"""


def _q_transcript_conflicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transcript-consistency inside CONTENT dup groups, DuckDB-oracled
    (operators.consistency.group_attr_conflicts over
    operators.audio_fp.audio_fingerprints of
    :func:`_built_content_rows`): the REAL decode → fingerprint →
    group-agreement path runs on Spark; the oracle regroups the same
    clips by content class and recomputes the normalized-transcript
    distinct count with the identical lower/trim/collapse-whitespace
    normalization in DuckDB — pure string/integer arithmetic, no float
    risk. Plants by supplier key: k%13==5 gets an upper-cased,
    trailing-spaced transcript (norm-equal — must NOT count as a
    second annotation), k%17==6 gets a genuinely different transcript
    (one extra distinct per such member). Groups are keyed by
    keeper_id (the fingerprint VALUE is not SQL-derivable — same
    convention as ``audio_fp_dups``). The decoded-synthetic-corpus
    variant is ``transcript_conflicts_corpus``."""
    _ensure_pkg_shipped(spark)
    from nadeefiler_spark.operators import consistency
    from nadeefiler_spark.operators.audio_fp import audio_fingerprints

    rows = _built_content_rows(spark, sf_dir)
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("bigint").alias("k")
    )
    k = F.col("k")
    base_t = F.concat(F.lit("reading of class "), (k % 7).cast("string"))
    transcript = (
        F.when(k % 17 == 6, F.concat(F.lit("mislabeled "), k.cast("string")))
        .when(k % 13 == 5, F.concat(F.upper(base_t), F.lit("  ")))
        .otherwise(base_t)
    )
    labels = s.select(
        F.format_string("blt-%012d", k).alias("id"), transcript.alias("transcript")
    )
    fps = audio_fingerprints(rows, id_col="id", bytes_col="bytes").where(
        F.col("fp").isNotNull()
    )
    labeled = fps.join(labels, "id")
    return (
        consistency.group_attr_conflicts(
            labeled, "fp", "id",
            {"transcript": consistency.norm_text("transcript")},
        )
        .select("keeper_id", "n_members", "n_transcript", "consistent")
        .orderBy("keeper_id")
    )


_SQL_TRANSCRIPT_CONFLICTS = r"""
WITH s AS (
  SELECT CAST(s_suppkey AS BIGINT) AS k FROM supplier
), d AS (
  SELECT k, k % 7 AS c, printf('blt-%012d', k) AS id,
         CASE WHEN k % 17 = 6 THEN 'mislabeled ' || CAST(k AS VARCHAR)
              WHEN k % 13 = 5 THEN upper('reading of class '
                   || CAST(k % 7 AS VARCHAR)) || '  '
              ELSE 'reading of class ' || CAST(k % 7 AS VARCHAR)
         END AS transcript
  FROM s
)
SELECT min(id) AS keeper_id,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(count(DISTINCT regexp_replace(lower(trim(transcript)),
                                          '\s+', ' ', 'g')) AS BIGINT)
         AS n_transcript,
       count(DISTINCT regexp_replace(lower(trim(transcript)),
                                     '\s+', ' ', 'g')) <= 1 AS consistent
FROM d GROUP BY c HAVING count(*) >= 2
ORDER BY keeper_id
"""


def _q_audio_qc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio signal-QC, DuckDB-oracled (rules.audio_rules.decode_facts
    with_qc=True over SQL-built containers): the REAL decode + numpy QC
    pass runs on Spark; the oracle derives the exact ratios from the
    planted sample counts. Each clip is 1000 samples, case = k % 4:
    clean (+-5000 alternating — not flagged), clipping (100 samples at
    +-32600 -> clip_ratio 0.1), dead air (950 zeros -> silence_ratio
    0.95), DC offset (all 3000 -> dc_offset 3000/32768). clip_ratio =
    mean(|x| >= 32000), silence_ratio = mean(|x| <= 327), dc_offset =
    mean(x)/32768 — integer sums are exact in both engines' doubles,
    so the rounded values match bit-for-bit. The decoded-synthetic-
    corpus variant (SNR-distorted clips, numpy-twin-pinned) is
    ``audio_qc_corpus``."""
    _ensure_pkg_shipped(spark)
    from nadeefiler_spark.rules.audio_rules import decode_facts

    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("bigint").alias("k")
    )
    k = F.col("k")
    clean_blk = F.lit("881378EC")  # +5000, -5000
    payload = (
        F.when(k % 4 == 1, F.concat(
            F.repeat(F.lit("587F"), 50), F.repeat(F.lit("A880"), 50),
            F.repeat(clean_blk, 450),
        ))
        .when(k % 4 == 2, F.concat(
            F.repeat(F.lit("0000"), 950), F.repeat(clean_blk, 25)
        ))
        .when(k % 4 == 3, F.repeat(F.lit("B80B"), 1000))
        .otherwise(F.repeat(clean_blk, 500))
    )
    n = F.lit(1000).cast("bigint")
    sr = F.lit(_BUILT_SR)
    is_wav = k % 2 == 0
    blob_hex = F.when(is_wav, _wav_hex(sr, n, payload)).otherwise(
        _ndf_hex(_NDF_TAG_FLAC, sr, n, payload)
    )
    built = s.select(
        (k % 3).cast("string").alias("part"),
        F.format_string("qc-%012d", k).alias("clip_id"),
        sr.cast("int").alias("sr_hz"),
        F.lit(62).alias("dur_ms"),
        F.when(is_wav, F.lit("pcm_s16le")).otherwise(F.lit("flac")).alias(
            "codec"
        ),
        F.unhex(blob_hex).alias("bytes"),
    )
    facts = decode_facts(built, with_snr=False, with_qc=True)
    return (
        facts.where(
            F.col("decode_error").isNull()
            & (
                (F.col("clip_ratio") > 0.01)
                | (F.col("silence_ratio") > 0.9)
                | (F.abs(F.col("dc_offset")) > 0.05)
            )
        )
        .select(
            "clip_id",
            "part",
            F.round("clip_ratio", 6).alias("clip_ratio"),
            F.round("silence_ratio", 6).alias("silence_ratio"),
            F.round("dc_offset", 6).alias("dc_offset"),
        )
        .orderBy("clip_id")
    )


_SQL_AUDIO_QC = """
WITH s AS (
  SELECT CAST(s_suppkey AS BIGINT) AS k FROM supplier
)
SELECT printf('qc-%012d', k) AS clip_id,
       CAST(k % 3 AS VARCHAR) AS part,
       CAST(CASE WHEN k % 4 = 1 THEN 0.1 ELSE 0.0 END AS DOUBLE)
         AS clip_ratio,
       CAST(CASE WHEN k % 4 = 2 THEN 0.95 ELSE 0.0 END AS DOUBLE)
         AS silence_ratio,
       CASE WHEN k % 4 = 3
            THEN round(CAST(3000.0 AS DOUBLE) / 32768, 6)
            ELSE CAST(0.0 AS DOUBLE) END AS dc_offset
FROM s WHERE k % 4 IN (1, 2, 3)
ORDER BY clip_id
"""


def _q_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-doc repetition signals
    (operators/repetition.py): top-word / top-2-gram character-mass
    fractions and the duplicated-3-gram occurrence fraction, one tagged
    explode + two keyed aggregations."""
    from nadeefiler_spark.operators.repetition import repetition_profile

    d = _t(spark, sf_dir, "documents")
    return repetition_profile(d, "doc_id", "text")


_SQL_REPETITION_PROFILE = r"""
WITH base AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS toks
  FROM documents
), meta AS (
  SELECT doc_id, toks, len(toks) AS n_tokens,
         coalesce(list_sum(list_transform(toks, t -> length(t))), 0)
           AS tok_chars
  FROM base
), grams AS (
  SELECT doc_id, 1 AS n, unnest(toks) AS g FROM meta
  UNION ALL
  SELECT doc_id, 2 AS n,
         unnest(list_transform(range(1, len(toks)),
                i -> array_to_string(list_slice(toks, i, i + 1), ' '))) AS g
  FROM meta WHERE len(toks) >= 2
  UNION ALL
  SELECT doc_id, 3 AS n,
         unnest(list_transform(range(1, len(toks) - 1),
                i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS g
  FROM meta WHERE len(toks) >= 3
), counts AS (
  SELECT doc_id, n, g, count(*) AS cnt FROM grams GROUP BY 1, 2, 3
), agg AS (
  SELECT doc_id,
         max(CASE WHEN n = 1 THEN cnt * length(g) END) AS w_mass,
         max(CASE WHEN n = 2 THEN cnt * (length(g) - 1) END) AS g2_mass,
         sum(CASE WHEN n = 3 AND cnt >= 2 THEN cnt END) AS dup3,
         sum(CASE WHEN n = 3 THEN cnt END) AS n3
  FROM counts GROUP BY 1
)
SELECT m.doc_id AS id,
       CAST(m.n_tokens AS BIGINT) AS n_tokens,
       round(CASE WHEN m.tok_chars > 0
                  THEN coalesce(w_mass, 0) * 1.0 / m.tok_chars
                  ELSE 0.0 END, 6) AS top_word_frac,
       round(CASE WHEN m.tok_chars > 0
                  THEN coalesce(g2_mass, 0) * 1.0 / m.tok_chars
                  ELSE 0.0 END, 6) AS top_2gram_frac,
       round(CASE WHEN coalesce(n3, 0) > 0
                  THEN coalesce(dup3, 0) * 1.0 / n3
                  ELSE 0.0 END, 6) AS dup_3gram_frac
FROM meta m LEFT JOIN agg a USING (doc_id)
"""


_PACK_BUDGET = 256


def _q_pack_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (operators/shards.py pack_manifest): streaming
    token-budget packing within deterministic hash shards — one window
    cumsum per shard, then one groupBy; the dataloader's batch index."""
    from nadeefiler_spark.operators import shards

    d = _t(spark, sf_dir, "documents")
    return shards.pack_manifest(
        d, "doc_id", "text", budget=_PACK_BUDGET,
        n_shards=_N_SHARDS, salt=_SHARD_SALT,
    )


def _sql_pack_manifest() -> str:
    return f"""
    WITH k AS (
      SELECT doc_id,
             CAST((((doc_id % 2147483648) * 2654435761 + {_SHARD_SALT})
                   % 2147483648) % {_N_SHARDS} AS INT) AS shard_id,
             CAST(len(list_filter(string_split_regex(text, '\\s+'),
                                  t -> t <> '')) AS BIGINT) AS n_tokens
      FROM documents
    ), c AS (
      SELECT doc_id, shard_id, n_tokens,
             sum(n_tokens) OVER (PARTITION BY shard_id ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM k
    )
    SELECT shard_id,
           CAST((cum - n_tokens) // {_PACK_BUDGET} AS BIGINT) AS pack_id,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           min(doc_id) AS first_id,
           max(doc_id) AS last_id
    FROM c GROUP BY 1, 2
    """


def _q_label_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chance-corrected annotation agreement (operators/consistency.py
    label_agreement): Cohen's kappa between the declared `lang` column
    and the marker-word language heuristic — the scalar audit on top of
    lang_profile's agreement matrix."""
    from nadeefiler_spark.operators.consistency import label_agreement
    from nadeefiler_spark.functions.text import lang_id

    d = _t(spark, sf_dir, "documents")
    return label_agreement(d, F.col("lang"), lang_id("text"))


def _sql_label_agreement() -> str:
    # contingency cells from the SAME matrix SQL as lang_profile, then
    # kappa computed on the cells
    return f"""
    WITH cells AS ({_sql_lang_profile()}),
    tot AS (
      SELECT sum(n) AS n,
             sum(CASE WHEN lang = detected THEN n ELSE 0 END) AS n_agree
      FROM cells
    ),
    chance AS (
      SELECT sum(ma.na * mb.nb) AS chance_mass
      FROM (SELECT lang AS c, sum(n) AS na FROM cells GROUP BY 1) ma
      JOIN (SELECT detected AS c, sum(n) AS nb FROM cells GROUP BY 1) mb
        USING (c)
    )
    SELECT CAST(n AS BIGINT) AS n,
           round(n_agree * 1.0 / n, 6) AS observed,
           round(coalesce(chance_mass, 0) * 1.0 / (n * n), 6) AS expected,
           round(CASE WHEN coalesce(chance_mass, 0) * 1.0 / (n * n) < 1.0
                      THEN (n_agree * 1.0 / n
                            - coalesce(chance_mass, 0) * 1.0 / (n * n))
                           / (1.0 - coalesce(chance_mass, 0) * 1.0 / (n * n))
                      ELSE 0.0 END, 6) AS kappa
    FROM tot CROSS JOIN chance
    """


_SEG_WINDOW_MS, _SEG_OVERLAP_MS = 40, 8


def _q_audio_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-window segmentation manifest (operators/segments.py):
    the training-window prep step, pure metadata expressions — the
    bytes column is never read. Oracled over the documents table with
    n_chars standing in for dur_ms at a constant 16 kHz (the math is
    identical for real clips; tests/test_segments.py runs the same
    operator over datagen clips and checks the tiling invariants)."""
    from nadeefiler_spark.operators.segments import segment_manifest

    d = _t(spark, sf_dir, "documents")
    return segment_manifest(
        d.select(F.col("doc_id").alias("id"),
                 F.col("n_chars").alias("dur_ms"),
                 F.lit(16000).alias("sr_hz")),
        "id", "dur_ms", "sr_hz",
        window_ms=_SEG_WINDOW_MS, overlap_ms=_SEG_OVERLAP_MS,
    )


def _sql_audio_segments() -> str:
    w = _SEG_WINDOW_MS
    st = _SEG_WINDOW_MS - _SEG_OVERLAP_MS
    return f"""
    WITH base AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS dur
      FROM documents WHERE n_chars > 0
    ), s AS (
      SELECT doc_id, dur,
             CASE WHEN dur <= {w} THEN 0
                  ELSE (dur - {w}) + (({st} - ((dur - {w}) % {st})) % {st})
             END AS last
      FROM base
    ), x AS (
      SELECT doc_id, dur,
             unnest(generate_series(0, greatest(last, 0), {st})) AS st
      FROM s
    )
    SELECT doc_id AS id,
           CAST(st // {st} AS BIGINT) AS seg_idx,
           CAST(st AS BIGINT) AS start_ms,
           CAST(least(st + {w}, dur) AS BIGINT) AS end_ms,
           CAST((least(st + {w}, dur) - st) * 16000 // 1000 AS BIGINT)
             AS n_samples
    FROM x
    """


def _q_corpus_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset data card (operators/curate.py corpus_card): the one-row
    corpus-level summary — counts, token totals, mean quality, language
    share, exact-dup count — in ONE aggregation."""
    from nadeefiler_spark.operators.curate import corpus_card

    d = _t(spark, sf_dir, "documents")
    return corpus_card(d, "doc_id", "text", "lang")


def _sql_corpus_card() -> str:
    # built ON the text_quality oracle: same token/quality/fp expressions
    return f"""
    WITH tq AS ({_sql_text_quality()})
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(tq.n_tokens) AS BIGINT) AS total_tokens,
           round(avg(tq.quality), 6) AS avg_quality,
           round(avg(CASE WHEN d.lang = 'en' THEN 1.0 ELSE 0.0 END), 6)
             AS en_frac,
           CAST(count(*) - count(DISTINCT tq.fp) AS BIGINT) AS n_dup_docs,
           round(avg(length(d.text)), 6) AS avg_chars
    FROM documents d JOIN tq ON d.doc_id = tq.doc_id
    """


_SPLIT_FRACTIONS = {"train": 0.8, "val": 0.1, "test": 0.1}


def _q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-split hygiene (operators/decontam.py split_leakage):
    per-split counts of documents whose exact content fingerprint also
    occurs in the training split — the memorization-probe audit run
    before any eval release."""
    from nadeefiler_spark.operators.decontam import split_leakage

    d = _t(spark, sf_dir, "documents")
    return split_leakage(d, "doc_id", "text", _SPLIT_FRACTIONS, salt=17)


def _sql_split_leakage() -> str:
    # the SAME cumulative-threshold integers with_split computes (the
    # float->int boundary crosses engines as a precomputed literal)
    from nadeefiler_spark.operators.sample import threshold

    bounds, cum, lo = [], 0.0, 0
    for name, frac in _SPLIT_FRACTIONS.items():
        cum += frac
        hi = threshold(min(cum, 1.0))
        bounds.append((name, lo, hi))
        lo = hi
    case = " ".join(
        f"WHEN key >= {lo} AND key < {hi} THEN '{name}'"
        for name, lo, hi in bounds
    )
    return f"""
    WITH k AS (
      SELECT ((doc_id % 2147483648) * 2654435761 + 17) % 2147483648 AS key,
             md5(array_to_string(list_sort(list_distinct(list_filter(
                 string_split_regex(lower(text), '\\s+'), t -> t <> ''))),
                 ' ')) AS fp
      FROM documents
    ), s AS (
      SELECT fp, CASE {case} END AS split FROM k
    ), f AS (
      SELECT fp, sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS n_train
      FROM s WHERE split IS NOT NULL GROUP BY 1
    )
    SELECT s.split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN (s.split = 'train' AND f.n_train >= 2)
                           OR (s.split <> 'train' AND f.n_train >= 1)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_leaked
    FROM s JOIN f USING (fp)
    WHERE s.split IS NOT NULL
    GROUP BY 1
    """


def _vad_planted_clips(spark: SparkSession) -> DataFrame:
    """Deterministic speech/silence-pattern WAVs — shared by the
    audio_vad query and its independent twin test
    (tests/test_audio.py::test_vad_stats_twin) so they can't drift.
    Frame patterns at 16 kHz / 20 ms frames (320 samples):
    vad-alt 3 speech + 2 sil + 4 speech + 5 sil; vad-silent all-zero;
    vad-full continuous tone."""
    import numpy as np

    from nadeefiler_spark import audio

    sr, flen = 16000, 320

    def frames(pattern: list[tuple[bool, int]]) -> np.ndarray:
        segs = []
        for speech, n in pattern:
            n_samp = n * flen
            if speech:
                t = np.arange(n_samp)
                segs.append(8000.0 * np.sin(2 * np.pi * 440.0 * t / sr))
            else:
                segs.append(np.zeros(n_samp))
        return np.concatenate(segs)

    rows = []
    for cid, pattern in (
        ("vad-alt", [(True, 3), (False, 2), (True, 4), (False, 5)]),
        ("vad-silent", [(False, 10)]),
        ("vad-full", [(True, 8)]),
    ):
        pcm = frames(pattern).astype(np.int16)
        blob = audio.encode(pcm, sr, "pcm_s16le")
        rows.append(
            (cid, bytearray(blob), sr, int(1000 * len(pcm) / sr),
             "pcm_s16le", "vad", "pcm_s16le")
        )
    return spark.createDataFrame(
        rows,
        "clip_id string, bytes binary, sr_hz int, dur_ms int, "
        "codec string, transcript string, part string",
    )


def _q_audio_vad_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity coverage audit over the DECODED synthetic corpus
    (rules.audio_rules decode_facts with_vad=True): per-clip speech
    ratio, speech-run count, and longest silence, computed on the SAME
    decoded-PCM pass as every other audio fact
    (decode-once-check-many) — planted speech/silence patterns ride
    along a synthetic corpus. No DuckDB oracle (rendered-PCM inputs);
    pinned by the independent twin in
    tests/test_audio.py::test_vad_stats_twin. The DuckDB-oracled twin
    over SQL-built containers is ``audio_vad``."""
    from nadeefiler_spark.rules.audio_rules import decode_facts

    _ensure_pkg_shipped(spark)
    cfg = datagen.GenConfig(n_rows=1200, seed=23, dur_min_ms=40, dur_max_ms=200)
    clips = _cached_clips(spark, cfg).unionByName(_vad_planted_clips(spark))
    facts = decode_facts(clips, with_snr=False, with_vad=True)
    return facts.where(F.col("decode_error").isNull()).select(
        "clip_id",
        F.round("speech_ratio", 6).alias("speech_ratio"),
        "n_speech_runs",
        "longest_silence_ms",
    ).orderBy("clip_id")


def _q_audio_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity detection, DuckDB-oracled (rules.audio_rules
    decode_facts with_vad=True over SQL-built containers): the REAL
    decode + 20 ms frame-RMS gating runs on Spark; the oracle derives
    all three outputs arithmetically because payloads are built in
    whole 320-sample frames (sr 16000) that are either unambiguous
    speech (alternating ±5000 → frame RMS exactly 5000 ≫ the 655
    threshold) or digital silence (zeros → RMS 0): speech_ratio is an
    exact small rational, run count and longest-silence are pure
    integer arithmetic (20 ms per frame). Cases by supplier key:
    k%11==0 all-silence (5 frames — ratio 0, runs 0, 100 ms), k%11==1
    all-speech (3 frames — ratio 1, 1 run, 0 ms), else a
    speech/silence/speech(/silence) pattern with a=1+k%3, b=1+k%4,
    c=1+k%2, d=k%2 frames (2 runs, longest b·20 ms). The
    decoded-synthetic-corpus variant is ``audio_vad_corpus``."""
    _ensure_pkg_shipped(spark)
    from nadeefiler_spark.rules.audio_rules import decode_facts

    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("bigint").alias("k")
    )
    k = F.col("k")
    sp = F.repeat(F.lit("881378EC"), 160)  # one 320-sample speech frame
    si = F.repeat(F.lit("0000"), 320)      # one 320-sample silent frame
    a, b = (k % 3 + 1).cast("int"), (k % 4 + 1).cast("int")
    c, d = (k % 2 + 1).cast("int"), (k % 2).cast("int")
    payload = (
        F.when(k % 11 == 0, F.repeat(si, 5))
        .when(k % 11 == 1, F.repeat(sp, 3))
        .otherwise(F.concat(
            F.repeat(sp, a), F.repeat(si, b), F.repeat(sp, c), F.repeat(si, d)
        ))
    )
    n_frames = (
        F.when(k % 11 == 0, F.lit(5))
        .when(k % 11 == 1, F.lit(3))
        .otherwise(a + b + c + d)
    ).cast("bigint")
    n = (n_frames * 320).cast("bigint")
    sr = F.lit(_BUILT_SR)
    is_wav = k % 2 == 0
    blob_hex = F.when(is_wav, _wav_hex(sr, n, payload)).otherwise(
        _ndf_hex(_NDF_TAG_FLAC, sr, n, payload)
    )
    built = s.select(
        (k % 3).cast("string").alias("part"),
        F.format_string("vad-%012d", k).alias("clip_id"),
        sr.cast("int").alias("sr_hz"),
        F.floor(n * 1000 / _BUILT_SR).cast("int").alias("dur_ms"),
        F.when(is_wav, F.lit("pcm_s16le")).otherwise(F.lit("flac")).alias(
            "codec"
        ),
        F.unhex(blob_hex).alias("bytes"),
    )
    facts = decode_facts(built, with_snr=False, with_vad=True)
    return facts.where(F.col("decode_error").isNull()).select(
        "clip_id",
        F.round("speech_ratio", 6).alias("speech_ratio"),
        "n_speech_runs",
        "longest_silence_ms",
    ).orderBy("clip_id")


_SQL_AUDIO_VAD = """
WITH s AS (
  SELECT CAST(s_suppkey AS BIGINT) AS k FROM supplier
), p AS (
  SELECT k,
         CAST(k % 3 + 1 AS BIGINT) AS a, CAST(k % 4 + 1 AS BIGINT) AS b,
         CAST(k % 2 + 1 AS BIGINT) AS c, CAST(k % 2 AS BIGINT) AS d
  FROM s
)
SELECT printf('vad-%012d', k) AS clip_id,
       CASE WHEN k % 11 = 0 THEN CAST(0.0 AS DOUBLE)
            WHEN k % 11 = 1 THEN CAST(1.0 AS DOUBLE)
            ELSE round(CAST(a + c AS DOUBLE) / (a + b + c + d), 6)
       END AS speech_ratio,
       CAST(CASE WHEN k % 11 = 0 THEN 0
                 WHEN k % 11 = 1 THEN 1
                 ELSE 2 END AS INTEGER) AS n_speech_runs,
       CAST(CASE WHEN k % 11 = 0 THEN 100
                 WHEN k % 11 = 1 THEN 0
                 ELSE b * 20 END AS INTEGER) AS longest_silence_ms
FROM p ORDER BY clip_id
"""


def _q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level snapshot diff (drift.snapshot_diff): which rows were
    added/removed/changed between two corpus releases. The "new"
    snapshot is a deterministic mutation of documents (remove ids
    %23==5, edit text of ids %17==3, add ids %29==7 re-keyed +1e6), so
    the oracle derives the expected diff FROM THE CONSTRUCTION — the
    whole id+hash full-outer-join machinery is checked against ground
    truth rather than a mirrored hash."""
    from nadeefiler_spark.drift import snapshot_diff

    d = _t(spark, sf_dir, "documents")
    kept = d.where(F.col("doc_id") % 23 != 5)
    mutated = kept.withColumn(
        "text",
        F.when(
            (F.col("doc_id") % 17 == 3) & F.col("text").isNotNull(),
            F.concat(F.col("text"), F.lit(" EDITED")),
        ).otherwise(F.col("text")),
    )
    added = d.where(F.col("doc_id") % 29 == 7).withColumn(
        "doc_id", F.col("doc_id") + 1000000
    )
    return snapshot_diff(d, mutated.unionByName(added), "doc_id")


_SQL_SNAPSHOT_DIFF = """
SELECT doc_id AS id, 'removed' AS change FROM documents WHERE doc_id % 23 = 5
UNION ALL
SELECT doc_id AS id, 'changed' AS change FROM documents
WHERE doc_id % 17 = 3 AND doc_id % 23 <> 5 AND text IS NOT NULL
UNION ALL
SELECT doc_id + 1000000 AS id, 'added' AS change FROM documents
WHERE doc_id % 29 = 7
"""


_ADVISOR_COLS = ("o_orderstatus", "o_orderpriority", "o_orderdate",
                 "o_custkey", "o_orderkey")


def _q_layout_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physical-layout advisor (advisor.layout_advisor): measured
    NDV/skew/null stats per candidate column turned into
    partition/bucket/reject recommendations — one melt, two
    aggregations for ALL candidates."""
    from nadeefiler_spark.advisor import layout_advisor

    d = _t(spark, sf_dir, "orders")
    return layout_advisor(d, list(_ADVISOR_COLS))


def _sql_layout_advisor() -> str:
    from nadeefiler_spark import advisor as adv

    melt = " UNION ALL ".join(
        f"SELECT '{c}' AS col, CAST({c} AS VARCHAR) AS value FROM orders"
        for c in _ADVISOR_COLS
    )
    return f"""
    WITH m AS ({melt}),
    counts AS (
      SELECT col, value, count(*) AS cnt FROM m GROUP BY 1, 2
    ),
    stats AS (
      SELECT col, sum(cnt) AS n,
             count(CASE WHEN value IS NOT NULL THEN 1 END) AS ndv,
             coalesce(sum(CASE WHEN value IS NULL THEN cnt END), 0) AS n_null,
             coalesce(max(CASE WHEN value IS NOT NULL THEN cnt END), 0)
               AS top_cnt
      FROM counts GROUP BY 1
    )
    SELECT col,
           CAST(n AS BIGINT) AS n,
           CAST(ndv AS BIGINT) AS ndv,
           round(n_null * 1.0 / n, 6) AS null_frac,
           round(top_cnt * 1.0 / n, 6) AS top_frac,
           CASE WHEN ndv >= {adv.PART_NDV_MIN} AND ndv <= {adv.PART_NDV_MAX}
                     AND top_cnt * 1.0 / n <= {adv.PART_TOP_FRAC_MAX}
                     AND n_null * 1.0 / n <= {adv.PART_NULL_FRAC_MAX}
                THEN 'partition'
                WHEN ndv > {adv.BUCKET_NDV_MIN}
                     AND top_cnt * 1.0 / n <= {adv.PART_TOP_FRAC_MAX}
                THEN 'bucket'
                ELSE 'reject' END AS recommendation
    FROM stats
    """


def _q_chi2_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample chi-square categorical drift (drift.chi2_drift):
    each nation's mktsegment mix tested against the global mix — the
    p-value-capable counterpart to the PSI/KS pair in drift_metrics,
    same histogram input shape."""
    from nadeefiler_spark.drift import chi2_drift

    c = _t(spark, sf_dir, "customer")
    hist = (
        c.groupBy(
            F.col("c_nationkey").cast("string").alias("part"),
            F.col("c_mktsegment").alias("bin"),
        )
        .agg(F.count(F.lit(1)).alias("count"))
        .select("part", F.lit("c_mktsegment").alias("key"),
                F.lit("value").alias("kind"), "bin", "count")
    )
    baseline = (
        c.groupBy(F.col("c_mktsegment").alias("bin"))
        .agg(F.count(F.lit(1)).alias("count"))
        .select(F.lit("c_mktsegment").alias("key"),
                F.lit("value").alias("kind"), "bin", "count")
    )
    return chi2_drift(hist, baseline)


_SQL_CHI2_DRIFT = """
WITH h AS (
  SELECT CAST(c_nationkey AS VARCHAR) AS part, c_mktsegment AS bin,
         count(*) AS c_p
  FROM customer GROUP BY 1, 2
), b AS (
  SELECT c_mktsegment AS bin, count(*) AS c_q FROM customer GROUP BY 1
), grid AS (
  SELECT p.part, ab.bin
  FROM (SELECT DISTINCT part FROM h) p
  CROSS JOIN (SELECT bin FROM b UNION SELECT bin FROM h) ab
), j AS (
  SELECT g.part, g.bin, coalesce(h.c_p, 0) AS c_p, coalesce(b.c_q, 0) AS c_q
  FROM grid g
  LEFT JOIN h ON h.part = g.part AND h.bin = g.bin
  LEFT JOIN b ON b.bin = g.bin
), t AS (
  SELECT part, bin, c_p, c_q,
         sum(c_p) OVER (PARTITION BY part) AS n_p,
         sum(c_q) OVER (PARTITION BY part) AS n_q
  FROM j
), x AS (
  SELECT part, c_p, c_q, n_p, n_q,
         (c_p + c_q) * 1.0 / greatest(n_p + n_q, 1) AS pool
  FROM t
)
SELECT part, 'c_mktsegment' AS key, 'value' AS kind,
       round(sum(
         (CASE WHEN n_p * pool > 0
               THEN (c_p - n_p * pool) * (c_p - n_p * pool) / (n_p * pool)
               ELSE 0 END)
         + (CASE WHEN n_q * pool > 0
                 THEN (c_q - n_q * pool) * (c_q - n_q * pool) / (n_q * pool)
                 ELSE 0 END)
       ), 6) AS chi2,
       CAST(count(CASE WHEN c_p + c_q > 0 THEN 1 END) - 1 AS BIGINT) AS dof,
       CAST(max(n_p) AS BIGINT) AS n_p,
       CAST(max(n_q) AS BIGINT) AS n_q
FROM x GROUP BY 1
"""


def _q_drift_explain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift localization (drift.drift_explain): for each event_type's
    bucketed value histogram, the top-3 bins by PSI contribution vs the
    pooled baseline — the "drifted HOW?" view behind every
    drift_metrics alert, over the same profile-stage histograms."""
    e = _t(spark, sf_dir, "events")
    cfg = profiler.ProfileConfig(part_col="event_type", bucket_hist_cols={"value": 5.0})
    hist = profiler.profile_histograms(e, cfg)
    return drift.drift_explain(hist, drift.global_baseline(hist), k=3)


_SQL_DRIFT_EXPLAIN = """
WITH hist AS (
  SELECT event_type AS part, 'value' AS key, 'bucket' AS kind,
         CAST(CAST(floor("value" / 5.0) * 5.0 AS BIGINT) AS VARCHAR) AS bin,
         count(*) AS c
  FROM events GROUP BY 1, 4
),
base AS (SELECT key, kind, bin, CAST(sum(c) AS BIGINT) AS cq FROM hist GROUP BY 1, 2, 3),
parts AS (SELECT DISTINCT part, key, kind FROM hist),
bins AS (SELECT DISTINCT key, kind, bin FROM hist),
grid AS (SELECT p.part, b.key, b.kind, b.bin FROM parts p JOIN bins b USING (key, kind)),
j AS (
  SELECT g.part, g.key, g.kind, g.bin,
         coalesce(h.c, 0) AS c_p, coalesce(q.cq, 0) AS c_q
  FROM grid g
  LEFT JOIN hist h ON h.part = g.part AND h.bin = g.bin
  LEFT JOIN base q ON q.bin = g.bin
),
probs AS (
  SELECT part, key, kind, bin, c_p, c_q,
    greatest(c_p / greatest(CAST(sum(c_p) OVER w AS BIGINT), 1), 1e-4) AS p,
    greatest(c_q / greatest(CAST(sum(c_q) OVER w AS BIGINT), 1), 1e-4) AS q
  FROM j
  WINDOW w AS (PARTITION BY part, key, kind)
),
ranked AS (
  SELECT part, key, kind, bin, c_p, c_q, p, q,
         (p - q) * ln(p / q) AS psi_contrib,
         row_number() OVER (PARTITION BY part, key, kind
                            ORDER BY (p - q) * ln(p / q) DESC, bin) AS rank
  FROM probs
)
SELECT part, key, kind, bin,
       CAST(c_p AS BIGINT) AS c_p, CAST(c_q AS BIGINT) AS c_q,
       round(p, 6) AS p, round(q, 6) AS q,
       round(psi_contrib, 6) AS psi_contrib, rank
FROM ranked WHERE rank <= 3
"""


def _q_transcript_cer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tolerance-aware transcript agreement (rules/constraints.CerRule):
    documents stand in for clips, and an all-'e'-deleted copy of each
    text stands in for the ASR reference — per-document character error
    rate via built-in codepoint levenshtein after lowercase+whitespace
    normalization, violations above max_cer=0.03. The detail's measured
    rate is re-parsed to a double so the DuckDB oracle compares numbers
    rather than double-to-string formatting."""
    from nadeefiler_spark.rules.base import RuleContext
    from nadeefiler_spark.rules.constraints import CerRule

    d = _t(spark, sf_dir, "documents")
    clips = d.select(
        F.col("doc_id").cast("string").alias("clip_id"),
        F.lit("docs").alias("part"),
        F.col("text").alias("transcript"),
    )
    refs = d.select(
        F.col("doc_id").cast("string").alias("clip_id"),
        F.regexp_replace("text", "e", "").alias("transcript"),
    )
    ctx = RuleContext(spark=spark, clips=clips, refs=refs,
                      key_col="clip_id", part_col="part")
    out = CerRule(max_cer=0.03, spread=32).violations(ctx)
    return out.select(
        "clip_id",
        F.substring("detail", 5, 100).cast("double").alias("cer"),
    ).orderBy("clip_id")


_SQL_TRANSCRIPT_CER = """
WITH pairs AS (
  SELECT CAST(doc_id AS VARCHAR) AS clip_id,
         trim(regexp_replace(lower(regexp_replace(text, 'e', '', 'g')),
                             '\\s+', ' ', 'g')) AS a,
         trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS b
  FROM documents
  WHERE text IS NOT NULL
), scored AS (
  SELECT clip_id,
         levenshtein(a, b) / greatest(length(a), 1) AS cer
  FROM pairs
)
SELECT clip_id, round(cer, 4) AS cer
FROM scored WHERE cer > 0.03
ORDER BY clip_id
"""


def _q_changepoint_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metric-series changepoint dating (drift.changepoint_scan): each
    event_type's per-day event-count series scanned for its single best
    binary-segmentation split — drift tests say a series MOVED,
    drift_explain says WHERE in the distribution, this says WHEN in the
    timeline. Two window passes over the aggregated series (cumulative
    sums then argmax), shuffle ∝ series points, nothing per-event."""
    e = _t(spark, sf_dir, "events")
    series = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    out = drift.changepoint_scan(series, "cnt", "day", ("event_type",))
    return out.select(
        "event_type",
        F.col("split_at").cast("string").alias("split_at"),
        "n", "mean_before", "mean_after", "score",
    ).orderBy("event_type")


_SQL_CHANGEPOINT_SCAN = """
WITH series AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS DOUBLE) AS v
  FROM events GROUP BY 1, 2
), c AS (
  SELECT event_type, day,
         sum(v) OVER w AS s, sum(v * v) OVER w AS q, count(v) OVER w AS i,
         sum(v) OVER wp AS S2, sum(v * v) OVER wp AS Q2, count(v) OVER wp AS n
  FROM series
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wp AS (PARTITION BY event_type)
), sc AS (
  SELECT event_type, day, n,
         s / i AS ml, (S2 - s) / (n - i) AS mr,
         abs(s / i - (S2 - s) / (n - i))
           / (sqrt(greatest(((q - s * s / i)
              + ((Q2 - q) - (S2 - s) * (S2 - s) / (n - i))) / (n - 2), 0.0))
              + 0.0001)
           * sqrt(i * (n - i) / n) AS score
  FROM c WHERE i >= 2 AND n - i >= 2 AND n > 2
), best AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY score DESC, day ASC) AS rk
  FROM sc
)
SELECT event_type, CAST(day AS VARCHAR) AS split_at, CAST(n AS BIGINT) AS n,
       round(ml, 6) AS mean_before, round(mr, 6) AS mean_after,
       round(score, 6) AS score
FROM best WHERE rk = 1 ORDER BY event_type
"""


def _q_wasserstein_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wasserstein-1 drift (drift.wasserstein_drift): earth-mover
    distance of each event_type's bucketed value histogram vs the
    pooled baseline — the magnitude-aware complement to the KS max-gap
    in drift_metrics, over the same profile-stage histograms."""
    e = _t(spark, sf_dir, "events")
    cfg = profiler.ProfileConfig(part_col="event_type", bucket_hist_cols={"value": 5.0})
    hist = profiler.profile_histograms(e, cfg)
    return drift.wasserstein_drift(hist, drift.global_baseline(hist), bin_width=5.0)


_SQL_WASSERSTEIN_DRIFT = """
WITH hist AS (
  SELECT event_type AS part, 'value' AS key, 'bucket' AS kind,
         CAST(CAST(floor("value" / 5.0) * 5.0 AS BIGINT) AS VARCHAR) AS bin,
         count(*) AS c
  FROM events GROUP BY 1, 4
),
base AS (SELECT key, kind, bin, CAST(sum(c) AS BIGINT) AS cq FROM hist GROUP BY 1, 2, 3),
parts AS (SELECT DISTINCT part, key, kind FROM hist),
bins AS (SELECT DISTINCT key, kind, bin FROM hist),
grid AS (SELECT p.part, b.key, b.kind, b.bin FROM parts p JOIN bins b USING (key, kind)),
j AS (
  SELECT g.part, g.key, g.kind, g.bin,
         coalesce(h.c, 0) AS c_p, coalesce(q.cq, 0) AS c_q
  FROM grid g
  LEFT JOIN hist h ON h.part = g.part AND h.bin = g.bin
  LEFT JOIN base q ON q.bin = g.bin
),
cdfs AS (
  SELECT part, key, kind,
    (CAST(sum(c_p) OVER ord AS BIGINT) * 1.0) / greatest(CAST(sum(c_p) OVER w AS BIGINT), 1)
      - (CAST(sum(c_q) OVER ord AS BIGINT) * 1.0) / greatest(CAST(sum(c_q) OVER w AS BIGINT), 1)
      AS cdf_gap
  FROM j
  WINDOW w AS (PARTITION BY part, key, kind),
         ord AS (PARTITION BY part, key, kind
                 ORDER BY try_cast(bin AS DOUBLE) ASC NULLS LAST, bin
                 ROWS UNBOUNDED PRECEDING)
)
SELECT part, key, kind, round(5.0 * sum(abs(cdf_gap)), 6) AS w1
FROM cdfs GROUP BY 1, 2, 3
"""


def _q_quality_slices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slice finder (operators/slices.quality_slices): per (lang,
    source) slice, the heuristic-quality mean and its standard-error
    z-score vs the corpus — the triage view over corpus quality."""
    from nadeefiler_spark.operators.slices import quality_slices

    d = _t(spark, sf_dir, "documents")
    return quality_slices(
        d, tx.quality_score("text"), ["lang", "source"], min_support=5
    )


def _sql_quality_slices() -> str:
    # quality from the text_quality oracle; same melt + z math
    return f"""
    WITH tq AS ({_sql_text_quality()}),
    base AS (
      SELECT d.lang, d.source, tq.quality AS metric
      FROM documents d JOIN tq ON d.doc_id = tq.doc_id
    ),
    m AS (
      SELECT 'lang' AS dim, CAST(lang AS VARCHAR) AS value, metric FROM base
      UNION ALL
      SELECT 'source' AS dim, CAST(source AS VARCHAR) AS value, metric FROM base
    ),
    s AS (
      SELECT dim, value, count(metric) AS n, avg(metric) AS mean_metric
      FROM m GROUP BY 1, 2
    ),
    g AS (
      SELECT avg(metric) AS g_mean, stddev_pop(metric) AS g_std FROM base
    )
    SELECT dim, value, CAST(n AS BIGINT) AS n,
           round(mean_metric, 6) AS mean_metric,
           round(CASE WHEN g_std > 0 AND n > 0
                      THEN (mean_metric - g_mean) / (g_std / sqrt(n))
                      ELSE 0.0 END, 6) AS z
    FROM s CROSS JOIN g
    WHERE n >= 5
    """


_LINE_W = 8  # tokens per synthesized line (documents carry no newlines)


def _q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level line dedup / boilerplate removal
    (operators/linededup.dedup_lines): documents are line-structured
    deterministically (8-token non-overlapping chunks joined by \\n —
    the synthetic table has no newlines), then every line occurring in
    >= 2 distinct documents is removed from all of them. One output row
    per document; the rewritten text is md5'd to keep rows small."""
    from nadeefiler_spark.operators.linededup import dedup_lines

    d = _t(spark, sf_dir, "documents").where(tx.token_count("text") > 0)
    lined = d.select(
        "doc_id",
        F.concat_ws("\n", tx.token_chunks("text", _LINE_W, 0)).alias("text"),
    )
    return dedup_lines(lined, "doc_id", "text", min_docs=2).select(
        "doc_id",
        F.md5("clean_text").alias("clean_md5"),
        "n_lines",
        "n_removed",
    )


_SQL_LINE_DEDUP = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS tk
  FROM documents
),
ln AS (
  SELECT doc_id, tk,
         unnest(range(0, CAST(ceil(len(tk) / {_LINE_W}.0) AS INT))) AS line_no
  FROM toks WHERE len(tk) > 0
),
l2 AS (
  SELECT doc_id, line_no,
         array_to_string(tk[line_no * {_LINE_W} + 1 : (line_no + 1) * {_LINE_W}],
                         ' ') AS line
  FROM ln
),
flag AS (
  SELECT line FROM l2 GROUP BY line HAVING count(DISTINCT doc_id) >= 2
)
SELECT l.doc_id,
       md5(coalesce(
         string_agg(l.line, chr(10) ORDER BY l.line_no)
           FILTER (WHERE f.line IS NULL), '')) AS clean_md5,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(count(*) FILTER (WHERE f.line IS NOT NULL) AS BIGINT) AS n_removed
FROM l2 l LEFT JOIN flag f USING (line)
GROUP BY l.doc_id
"""


def _q_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity quality scores (operators/lm.py): add-0.5
    smoothing, self-trained on the corpus (the contamination-free
    exact mode the oracle can replay); documents with <2 tokens are
    excluded so no NULL doubles reach the hash compare."""
    from nadeefiler_spark.operators.lm import perplexity_scores

    d = _t(spark, sf_dir, "documents")
    return perplexity_scores(d, "doc_id", "text", alpha=0.5).where(
        F.col("n_bigrams") >= 1
    )


_SQL_LM_SCORES = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS tk
  FROM documents
),
pos AS (
  SELECT doc_id, unnest(tk) AS w, unnest(range(1, len(tk) + 1)) AS p
  FROM toks
),
pairs AS (
  SELECT doc_id, w AS w1,
         lead(w) OVER (PARTITION BY doc_id ORDER BY p) AS w2
  FROM pos QUALIFY w2 IS NOT NULL
),
uni AS (SELECT w, count(*) AS c1 FROM pos GROUP BY 1),
big AS (SELECT w1, w2, count(*) AS c2 FROM pairs GROUP BY 1, 2),
v AS (SELECT count(*) AS vv FROM uni),
nll AS (
  SELECT p.doc_id,
         -ln((coalesce(b.c2, 0) + 0.5) / (coalesce(u.c1, 0) + 0.5 * v.vv))
           AS nll,
         b.c2 IS NULL AS unseen
  FROM pairs p
  LEFT JOIN big b ON p.w1 = b.w1 AND p.w2 = b.w2
  LEFT JOIN uni u ON p.w1 = u.w
  CROSS JOIN v
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(count(*) FILTER (WHERE unseen) AS BIGINT) AS n_unseen,
       round(avg(nll), 6) AS avg_nll,
       round(exp(avg(nll)), 6) AS ppl
FROM nll GROUP BY doc_id HAVING count(*) >= 1
"""


def _q_vocab_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language vocabulary statistics (operators/lm.vocab_profile):
    type-token ratio, hapax share, top-type token share — the template-
    spam / tokenizer-breakage screens, no global sort anywhere."""
    from nadeefiler_spark.operators.lm import vocab_profile

    d = _t(spark, sf_dir, "documents")
    return vocab_profile(d, "text", ("lang",))


_SQL_VOCAB_PROFILE = """
WITH pos AS (
  SELECT lang, unnest(
    list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS w
  FROM documents
),
counts AS (SELECT lang, w, count(*) AS c FROM pos GROUP BY 1, 2)
SELECT lang,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_types,
       round(count(*) * 1.0 / sum(c), 6) AS ttr,
       CAST(count(*) FILTER (WHERE c = 1) AS BIGINT) AS hapax_types,
       round(count(*) FILTER (WHERE c = 1) * 1.0 / count(*), 6)
         AS hapax_ratio,
       round(max(c) * 1.0 / sum(c), 6) AS top1_share
FROM counts GROUP BY lang
"""


def _q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unseen-vocabulary estimation (operators/lm.vocab_coverage):
    per-language Good-Turing coverage + bias-corrected Chao1 richness
    from singleton/doubleton counts — the acquisition-stopping signal
    ("is this language's long tail exhausted?") next to
    vocab_profile's composition screens, same one-explode plan."""
    from nadeefiler_spark.operators.lm import vocab_coverage

    d = _t(spark, sf_dir, "documents")
    return vocab_coverage(d, "text", ("lang",))


_SQL_VOCAB_COVERAGE = """
WITH pos AS (
  SELECT lang, unnest(
    list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS w
  FROM documents
),
counts AS (SELECT lang, w, count(*) AS c FROM pos GROUP BY 1, 2)
SELECT lang,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_types,
       CAST(count(*) FILTER (WHERE c = 1) AS BIGINT) AS f1,
       CAST(count(*) FILTER (WHERE c = 2) AS BIGINT) AS f2,
       round(count(*)
             + (count(*) FILTER (WHERE c = 1)
                * (count(*) FILTER (WHERE c = 1) - 1))
               / (2.0 * (count(*) FILTER (WHERE c = 2) + 1)), 6) AS chao1,
       round(1.0 - count(*) FILTER (WHERE c = 1) * 1.0 / sum(c), 6)
         AS coverage
FROM counts GROUP BY lang
"""


def _q_review_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman review-budget allocation (operators/sample
    .neyman_allocation): a 1,000-row human-QA budget split across
    event_type strata ∝ N_h·σ_h, largest-remainder integerized so the
    allocations sum exactly to the budget — the 'where do reviewers
    look this week' planner over an already-aggregated stats table."""
    from nadeefiler_spark.operators.sample import neyman_allocation

    e = _t(spark, sf_dir, "events")
    stats = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.stddev_pop("value").alias("sd"),
    )
    return neyman_allocation(stats, ["event_type"], "n", "sd", budget=1000)


_SQL_REVIEW_ALLOCATION = """
WITH stats AS (
  SELECT event_type, count(*) AS n, stddev_pop("value") AS sd
  FROM events GROUP BY 1
),
w AS (
  SELECT event_type, n, coalesce(sd, 0) AS sd,
         CASE WHEN sum(n * coalesce(sd, 0)) OVER () > 0
              THEN n * coalesce(sd, 0) / sum(n * coalesce(sd, 0)) OVER ()
              ELSE n * 1.0 / sum(n) OVER () END AS wt
  FROM stats
),
r AS (
  SELECT event_type, n, sd, wt,
         1000.0 * wt AS raw,
         floor(1000.0 * wt) AS base,
         1000.0 * wt - floor(1000.0 * wt) AS frac
  FROM w
),
t AS (
  SELECT event_type, n, sd, wt, base,
         row_number() OVER (ORDER BY frac DESC, event_type) AS rk,
         1000 - sum(base) OVER () AS leftover
  FROM r
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_rows,
       round(sd, 6) AS spread,
       round(wt, 6) AS weight,
       CAST(least(base + (CASE WHEN rk <= leftover THEN 1 ELSE 0 END),
                  n) AS BIGINT) AS alloc
FROM t
"""


def _q_metric_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-history anomaly detection (drift.metric_anomaly): the daily
    per-event-type volume series screened against its trailing 7-point
    mean ± 2σ — the Deequ-style repeated-validation check the engine
    metrics table feeds in production."""
    from nadeefiler_spark.drift import metric_anomaly

    ev = _t(spark, sf_dir, "events")
    series = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("v"))
    return metric_anomaly(
        series, "v", "day", key_cols=("event_type",), window=7, k=2.0
    ).withColumn("day", F.col("day").cast("string"))


_SQL_METRIC_ANOMALY = """
WITH series AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(count(*) AS DOUBLE) AS v
  FROM events GROUP BY 1, 2
),
w AS (
  SELECT event_type, day, v,
         count(v) OVER win AS n_prev,
         avg(v) OVER win AS mean_prev,
         stddev_samp(v) OVER win AS std_prev
  FROM series
  WINDOW win AS (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
       round(v, 6) AS value,
       CAST(n_prev AS BIGINT) AS n_prev,
       round(CASE WHEN n_prev >= 3 THEN mean_prev ELSE 0 END, 6)
         AS mean_prev,
       round(CASE WHEN n_prev >= 3 AND std_prev > 0
                  THEN (v - mean_prev) / std_prev ELSE 0 END, 6) AS z,
       coalesce(CASE WHEN n_prev >= 3 THEN
           CASE WHEN std_prev > 0
                THEN abs((v - mean_prev) / std_prev) > 2.0
                ELSE v <> mean_prev END
         END, false) AS anomaly
FROM w
"""


def _q_domain_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style domain importance scores (operators/lm.
    domain_logratio_scores): every document scored by ln(p_target /
    p_raw) summed over its tokens, target = the German subset —
    the importance-sampling signal for tilting a mix toward a domain."""
    from nadeefiler_spark.operators.lm import domain_logratio_scores

    d = _t(spark, sf_dir, "documents")
    return domain_logratio_scores(
        d, d.where(F.col("lang") == "de"), "doc_id", "text", alpha=0.5
    ).where(F.col("n_tokens") >= 1)


_SQL_DOMAIN_SCORES = """
WITH pos AS (
  SELECT doc_id, lang,
         unnest(list_filter(string_split_regex(text, '\\s+'),
                            t -> t <> '')) AS w
  FROM documents
),
r AS (SELECT w, count(*) AS c_r FROM pos GROUP BY 1),
t AS (SELECT w, count(*) AS c_t FROM pos WHERE lang = 'de' GROUP BY 1),
scal AS (
  SELECT (SELECT count(DISTINCT w)
          FROM (SELECT w FROM r UNION ALL SELECT w FROM t)) AS vv,
         (SELECT sum(c_r) FROM r) AS n_r,
         (SELECT coalesce(sum(c_t), 0) FROM t) AS n_t
)
SELECT p.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       round(sum(
         ln((coalesce(t.c_t, 0) + 0.5) / (s.n_t + 0.5 * s.vv))
         - ln((r.c_r + 0.5) / (s.n_r + 0.5 * s.vv))
       ), 6) AS sum_log_ratio,
       round(sum(
         ln((coalesce(t.c_t, 0) + 0.5) / (s.n_t + 0.5 * s.vv))
         - ln((r.c_r + 0.5) / (s.n_r + 0.5 * s.vv))
       ) / count(*), 6) AS avg_log_ratio
FROM pos p
JOIN r ON p.w = r.w
LEFT JOIN t ON p.w = t.w
CROSS JOIN scal s
GROUP BY p.doc_id
"""


_GROUP_SPLIT_FRACTIONS = {"train": 0.8, "val": 0.1, "test": 0.1}


def _q_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-proof eval splits (operators/sample.with_split_by_group):
    split assigned by the content fingerprint, so exact-duplicate
    documents land in the same split by construction."""
    from nadeefiler_spark.operators.sample import with_split_by_group

    d = _t(spark, sf_dir, "documents")
    return with_split_by_group(
        d, tx.fingerprint("text"), _GROUP_SPLIT_FRACTIONS, salt=17
    ).select("doc_id", "split")


def _sql_group_split() -> str:
    from nadeefiler_spark.operators import sample as smp

    t_train = smp.threshold(0.8)
    t_val = smp.threshold(0.8 + 0.1)
    return f"""
    WITH base AS (
      SELECT doc_id,
             md5(array_to_string(list_sort(list_distinct(list_filter(
               string_split_regex(lower(text), '\\s+'), t -> t <> ''))),
               ' ')) AS fp
      FROM documents
    ),
    k AS (
      SELECT doc_id,
             ((CAST(('0x' || substr(md5(fp), 1, 15)) AS BIGINT)
               % 2147483648) * 2654435761 + 17) % 2147483648 AS key
      FROM base
    )
    SELECT doc_id,
           CASE WHEN key < {t_train} THEN 'train'
                WHEN key < {t_val} THEN 'val'
                ELSE 'test' END AS split
    FROM k
    """


def _loudness_planted_clips(spark: SparkSession) -> DataFrame:
    """Three deterministic level-calibration clips (full-scale square,
    −20 dBFS-peak sine, digital silence) — shared by the audio_loudness
    query and its pure-numpy twin test so the two can't drift."""
    import numpy as np

    from nadeefiler_spark import audio

    sr, n = 16000, 1600
    t = np.arange(n)
    rows = []
    for cid, pcm in (
        ("loud-square", np.where((t // 8) % 2 == 0, 32767, -32768)),
        ("loud-sine01", np.round(3276.8 * np.sin(2 * np.pi * 440.0 * t / sr))),
        ("loud-silent", np.zeros(n)),
        # sparse full-scale impulses: high crest factor, the clip whose
        # RMS-normalizing gain pushes the peak past full scale
        ("loud-spikes", np.where(t % 400 == 0, 32767, 0)),
    ):
        blob = audio.encode(pcm.astype(np.int16), sr, "pcm_s16le")
        rows.append((cid, bytearray(blob), sr, 100, "pcm_s16le", "ld", "pcm_s16le"))
    return spark.createDataFrame(
        rows,
        "clip_id string, bytes binary, sr_hz int, dur_ms int, "
        "codec string, transcript string, part string",
    )


def _q_audio_loudness_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gain-normalization manifest over the DECODED synthetic corpus
    (rules.audio_rules.loudness_stats): per-clip RMS/peak dBFS and the
    gain to a −20 dBFS target, with a would-clip flag, computed on the
    SAME decoded-PCM pass as every other audio fact — planted
    level-calibration clips ride along a synthetic corpus. No DuckDB
    oracle (rendered-PCM inputs); pinned by the pure-numpy twin in
    tests/test_audio.py::test_loudness_stats_twin. The DuckDB-oracled
    twin over SQL-built containers is ``audio_loudness``."""
    from nadeefiler_spark.rules.audio_rules import loudness_stats

    _ensure_pkg_shipped(spark)
    cfg = datagen.GenConfig(n_rows=1200, seed=31, dur_min_ms=40, dur_max_ms=200)
    clips = _cached_clips(spark, cfg).unionByName(_loudness_planted_clips(spark))
    return (
        loudness_stats(clips, target_dbfs=-20.0)
        .where(F.col("decode_error").isNull())
        .select("clip_id", "rms_dbfs", "peak_dbfs", "gain_db", "would_clip")
        .orderBy("clip_id")
    )


def _q_audio_loudness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gain-normalization manifest, DuckDB-oracled
    (rules.audio_rules.loudness_stats over SQL-built containers): the
    REAL decode + float64 level math runs on Spark; the oracle mirrors
    it EXACTLY because every intermediate is exact in IEEE double —
    x = pcm/32768 scales by a power of two, x² is an exact multiple of
    2⁻³⁰, every partial sum stays an integer multiple of 2⁻³⁰ below
    2⁵³ (so numpy's pairwise summation and DuckDB's integer sum agree
    bit-for-bit regardless of order), leaving ONE rounding at the /n,
    one correctly-rounded sqrt, and 20·log10 through the same host
    libm on both engines. 1000-sample cases by k%4: constant ±5000
    (−16.33 dBFS), constant ±32000 (loud, −0.21), constant ±300
    (quiet, −40.77), and a peaky clip (2 samples at ±32600 over a
    ±100 floor — crest ≈ 30 dB, the one would_clip=true case; margins
    are tens of dB from every threshold). The decoded-synthetic-corpus
    variant is ``audio_loudness_corpus``."""
    _ensure_pkg_shipped(spark)
    from nadeefiler_spark.rules.audio_rules import loudness_stats

    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("bigint").alias("k")
    )
    k = F.col("k")
    # le16 hex: 5000='8813' -5000='78EC' 32000='007D' -32000='0083'
    # 300='2C01' -300='D4FE' 32600='587F' -32600='A880' 100='6400' -100='9CFF'
    payload = (
        F.when(k % 4 == 0, F.repeat(F.lit("881378EC"), 500))
        .when(k % 4 == 1, F.repeat(F.lit("007D0083"), 500))
        .when(k % 4 == 2, F.repeat(F.lit("2C01D4FE"), 500))
        .otherwise(F.concat(F.lit("587FA880"), F.repeat(F.lit("64009CFF"), 499)))
    )
    n = F.lit(1000).cast("bigint")
    sr = F.lit(_BUILT_SR)
    is_wav = k % 2 == 0
    blob_hex = F.when(is_wav, _wav_hex(sr, n, payload)).otherwise(
        _ndf_hex(_NDF_TAG_FLAC, sr, n, payload)
    )
    built = s.select(
        (k % 3).cast("string").alias("part"),
        F.format_string("ld-%012d", k).alias("clip_id"),
        sr.cast("int").alias("sr_hz"),
        F.lit(62).alias("dur_ms"),
        F.when(is_wav, F.lit("pcm_s16le")).otherwise(F.lit("flac")).alias(
            "codec"
        ),
        F.unhex(blob_hex).alias("bytes"),
    )
    return (
        loudness_stats(built, target_dbfs=-20.0)
        .where(F.col("decode_error").isNull())
        .select("clip_id", "rms_dbfs", "peak_dbfs", "gain_db", "would_clip")
        .orderBy("clip_id")
    )


_SQL_AUDIO_LOUDNESS = """
WITH s AS (
  SELECT CAST(s_suppkey AS BIGINT) AS k FROM supplier
), lv AS (
  -- exact integer sum of squares and max |sample| per planted case
  SELECT k,
         CASE k % 4
           WHEN 0 THEN 1000 * CAST(5000 AS BIGINT) * 5000
           WHEN 1 THEN 1000 * CAST(32000 AS BIGINT) * 32000
           WHEN 2 THEN 1000 * CAST(300 AS BIGINT) * 300
           ELSE 2 * CAST(32600 AS BIGINT) * 32600 + 998 * 100 * 100
         END AS sq_sum,
         CASE k % 4 WHEN 0 THEN 5000 WHEN 1 THEN 32000
                    WHEN 2 THEN 300 ELSE 32600 END AS mx
  FROM s
), db AS (
  SELECT k,
         20.0 * log10(sqrt((CAST(sq_sum AS DOUBLE) / 1073741824.0) / 1000))
           AS rms_db,
         20.0 * log10(CAST(mx AS DOUBLE) / 32768.0) AS peak_db
  FROM lv
)
SELECT printf('ld-%012d', k) AS clip_id,
       round(rms_db, 6) AS rms_dbfs,
       round(peak_db, 6) AS peak_dbfs,
       round(-20.0 - rms_db, 6) AS gain_db,
       (peak_db + (-20.0 - rms_db)) > 0.0 AS would_clip
FROM db ORDER BY clip_id
"""


_MIX_WEIGHTS = {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1}
_MIX_BUDGET = 1_000_000


def _q_mixing_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-training data-mixing plan (operators/curate.mixing_plan):
    per source, measured token supply vs the target mix's ask and the
    repeat factor that closes the gap."""
    from nadeefiler_spark.operators.curate import mixing_plan

    d = _t(spark, sf_dir, "documents")
    return mixing_plan(d, "text", "source", _MIX_WEIGHTS, _MIX_BUDGET)


def _sql_mixing_plan() -> str:
    cases = " ".join(
        f"WHEN '{s}' THEN {w}" for s, w in sorted(_MIX_WEIGHTS.items())
    )
    return f"""
    WITH agg AS (
      SELECT source, count(*) AS n_docs,
             sum(len(list_filter(string_split_regex(text, '\\s+'),
                                 t -> t <> ''))) AS n_tokens,
             CASE source {cases} ELSE 0.0 END AS w
      FROM documents GROUP BY source
    )
    SELECT source,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           round(w, 6) AS weight,
           CAST(round(w * {_MIX_BUDGET}.0) AS BIGINT) AS target_tokens,
           round(CASE WHEN n_tokens > 0
                      THEN w * {_MIX_BUDGET}.0 / n_tokens
                      ELSE 0.0 END, 6) AS epochs
    FROM agg
    """


def _bandwidth_planted_clips(spark: SparkSession) -> DataFrame:
    """Three provenance-calibration clips: deterministic full-band hash
    noise, the same noise squeezed through 8 kHz (down+up resample —
    the upsample-provenance signature), and a pure tone. Shared by the
    audio_bandwidth query and its pure-numpy twin test."""
    import numpy as np

    from nadeefiler_spark import audio
    from nadeefiler_spark.operators.audio_features import resample_pcm

    sr, n = 16000, 3200
    t = np.arange(n)
    noise = ((((t * 2654435761 + 12345) % 65536) - 32768) * 0.3).astype(np.int16)
    squeezed = resample_pcm(resample_pcm(noise, sr, 8000), 8000, sr)
    tone = np.round(8000 * np.sin(2 * np.pi * 440.0 * t / sr)).astype(np.int16)
    rows = [
        (cid, bytearray(audio.encode(pcm, sr, "pcm_s16le")), sr, 200,
         "pcm_s16le", "bw", "pcm_s16le")
        for cid, pcm in (
            ("bw-noise", noise), ("bw-upsampled", squeezed), ("bw-tone", tone),
        )
    ]
    return spark.createDataFrame(
        rows,
        "clip_id string, bytes binary, sr_hz int, dur_ms int, "
        "codec string, transcript string, part string",
    )


def _q_audio_bandwidth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective-bandwidth / upsample-provenance audit
    (operators/audio_features.bandwidth_stats): per-clip spectral
    rolloff, its ratio to the declared Nyquist, and spectral flatness
    (tonal vs noise-like — disambiguates WHY a rolloff is low) —
    planted full-band vs 8 kHz-squeezed calibration clips ride along a
    synthetic corpus. No DuckDB oracle (binary decode + FFT); pinned by
    the pure-numpy twin in
    tests/test_audio_features.py::test_bandwidth_stats_twin."""
    from nadeefiler_spark.operators.audio_features import bandwidth_stats

    _ensure_pkg_shipped(spark)
    cfg = datagen.GenConfig(n_rows=1200, seed=37, dur_min_ms=40, dur_max_ms=200)
    clips = _cached_clips(spark, cfg).unionByName(_bandwidth_planted_clips(spark))
    return (
        bandwidth_stats(clips)
        .where(F.col("bandwidth_error").isNull())
        .select("clip_id", "dec_sr", "rolloff_hz", "bw_ratio", "flatness")
        .orderBy("clip_id")
    )


def _q_suggest_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint suggestion (expectations.suggest_checks): the
    expectation suite the lineitem profile currently satisfies —
    profile→rules closed mechanically, built ON the profile_summary
    contract query's exact output."""
    from nadeefiler_spark.expectations import suggest_checks

    prof_df = _q_profile_summary(spark, sf_dir)
    return suggest_checks(prof_df, null_tolerance=0.05, low_card_max=25)


def _sql_suite_stats(profile_cte: str) -> str:
    """Per-key pooled suite stats over a profile CTE (mirror of
    expectations._suite_key_stats)."""
    return f"""
      SELECT key, sum(n_rows) AS n, sum(n_nulls) AS nulls,
             sum(ndv) AS sum_ndv,
             min(TRY_CAST("min" AS DOUBLE)) AS min_num,
             max(TRY_CAST("max" AS DOUBLE)) AS max_num,
             bool_and(ndv = n_rows - n_nulls) AS uniq_all,
             bool_and(TRY_CAST("min" AS DOUBLE) IS NOT NULL
                      AND TRY_CAST("max" AS DOUBLE) IS NOT NULL) AS is_num
      FROM {profile_cte} GROUP BY key
    """


def _sql_suite_from(k_cte: str) -> str:
    """The 4-way suggestion UNION over a suite-stats CTE (mirror of
    expectations.suggest_checks, tolerance 0.05 / low-card max 25)."""
    return f"""
    SELECT key, 'completeness' AS check,
           round(1.0 - nulls * 1.0 / greatest(n, 1), 6) AS lo, 1.0 AS hi
    FROM {k_cte} WHERE nulls * 1.0 / greatest(n, 1) <= 0.05
    UNION ALL
    SELECT key, 'uniqueness', 1.0, 1.0
    FROM {k_cte} WHERE uniq_all AND n - nulls > 0
    UNION ALL
    SELECT key, 'range', round(min_num, 6), round(max_num, 6)
    FROM {k_cte} WHERE is_num
    UNION ALL
    SELECT key, 'low_cardinality', 0.0, CAST(sum_ndv AS DOUBLE)
    FROM {k_cte} WHERE sum_ndv > 0 AND sum_ndv <= 25
    """


def _sql_suggest_checks() -> str:
    # built ON the profile_summary oracle: same pooled stats
    return f"""
    WITH p AS ({_sql_profile_summary()}),
    k AS ({_sql_suite_stats("p")})
    {_sql_suite_from("k")}
    """


# ---------------------------------------------------------------------------
# contract surface
# ---------------------------------------------------------------------------


def _q_bloom_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom runtime-filter semi join (operators.bloomjoin.bloom_semi_join):
    events whose user is a BUILDING-segment customer. The bloom stage is a
    one-row broadcast bits array probed in whole-stage codegen, so at scale
    the exact verify join shuffles only bloom survivors instead of the full
    fact table; the result is EXACT (bloom filters have no false
    negatives). The optimizer-injected analog is
    spark.sql.optimizer.runtime.bloomFilter.enabled; this is the
    explicit, composable form the engine's referential rules can use
    unconditionally."""
    from nadeefiler_spark.operators.bloomjoin import bloom_semi_join

    ev = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    return bloom_semi_join(ev, cust, "user_id", "c_custkey").select(
        "event_id", "user_id", "event_type"
    )


_SQL_BLOOM_REFERENTIAL = """
SELECT event_id, user_id, event_type FROM events
WHERE user_id IN (SELECT c_custkey FROM customer
                  WHERE c_mktsegment = 'BUILDING')
"""


def _q_heavy_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus heavy hitters without a full-NDV shuffle
    (operators.heavy.heavy_hitters): every token holding >1/200 of the
    documents corpus' token mass, exact counts. Phase 1 finds candidates
    with ZERO shuffle (per-partition pigeonhole counts in one Arrow
    mapInPandas pass — a value above the global threshold must be above
    the local threshold somewhere); phase 2 recounts only candidates.
    Same result as groupBy+HAVING over all distinct tokens, a fraction
    of the shuffle at web-corpus NDV."""
    from nadeefiler_spark.operators.heavy import heavy_hitters

    toks = (
        _t(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.col("text"), r"\s+", -1)).alias("tok"))
        .where(F.col("tok") != "")
    )
    return heavy_hitters(toks, "tok", inv_phi=200)


_SQL_HEAVY_TOKENS = """
WITH tok AS (
  SELECT unnest(list_filter(string_split_regex(text, '\\s+'),
                            t -> t <> '')) AS value
  FROM documents
)
SELECT value, CAST(count(*) AS BIGINT) AS cnt
FROM tok GROUP BY value
HAVING count(*) * 200 > (SELECT count(*) FROM tok)
"""


def _q_coverage_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-coverage gap audit (operators.temporal.coverage_gaps): every
    >2.5h hole in each event_type's feed — the continuity check that
    gates windowed drift verdicts (a silent ingestion outage makes a
    'no drift' verdict over the hole vacuous). One window shuffle, rows
    out = #gaps."""
    from nadeefiler_spark.operators.temporal import coverage_gaps

    out = coverage_gaps(_t(spark, sf_dir, "events"), "event_type", "ts", 9000)
    return out.select(
        "part",
        F.col("gap_start").cast("string").alias("gap_start"),
        F.col("gap_end").cast("string").alias("gap_end"),
        "gap_s",
    )


_SQL_COVERAGE_GAPS = """
WITH g AS (
  SELECT event_type AS part,
         lag(ts) OVER (PARTITION BY event_type ORDER BY ts) AS prev_ts,
         ts,
         floor(epoch(ts)) - floor(epoch(lag(ts) OVER (
             PARTITION BY event_type ORDER BY ts))) AS gap_s
  FROM events
)
SELECT part, CAST(prev_ts AS VARCHAR) AS gap_start,
       CAST(ts AS VARCHAR) AS gap_end, CAST(gap_s AS BIGINT) AS gap_s
FROM g WHERE gap_s > 9000
"""


def _q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-SPACE drift (drift.embedding_drift): per label, the
    centroid's cosine to / L2 distance from the global centroid, in one
    corpus scan (dim-wide sum aggregates; global re-aggregated from the
    per-group sums). Planted: label 3's vectors shifted by +0.5 on every
    dimension (a centroid mover), NULL vector on vec_id %53, truncated
    vector on %59 (excluded + counted as n_bad)."""
    from nadeefiler_spark.drift import embedding_drift

    e = _t(spark, sf_dir, "embeddings").select(
        "label",
        F.when(F.col("vec_id") % 53 == 0, F.lit(None).cast("array<float>"))
        .when(
            F.col("vec_id") % 59 == 0,
            F.slice("embedding", 1, F.size("embedding") - 1),
        )
        .when(
            F.col("label") == 3,
            F.transform(
                "embedding",
                lambda x: (x.cast("double") + F.lit(0.5)).cast("float"),
            ),
        )
        .otherwise(F.col("embedding"))
        .alias("v"),
    )
    return embedding_drift(e, "v", "label", dim=64)


def _sql_embedding_drift(dim: int = 64) -> str:
    sums = ",\n         ".join(
        f"sum(CASE WHEN ok THEN CAST(v[{i + 1}] AS DOUBLE) END) AS s{i}"
        for i in range(dim)
    )
    gsums = ", ".join(f"sum(s{i}) AS gs{i}" for i in range(dim))
    cent = [f"(s.s{i} / s.n_vecs)" for i in range(dim)]
    gcent = [f"(g.gs{i} / g.gn)" for i in range(dim)]
    dot = " + ".join(f"{c} * {gc}" for c, gc in zip(cent, gcent))
    norm = "sqrt(" + " + ".join(f"{c} * {c}" for c in cent) + ")"
    gnorm = "sqrt(" + " + ".join(f"{gc} * {gc}" for gc in gcent) + ")"
    shift = "sqrt(" + " + ".join(
        f"({c} - {gc}) * ({c} - {gc})" for c, gc in zip(cent, gcent)
    ) + ")"
    return f"""
WITH p AS (
  SELECT label,
         CASE WHEN vec_id % 53 = 0 THEN NULL
              WHEN vec_id % 59 = 0 THEN embedding[1:len(embedding)-1]
              WHEN label = 3 THEN list_transform(
                embedding, x -> CAST(CAST(x AS DOUBLE) + 0.5 AS FLOAT))
              ELSE embedding END AS v
  FROM embeddings
), f AS (
  SELECT label, v, (v IS NOT NULL AND len(v) = {dim}) AS ok FROM p
), s AS (
  SELECT label,
         CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_vecs,
         CAST(sum(CASE WHEN ok THEN 0 ELSE 1 END) AS BIGINT) AS n_bad,
         {sums}
  FROM f GROUP BY label
), g AS (
  SELECT sum(n_vecs) AS gn, {gsums} FROM s
)
SELECT s.label, s.n_vecs, s.n_bad,
       round({norm}, 6) AS centroid_norm,
       round(CASE WHEN {norm} > 0 AND {gnorm} > 0
                  THEN ({dot}) / ({norm} * {gnorm}) END, 6) AS global_cos,
       round({shift}, 6) AS centroid_shift
FROM s CROSS JOIN g
WHERE s.n_vecs > 0
"""


_MVO_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _q_record_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-level multivariate outlier score (outliers.
    multivariate_outliers): diagonal-Mahalanobis distance^2 across four
    lineitem measures, one stats aggregate broadcast back to one scoring
    scan. Planted: l_extendedprice x10 on l_orderkey %997 (drives the
    joint score far past the 50.0 gate; natural bounded-uniform TPC-H
    rows top out near 12)."""
    from nadeefiler_spark.outliers import multivariate_outliers

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        F.when(
            F.col("l_orderkey") % 997 == 0, F.col("l_extendedprice") * 10.0
        )
        .otherwise(F.col("l_extendedprice"))
        .alias("l_extendedprice"),
        "l_discount",
        "l_tax",
    )
    return multivariate_outliers(
        li, _MVO_COLS, ["l_orderkey", "l_linenumber"], threshold=50.0
    )


def _sql_record_outliers() -> str:
    stats = ", ".join(
        f"avg({c}) AS m_{c}, stddev_pop({c}) AS sd_{c}" for c in _MVO_COLS
    )
    terms = " + ".join(
        f"(CASE WHEN {c} IS NOT NULL AND sd_{c} > 0"
        f" THEN pow(({c} - m_{c}) / sd_{c}, 2) ELSE 0.0 END)"
        for c in _MVO_COLS
    )
    n_used = " + ".join(
        f"(CASE WHEN {c} IS NOT NULL AND sd_{c} > 0 THEN 1 ELSE 0 END)"
        for c in _MVO_COLS
    )
    return f"""
WITH li AS (
  SELECT l_orderkey, l_linenumber, l_quantity,
         CASE WHEN l_orderkey % 997 = 0 THEN l_extendedprice * 10.0
              ELSE l_extendedprice END AS l_extendedprice,
         l_discount, l_tax
  FROM lineitem
), st AS (
  SELECT {stats} FROM li
), scored AS (
  SELECT li.*, {terms} AS score, {n_used} AS n_used
  FROM li CROSS JOIN st
)
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount,
       l_tax, round(score, 6) AS score, CAST(n_used AS INT) AS n_cols_used
FROM scored WHERE score > 50.0
"""


_BOILER = (
    "this work is licensed under a creative commons attribution share "
    "alike international license terms apply"
)


def _q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplicate detection (operators.spans
    .duplicate_spans): per document, what fraction of its 12-token
    windows is verbatim-shared with other documents — the Lee et al.
    2022 dedup signal at window granularity. Planted: a 15-token
    boilerplate passage appended to every doc_id %17 document, so those
    documents share 4 windows each while organic text stays unique."""
    from nadeefiler_spark.operators.spans import duplicate_spans

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 17 == 0,
            F.concat(F.col("text"), F.lit(" " + _BOILER)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return duplicate_spans(d, "doc_id", "text", window=12, min_docs=2)


def _sql_dup_spans(window: int = 12) -> str:
    return rf"""
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 17 = 0 THEN text || ' {_BOILER}'
              ELSE text END AS text
  FROM documents
), t AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
  FROM d
), sp AS (
  SELECT doc_id,
         md5(array_to_string(toks[i:i+{window - 1}], ' ')) AS h
  FROM (
    SELECT doc_id, toks,
           unnest(generate_series(1, len(toks) - {window - 1})) AS i
    FROM t WHERE len(toks) >= {window}
  )
), tot AS (
  SELECT doc_id, count(*) AS n_windows FROM sp GROUP BY 1
), dup AS (
  SELECT h FROM sp GROUP BY h HAVING count(DISTINCT doc_id) >= 2
), pd AS (
  SELECT doc_id, count(*) AS n_dup FROM sp JOIN dup USING (h) GROUP BY 1
)
SELECT tot.doc_id AS id,
       CAST(n_windows AS BIGINT) AS n_windows,
       CAST(coalesce(n_dup, 0) AS BIGINT) AS n_dup_windows,
       round(coalesce(n_dup, 0) * 1.0 / n_windows, 6) AS dup_frac
FROM tot LEFT JOIN pd USING (doc_id)
"""


def _q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling (operators.sample
    .weighted_sample): the Efraimidis-Spirakis A-ES scheme on the
    portable hash draw — per source, the 5 documents with the largest
    ln(u)/w, w = n_chars + 1, so longer documents are
    proportional-to-size more likely yet membership is a pure function
    of (doc_id, weight, salt). The oracle recomputes the identical
    integer key, uniform draw, and score in SQL."""
    from nadeefiler_spark.operators import sample as smp

    d = _t(spark, sf_dir, "documents").withColumn(
        "w", (F.col("n_chars") + 1).cast("double")
    )
    out = smp.weighted_sample(d, "doc_id", "w", k=5, strata_col="source")
    return out.select(
        "source",
        F.col("es_rank").cast("bigint").alias("es_rank"),
        "doc_id",
        "n_chars",
    )


_SQL_WEIGHTED_SAMPLE = """
WITH scored AS (
  SELECT doc_id, source, n_chars,
         ln((((doc_id % 2147483648) * 2654435761 + 17) % 2147483648) * 2 + 1
            ) - ln(4294967296.0) AS lnu
  FROM documents
), ranked AS (
  SELECT source, doc_id, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY lnu / (n_chars + 1) DESC, doc_id ASC
                           ) AS es_rank
  FROM scored
)
SELECT source, CAST(es_rank AS BIGINT) AS es_rank, doc_id, n_chars
FROM ranked WHERE es_rank <= 5
"""


_CM_OLD_COLS = ["c_name", "c_nationkey", "c_acctbal", "c_mktsegment", "c_custkey"]
_CM_RENAMES = {
    "c_name": "cust_name",
    "c_nationkey": "nation",
    "c_acctbal": "balance",
    "c_mktsegment": "segment",
}


def _q_column_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instance-based column matching (operators.colmatch.column_match):
    recover the column correspondence between two releases after a
    rename, from distinct-value Jaccard overlap alone. The "new"
    release is customer with 4 columns renamed and ids %7==3 removed;
    c_custkey has no renamed counterpart, so its only candidates are
    accidental value collisions (nationkey's 0-24 inside the custkey
    range) at near-zero jaccard — the discrimination the ranking must
    show. acctbal is pinned to DECIMAL(12,2) on both sides so the
    value-to-string rendering is engine-portable."""
    from nadeefiler_spark.operators import colmatch

    c = _t(spark, sf_dir, "customer").withColumn(
        "c_acctbal", F.col("c_acctbal").cast("decimal(12,2)")
    )
    new = c.where(F.col("c_custkey") % 7 != 3).select(
        *[F.col(o).alias(n) for o, n in _CM_RENAMES.items()]
    )
    out = colmatch.column_match(
        c, new, _CM_OLD_COLS, sorted(_CM_RENAMES.values())
    )
    return out.withColumn("rank", F.col("rank").cast("bigint"))


def _sql_column_match() -> str:
    def _val(col: str) -> str:
        if col in ("c_acctbal", "balance"):
            return f"CAST(CAST({col} AS DECIMAL(12,2)) AS VARCHAR)"
        return f"CAST({col} AS VARCHAR)"

    old_melt = " UNION ALL ".join(
        f"SELECT DISTINCT '{c}' AS col, {_val(c)} AS value FROM customer "
        f"WHERE {c} IS NOT NULL"
        for c in _CM_OLD_COLS
    )
    new_melt = " UNION ALL ".join(
        f"SELECT DISTINCT '{n}' AS col, {_val(o)} AS value FROM new_rel "
        f"WHERE {o} IS NOT NULL"
        for o, n in _CM_RENAMES.items()
    )
    return f"""
WITH new_rel AS (
  SELECT * FROM customer WHERE c_custkey % 7 <> 3
), old_m AS ({old_melt}), new_m AS ({new_melt}),
ndv_o AS (SELECT col, count(*) AS ndv_old FROM old_m GROUP BY 1),
ndv_n AS (SELECT col, count(*) AS ndv_new FROM new_m GROUP BY 1),
inter AS (
  SELECT o.col AS col_old, n.col AS col_new, count(*) AS n_common
  FROM old_m o JOIN new_m n USING (value) GROUP BY 1, 2
), pairs AS (
  SELECT col_old, col_new, ndv_old, ndv_new, n_common,
         n_common * 1.0 / (ndv_old + ndv_new - n_common) AS j
  FROM inter
  JOIN ndv_o ON inter.col_old = ndv_o.col
  JOIN ndv_n ON inter.col_new = ndv_n.col
)
SELECT col_old, col_new,
       CAST(ndv_old AS BIGINT) AS ndv_old,
       CAST(ndv_new AS BIGINT) AS ndv_new,
       CAST(n_common AS BIGINT) AS n_common,
       round(j, 6) AS jaccard,
       CAST(row_number() OVER (PARTITION BY col_old
                               ORDER BY j DESC, col_new ASC) AS BIGINT) AS rank
FROM pairs
"""


def _lineitem_release_b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 'next release' of lineitem with planted quality
    regressions: ids %11==4 lose l_linenumber (completeness), ids
    %13==6 shift it +100 (range escape + NDV growth), ids %17==8 get a
    novel l_linestatus 'X' (low-cardinality growth). WHEN order matters
    (an id can hit several classes) and is mirrored in the oracle."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_orderkey", "l_linenumber", "l_linestatus", "l_shipdate"
    )
    return li.withColumns(
        {
            "l_linenumber": F.when(
                F.col("l_orderkey") % 11 == 4, F.lit(None).cast("int")
            )
            .when(F.col("l_orderkey") % 13 == 6, F.col("l_linenumber") + 100)
            .otherwise(F.col("l_linenumber")),
            "l_linestatus": F.when(
                F.col("l_orderkey") % 17 == 8, F.lit("X")
            ).otherwise(F.col("l_linestatus")),
        }
    )


def _q_expectation_regressions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-CI between releases (expectations.suite_regressions): the
    suite release A satisfies (suggest_checks on its profile),
    re-evaluated on release B's profile — one row per newly-failing
    check. Both inputs are already-aggregated profiles, so the whole
    comparison is sketch-sized regardless of corpus size."""
    from nadeefiler_spark.expectations import suite_regressions

    prof_a = _q_profile_summary(spark, sf_dir)
    cfg = profiler.ProfileConfig(exact_ndv=True, part_col="l_returnflag")
    prof_b = profiler.profile_summary(
        _lineitem_release_b(spark, sf_dir), cfg
    ).select("part", "key", "n_rows", "n_nulls", "ndv", "min", "max")
    return suite_regressions(prof_a, prof_b, null_tolerance=0.05, low_card_max=25)


def _sql_expectation_regressions() -> str:
    return f"""
    WITH lineitem_new AS (
      SELECT l_returnflag, l_orderkey,
             CASE WHEN l_orderkey % 11 = 4 THEN NULL
                  WHEN l_orderkey % 13 = 6 THEN l_linenumber + 100
                  ELSE l_linenumber END AS l_linenumber,
             CASE WHEN l_orderkey % 17 = 8 THEN 'X'
                  ELSE l_linestatus END AS l_linestatus,
             l_shipdate
      FROM lineitem
    ),
    p_old AS ({_sql_profile_summary()}),
    p_new AS ({_sql_profile_summary("lineitem_new")}),
    k_old AS ({_sql_suite_stats("p_old")}),
    k_new AS ({_sql_suite_stats("p_new")}),
    sugg AS ({_sql_suite_from("k_old")}),
    stats AS (
      SELECT key,
             round(1.0 - nulls * 1.0 / greatest(n, 1), 6) AS compl,
             uniq_all, is_num,
             round(min_num, 6) AS mn, round(max_num, 6) AS mx,
             CAST(sum_ndv AS DOUBLE) AS ndv_new,
             CASE WHEN n - nulls > 0
                  THEN round(sum_ndv * 1.0 / (n - nulls), 6) END AS uratio,
             1 AS present
      FROM k_new
    )
    SELECT s.key, s.check, s.lo, s.hi,
           CASE s.check WHEN 'completeness' THEN compl
                        WHEN 'uniqueness' THEN uratio
                        WHEN 'range' THEN mn END AS observed_lo,
           CASE s.check WHEN 'range' THEN mx
                        WHEN 'low_cardinality' THEN ndv_new END AS observed_hi
    FROM sugg s LEFT JOIN stats t ON s.key = t.key
    WHERE present IS NULL OR NOT coalesce(
      CASE s.check
        WHEN 'completeness' THEN compl >= s.lo
        WHEN 'uniqueness' THEN uniq_all
        WHEN 'range' THEN is_num AND mn >= s.lo AND mx <= s.hi
        WHEN 'low_cardinality' THEN ndv_new <= s.hi
      END, false)
    """


def _q_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Excerpt/quote duplication (operators.dedup
    .ngram_containment_pairs): |A∩B| / min(|A|,|B|) over 3-gram shingle
    sets — Broder containment, the asymmetric score that catches a
    short passage verbatim inside a long document where
    union-normalized Jaccard sees ~0. Planted: the dup_spans
    boilerplate is appended to every doc_id %17 document AND added as a
    standalone excerpt document, so the excerpt is fully contained in
    every container (containment 1.0) while its Jaccard against them is
    tiny. max_df=100 (not auto): the guard would drop a passage quoted
    in >5 documents — exactly the popular excerpt this query hunts."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 17 == 0,
            F.concat(F.col("text"), F.lit(" " + _BOILER)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    excerpt = spark.createDataFrame(
        [(9000000, _BOILER)], "doc_id long, text string"
    )
    return dedup.ngram_containment_pairs(
        d.unionByName(excerpt), "doc_id", "text",
        n=3, threshold=0.9, max_df=100,
    )


def _sql_ngram_containment() -> str:
    return f"""
WITH docs2 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 17 = 0 THEN text || ' {_BOILER}'
              ELSE text END AS text
  FROM documents
  UNION ALL SELECT 9000000, '{_BOILER}'
),
toks AS (
  SELECT doc_id AS id,
         list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS tk
  FROM docs2
),
shing AS (
  SELECT id, CASE WHEN len(tk) >= 3
                  THEN list_transform(range(1, len(tk) - 1),
                                      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
                  ELSE CAST([] AS VARCHAR[]) END AS shingles
  FROM toks
),
sh0 AS (SELECT DISTINCT id, unnest(shingles) AS shingle FROM shing),
rare AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) <= 100),
sh AS (SELECT sh0.id, sh0.shingle FROM sh0 JOIN rare USING (shingle)),
sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
common AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2
),
scored AS (
  SELECT c.id_a, c.id_b, sa.n_sh AS n_a, sb.n_sh AS n_b,
         c.n_common * 1.0 / least(sa.n_sh, sb.n_sh) AS cont
  FROM common c
  JOIN sizes sa ON sa.id = c.id_a
  JOIN sizes sb ON sb.id = c.id_b
)
SELECT CASE WHEN n_a < n_b OR (n_a = n_b AND id_a < id_b)
            THEN id_a ELSE id_b END AS contained_id,
       CASE WHEN n_a < n_b OR (n_a = n_b AND id_a < id_b)
            THEN id_b ELSE id_a END AS container_id,
       CAST(least(n_a, n_b) AS BIGINT) AS n_contained,
       CAST(greatest(n_a, n_b) AS BIGINT) AS n_container,
       round(cont, 6) AS containment
FROM scored WHERE cont >= 0.9
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "profile_summary": _q_profile_summary,
        "value_histogram": _q_value_histogram,
        "bucket_histogram": _q_bucket_histogram,
        "type_scores": _q_type_scores,
        "type_histograms": _q_type_histograms,
        "distinct_counts": _q_distinct_counts,
        "topk_values": _q_topk_values,
        "topk_per_group": _q_topk_per_group,
        "pagination": _q_pagination,
        "referential_orphans": _q_referential_orphans,
        "uniqueness_violations": _q_uniqueness_violations,
        "domain_violations": _q_domain_violations,
        "required_violations": _q_required_violations,
        "range_violations": _q_range_violations,
        "cascade_delete_targets": _q_cascade_delete_targets,
        "pivot_counts": _q_pivot_counts,
        "windowed_event_stats": _q_windowed_event_stats,
        "rollup_stats": _q_rollup_stats,
        "event_sessions": _q_event_sessions,
        "asof_attribution": _q_asof_attribution,
        "session_concurrency": _q_session_concurrency,
        "incident_sessions": _q_incident_sessions,
        "screen_attribution": _q_screen_attribution,
        "ind_mine": _q_ind_mine,
        "ucc_mine": _q_ucc_mine,
        "mask_profile": _q_mask_profile,
        "corr_profile": _q_corr_profile,
        "partition_outliers": _q_partition_outliers,
        "dc_violations": _q_dc_violations,
        "fuzzy_name_pairs": _q_fuzzy_name_pairs,
        "fd_repairs": _q_fd_repairs,
        "repair_whatif": _q_repair_whatif,
        "audio_qc": _q_audio_qc,
        "audio_qc_corpus": _q_audio_qc_corpus,
        "numeric_quantiles": _q_numeric_quantiles,
        "audio_fp_dups": _q_audio_fp_dups,
        "audio_fp_dups_corpus": _q_audio_fp_dups_corpus,
        "clip_admission": _q_clip_admission,
        "clip_admission_corpus": _q_clip_admission_corpus,
        "audio_feature_ann": _q_audio_feature_ann,
        "audio_embedding_dups": _q_audio_embedding_dups,
        "percent_histogram": _q_percent_histogram,
        "kb_group_import": _q_kb_group_import,
        "semantic_scores": _q_semantic_scores,
        "drift_metrics": _q_drift_metrics,
        "windowed_drift": _q_windowed_drift,
        "zscore_outliers": _q_zscore_outliers,
        "rare_values": _q_rare_values,
        "exact_dup_groups": _q_exact_dup_groups,
        "ngram_jaccard": _q_ngram_jaccard,
        "dup_clusters": _q_dup_clusters,
        "dup_label_conflicts": _q_dup_label_conflicts,
        "expectation_suite": _q_expectation_suite,
        "windowed_expectations": _q_windowed_expectations,
        "transcript_conflicts": _q_transcript_conflicts,
        "transcript_conflicts_corpus": _q_transcript_conflicts_corpus,
        "incremental_dedup": _q_incremental_dedup,
        "minhash_pairs": _q_minhash_pairs,
        "simhash_pairs": _q_simhash_pairs,
        "embedding_cosine_dups": _q_embedding_cosine_dups,
        "embedding_cosine_dups_blocked": _q_embedding_cosine_dups_blocked,
        "ann_topk": _q_ann_topk,
        "lsh_topk": _q_lsh_topk,
        "ivf_topk": _q_ivf_topk,
        "ivf_topk_indexed": _q_ivf_topk_indexed,
        "text_quality": _q_text_quality,
        "doc_chunks": _q_doc_chunks,
        "curation_disposition": _q_curation_disposition,
        "contamination": _q_contamination,
        "corpus_sample": _q_corpus_sample,
        "shard_manifest": _q_shard_manifest,
        "fd_mine": _q_fd_mine,
        "fd_mine_parts": _q_fd_mine_parts,
        "cfd_mine": _q_cfd_mine,
        "od_check": _q_od_check,
        "pii_scan": _q_pii_scan,
        "k_anonymity": _q_k_anonymity,
        "t_closeness": _q_t_closeness,
        "sampled_certificate": _q_sampled_certificate,
        "entropy_l_diversity": _q_entropy_l_diversity,
        "mi_profile": _q_mi_profile,
        "sd_check": _q_sd_check,
        "benford_profile": _q_benford_profile,
        "json_profile": _q_json_profile,
        "md_violations": _q_md_violations,
        "profile_diff": _q_profile_diff,
        "profile_merge": _q_profile_merge,
        "golden_records": _q_golden_records,
        "dedup_survivors": _q_dedup_survivors,
        "redacted_docs": _q_redacted_docs,
        "lang_profile": _q_lang_profile,
        "windowed_text_quality": _q_windowed_text_quality,
        "embedding_qc": _q_embedding_qc,
        "binary_meta": _q_binary_meta,
        "binary_meta_docs": _q_binary_meta_docs,
        "audio_validate": _q_audio_validate,
        "header_triage": _q_header_triage,
        "header_probe_sql": _q_header_probe_sql,
        "probe_stats_sql": _q_probe_stats_sql,
        "repetition_profile": _q_repetition_profile,
        "pack_manifest": _q_pack_manifest,
        "label_agreement": _q_label_agreement,
        "audio_segments": _q_audio_segments,
        "corpus_card": _q_corpus_card,
        "split_leakage": _q_split_leakage,
        "audio_vad": _q_audio_vad,
        "audio_vad_corpus": _q_audio_vad_corpus,
        "snapshot_diff": _q_snapshot_diff,
        "layout_advisor": _q_layout_advisor,
        "chi2_drift": _q_chi2_drift,
        "wasserstein_drift": _q_wasserstein_drift,
        "changepoint_scan": _q_changepoint_scan,
        "transcript_cer": _q_transcript_cer,
        "drift_explain": _q_drift_explain,
        "quality_slices": _q_quality_slices,
        "line_dedup": _q_line_dedup,
        "lm_scores": _q_lm_scores,
        "vocab_profile": _q_vocab_profile,
        "vocab_coverage": _q_vocab_coverage,
        "review_allocation": _q_review_allocation,
        "metric_anomaly": _q_metric_anomaly,
        "domain_scores": _q_domain_scores,
        "group_split": _q_group_split,
        "audio_loudness": _q_audio_loudness,
        "audio_loudness_corpus": _q_audio_loudness_corpus,
        "mixing_plan": _q_mixing_plan,
        "audio_bandwidth": _q_audio_bandwidth,
        "suggest_checks": _q_suggest_checks,
        "bloom_referential": _q_bloom_referential,
        "heavy_tokens": _q_heavy_tokens,
        "coverage_gaps": _q_coverage_gaps,
        "embedding_drift": _q_embedding_drift,
        "record_outliers": _q_record_outliers,
        "dup_spans": _q_dup_spans,
        "weighted_sample": _q_weighted_sample,
        "column_match": _q_column_match,
        "expectation_regressions": _q_expectation_regressions,
        "ngram_containment": _q_ngram_containment,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "profile_summary": _sql_profile_summary(),
        "value_histogram": _SQL_VALUE_HISTOGRAM,
        "bucket_histogram": _SQL_BUCKET_HISTOGRAM,
        "type_scores": _sql_type_scores(),
        "type_histograms": _sql_type_histograms(),
        "distinct_counts": _SQL_DISTINCT_COUNTS,
        "topk_values": _SQL_TOPK_VALUES,
        "topk_per_group": _SQL_TOPK_PER_GROUP,
        "pagination": _SQL_PAGINATION,
        "referential_orphans": _SQL_REFERENTIAL_ORPHANS,
        "uniqueness_violations": _SQL_UNIQUENESS_VIOLATIONS,
        "domain_violations": _SQL_DOMAIN_VIOLATIONS,
        "required_violations": _SQL_REQUIRED_VIOLATIONS,
        "range_violations": _SQL_RANGE_VIOLATIONS,
        "cascade_delete_targets": _SQL_CASCADE_DELETE_TARGETS,
        "pivot_counts": _SQL_PIVOT_COUNTS,
        "windowed_event_stats": _SQL_WINDOWED_EVENT_STATS,
        "rollup_stats": _SQL_ROLLUP_STATS,
        "event_sessions": _SQL_EVENT_SESSIONS,
        "asof_attribution": _SQL_ASOF_ATTRIBUTION,
        "session_concurrency": _SQL_SESSION_CONCURRENCY,
        "incident_sessions": _SQL_INCIDENT_SESSIONS,
        "screen_attribution": _SQL_SCREEN_ATTRIBUTION,
        "ind_mine": _sql_ind_mine(),
        "ucc_mine": _sql_ucc_mine(),
        "mask_profile": _sql_mask_profile(),
        "corr_profile": _sql_corr_profile(),
        "partition_outliers": _SQL_PARTITION_OUTLIERS,
        "dc_violations": _SQL_DC_VIOLATIONS,
        "fuzzy_name_pairs": _SQL_FUZZY_NAME_PAIRS,
        "fd_repairs": _SQL_FD_REPAIRS,
        "repair_whatif": _SQL_REPAIR_WHATIF,
        "numeric_quantiles": _sql_numeric_quantiles(),
        "percent_histogram": _SQL_PERCENT_HISTOGRAM,
        "kb_group_import": _SQL_KB_GROUP_IMPORT,
        "semantic_scores": _SQL_SEMANTIC_SCORES,
        "drift_metrics": _SQL_DRIFT_METRICS,
        "windowed_drift": _SQL_WINDOWED_DRIFT,
        "zscore_outliers": _SQL_ZSCORE_OUTLIERS,
        "rare_values": _SQL_RARE_VALUES,
        "exact_dup_groups": _SQL_EXACT_DUP_GROUPS,
        "ngram_jaccard": _SQL_NGRAM_JACCARD,
        "dup_clusters": _SQL_DUP_CLUSTERS,
        "dup_label_conflicts": _SQL_DUP_LABEL_CONFLICTS,
        "expectation_suite": _SQL_EXPECTATION_SUITE,
        "windowed_expectations": _SQL_WINDOWED_EXPECTATIONS,
        "incremental_dedup": _SQL_INCREMENTAL_DEDUP,
        "embedding_cosine_dups": _SQL_EMBEDDING_COSINE_DUPS,
        "embedding_cosine_dups_blocked": _sql_embedding_cosine_dups_blocked(),
        "ann_topk": _SQL_ANN_TOPK,
        "lsh_topk": _sql_lsh_topk(),
        "ivf_topk": _SQL_IVF_TOPK,
        "ivf_topk_indexed": _SQL_IVF_TOPK,
        "text_quality": _sql_text_quality(),
        "doc_chunks": _sql_doc_chunks(),
        "curation_disposition": _sql_curation_disposition(),
        "contamination": _SQL_CONTAMINATION,
        "corpus_sample": _sql_corpus_sample(),
        "shard_manifest": _sql_shard_manifest(),
        "fd_mine": _sql_fd_mine(),
        "fd_mine_parts": _sql_fd_mine_parts(),
        "cfd_mine": _SQL_CFD_MINE,
        "od_check": _SQL_OD_CHECK,
        "pii_scan": _SQL_PII_SCAN,
        "k_anonymity": _SQL_K_ANONYMITY,
        "t_closeness": _SQL_T_CLOSENESS,
        "sampled_certificate": _SQL_SAMPLED_CERTIFICATE,
        "entropy_l_diversity": _SQL_ENTROPY_L_DIVERSITY,
        "mi_profile": _sql_mi_profile(),
        "sd_check": _SQL_SD_CHECK,
        "benford_profile": _SQL_BENFORD_PROFILE,
        "json_profile": _SQL_JSON_PROFILE,
        "md_violations": _SQL_MD_VIOLATIONS,
        "profile_diff": _SQL_PROFILE_DIFF,
        "profile_merge": _SQL_PROFILE_MERGE,
        "golden_records": _SQL_GOLDEN_RECORDS,
        "dedup_survivors": _SQL_DEDUP_SURVIVORS,
        "redacted_docs": _SQL_REDACTED_DOCS,
        "lang_profile": _sql_lang_profile(),
        "windowed_text_quality": _SQL_WINDOWED_TEXT_QUALITY,
        "embedding_qc": _SQL_EMBEDDING_QC,
        "binary_meta_docs": _SQL_BINARY_META_DOCS,
        "header_probe_sql": _SQL_HEADER_PROBE_SQL,
        "probe_stats_sql": _SQL_PROBE_STATS_SQL,
        "audio_qc": _SQL_AUDIO_QC,
        "audio_fp_dups": _SQL_AUDIO_FP_DUPS,
        "clip_admission": _SQL_CLIP_ADMISSION,
        "transcript_conflicts": _SQL_TRANSCRIPT_CONFLICTS,
        "audio_vad": _SQL_AUDIO_VAD,
        "audio_loudness": _SQL_AUDIO_LOUDNESS,
        "repetition_profile": _SQL_REPETITION_PROFILE,
        "pack_manifest": _sql_pack_manifest(),
        "label_agreement": _sql_label_agreement(),
        "audio_segments": _sql_audio_segments(),
        "corpus_card": _sql_corpus_card(),
        "split_leakage": _sql_split_leakage(),
        "snapshot_diff": _SQL_SNAPSHOT_DIFF,
        "layout_advisor": _sql_layout_advisor(),
        "chi2_drift": _SQL_CHI2_DRIFT,
        "wasserstein_drift": _SQL_WASSERSTEIN_DRIFT,
        "changepoint_scan": _SQL_CHANGEPOINT_SCAN,
        "transcript_cer": _SQL_TRANSCRIPT_CER,
        "drift_explain": _SQL_DRIFT_EXPLAIN,
        "quality_slices": _sql_quality_slices(),
        "line_dedup": _SQL_LINE_DEDUP,
        "lm_scores": _SQL_LM_SCORES,
        "vocab_profile": _SQL_VOCAB_PROFILE,
        "vocab_coverage": _SQL_VOCAB_COVERAGE,
        "review_allocation": _SQL_REVIEW_ALLOCATION,
        "metric_anomaly": _SQL_METRIC_ANOMALY,
        "domain_scores": _SQL_DOMAIN_SCORES,
        "group_split": _sql_group_split(),
        "mixing_plan": _sql_mixing_plan(),
        "suggest_checks": _sql_suggest_checks(),
        "bloom_referential": _SQL_BLOOM_REFERENTIAL,
        "heavy_tokens": _SQL_HEAVY_TOKENS,
        "coverage_gaps": _SQL_COVERAGE_GAPS,
        "embedding_drift": _sql_embedding_drift(),
        "record_outliers": _sql_record_outliers(),
        "dup_spans": _sql_dup_spans(),
        "weighted_sample": _SQL_WEIGHTED_SAMPLE,
        "column_match": _sql_column_match(),
        "expectation_regressions": _sql_expectation_regressions(),
        "ngram_containment": _sql_ngram_containment(),
        # minhash_pairs / simhash_pairs: xxhash64 unavailable in DuckDB —
        #   exact pure-Python pipeline twins in tests/test_hash_twins.py
        # binary_meta / audio_validate: binary audio payloads (pandas-UDF
        #   decode) — exact datagen-derived goldens in tests/test_hash_twins.py
    }
