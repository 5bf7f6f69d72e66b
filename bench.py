"""Benchmark harness — prints ONE JSON line with the headline metric.

Headline metric (BASELINE.json): clips validated/sec for the end-to-end
profile + constraint + audio pass over the deterministic synthetic clips
table, plus per-query wall-clock for the SURVEY §2 operator queries over
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1).

Env:
  SPARK_GRAFT_SF_DIR   testdata dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS     local[N] parallelism (default 32)
  BENCH_CLIPS          synthetic clip count for the engine pass
                       (default 40000 * sf)
  BENCH_QUERIES        comma-separated subset of query names (default all
                       headline queries)

Execution is forced with the noop datasource (full computation + row
materialization, no sink cost), matching how the driver measures.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import tempfile
import time

# The bench JVM is exactly the long-lived-session case the round-3
# allocation study targets: -Xms=-Xmx + AlwaysPreTouch + THP move heap
# page-zeroing out of the measured window (A/B on this host: engine
# trial medians 24.0 s without vs 11.9 s with, same interference
# window — BENCH/BASELINE.md). Opt out with SPARK_GRAFT_PRETOUCH=0.
os.environ.setdefault("SPARK_GRAFT_PRETOUCH", "1")

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod  # noqa: E402
from nadeefiler_spark import datagen  # noqa: E402
from nadeefiler_spark.engine import ValidationEngine  # noqa: E402
from nadeefiler_spark.presets import default_clip_rules  # noqa: E402
from nadeefiler_spark.profiler import default_clips_config  # noqa: E402
from nadeefiler_spark.session import get_spark  # noqa: E402

HEADLINE_QUERIES = (
    "profile_summary",
    "value_histogram",
    "bucket_histogram",
    "type_scores",
    "type_histograms",
    "drift_metrics",
    "windowed_drift",
    "uniqueness_violations",
    "referential_orphans",
    "topk_per_group",
    "windowed_event_stats",
    "semantic_scores",
    "exact_dup_groups",
    "ngram_jaccard",
    "minhash_pairs",
    "simhash_pairs",
    "embedding_cosine_dups_blocked",
    "ann_topk",
    "embedding_qc",
    "lsh_topk",
    "ivf_topk",
    "ivf_topk_indexed",
    "text_quality",
    "lang_profile",
    "windowed_text_quality",
    "doc_chunks",
    "curation_disposition",
    "contamination",
    "corpus_sample",
    "shard_manifest",
    "dup_clusters",
    "dup_label_conflicts",
    "expectation_suite",
    "windowed_expectations",
    "transcript_conflicts",
    "transcript_conflicts_corpus",
    "transcript_cer",
    "incremental_dedup",
    "golden_records",
    "dedup_survivors",
    "redacted_docs",
    "fd_mine",
    "fd_mine_parts",
    "cfd_mine",
    "od_check",
    "sd_check",
    "pii_scan",
    "k_anonymity",
    "mi_profile",
    "benford_profile",
    "json_profile",
    "md_violations",
    "profile_diff",
    "profile_merge",
    "binary_meta_docs",
    "rollup_stats",
    "event_sessions",
    "asof_attribution",
    "session_concurrency",
    "ind_mine",
    "ucc_mine",
    "mask_profile",
    "corr_profile",
    "partition_outliers",
    "dc_violations",
    "fuzzy_name_pairs",
    "fd_repairs",
    "repair_whatif",
    # r5 rename: the decoded-synthetic-corpus workloads benched as
    # audio_qc / audio_fp_dups / clip_admission through r4 are now the
    # *_corpus entries (same bodies — compare r4 numbers against those);
    # the unsuffixed names are the new DuckDB-oracled built-container
    # twins (smaller inputs, the correctness surface)
    "audio_qc",
    "audio_qc_corpus",
    "numeric_quantiles",
    "audio_fp_dups",
    "audio_fp_dups_corpus",
    "clip_admission",
    "clip_admission_corpus",
    "audio_feature_ann",
    "audio_embedding_dups",
    "repetition_profile",
    "pack_manifest",
    "label_agreement",
    "audio_segments",
    "corpus_card",
    "split_leakage",
    "audio_vad",
    "audio_vad_corpus",
    "snapshot_diff",
    "layout_advisor",
    "chi2_drift",
    "quality_slices",
    "line_dedup",
    "lm_scores",
    "vocab_profile",
    "metric_anomaly",
    "domain_scores",
    "group_split",
    "audio_loudness",
    "audio_loudness_corpus",
    "mixing_plan",
    "audio_bandwidth",
    "suggest_checks",
    "bloom_referential",
    "heavy_tokens",
    "coverage_gaps",
    "embedding_drift",
    "record_outliers",
    "dup_spans",
    "ngram_containment",
    "weighted_sample",
    "column_match",
    "expectation_regressions",
    "wasserstein_drift",
    "changepoint_scan",
    "drift_explain",
    "t_closeness",
    "sampled_certificate",
    "header_triage",
    "header_probe_sql",
    "probe_stats_sql",
    "vocab_coverage",
    "review_allocation",
    "entropy_l_diversity",
    "incident_sessions",
    "screen_attribution",
)


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _sf_of(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else 0.1


def bench_queries(spark, sf_dir: str, names, trials: int = 2) -> dict[str, float]:
    """Per-query wall-clock: min of `trials` timed runs.

    Min, not mean/median: the sandbox host has co-tenant interference
    windows lasting minutes (documented with load logging in
    BENCH/BASELINE.md) that inflate identical work 2-6x; the minimum is
    the standard capability estimate under external noise (what the
    query costs when the machine is actually available). Each run is a
    full cold plan execution — caches are cleared between runs, so this
    is not warm-cache flattery.
    """
    qs = entry_mod.queries()
    out: dict[str, float] = {}
    for name in names:
        fn = qs[name]
        best = float("inf")
        for _ in range(trials):
            t0 = time.monotonic()
            _force(fn(spark, sf_dir))
            best = min(best, time.monotonic() - t0)
            # dedup queries return eagerly-persisted results; isolate
            # queries (and repeat trials) from cache residue
            spark.catalog.clearCache()
        out[name] = round(best, 3)
    return out


def bench_engine(spark, n_clips: int, trials: int = 5) -> dict[str, float]:
    """End-to-end engine pass: generate clips -> profile + constraints +
    audio stages -> violations/verdicts/manifest written. Generation is
    excluded from the timed window (clips are staged to parquet first,
    as they would already exist as an Iceberg table in production).
    Headline = best of `trials` runs (median also reported): the sandbox
    host's co-tenant interference windows (BENCH/BASELINE.md, load-logged)
    inflate identical work 2-6x for minutes at a time, so a median can
    measure the neighbors instead of the engine; the min is the engine's
    demonstrated capability and is reproducible across quiet windows.
    All trial walls are emitted for transparency."""
    tmp = tempfile.mkdtemp(prefix="bench_clips_")
    try:
        cfg = datagen.GenConfig(n_rows=n_clips)
        datagen.write_clips(spark, tmp, cfg)
        clips = spark.read.parquet(f"{tmp}/clips")
        refs = spark.read.parquet(f"{tmp}/transcript_refs")

        walls = []
        for trial in range(trials):
            eng = ValidationEngine(
                spark,
                f"{tmp}/out{trial}",
                rules=default_clip_rules(with_drift=True),
                profile_cfg=default_clips_config(),
            )
            t0 = time.monotonic()
            eng.run(clips, refs=refs, resume=False)
            walls.append(time.monotonic() - t0)
        best = min(walls)
        median = sorted(walls)[len(walls) // 2]
        return {"clips": n_clips, "wall_s": round(best, 3),
                "clips_per_sec": round(n_clips / best, 1),
                "median_wall_s": round(median, 3),
                "median_clips_per_sec": round(n_clips / median, 1),
                "trials_s": [round(w, 3) for w in walls]}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = _sf_of(sf_dir)
    n_clips = int(os.environ.get("BENCH_CLIPS", str(max(int(160000 * sf), 500))))
    names = [
        n for n in os.environ.get("BENCH_QUERIES", ",".join(HEADLINE_QUERIES)).split(",")
        if n
    ]

    load0 = os.getloadavg()
    # watch the JVM's stderr for whole-stage-codegen 64 KB fallbacks: a
    # fallback is a silent multi-x CPU penalty, so a bench that reports
    # throughput must also report whether any measured plan fell back
    # (same detector as scripts/check_oracle.py, which FAILS on them)
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "scripts"))
    from check_oracle import CodegenWatch

    watch = CodegenWatch()
    try:
        spark = get_spark(app_name="bench", parallelism=cpus)
        # warm the JVM/session so the first timed query doesn't pay startup
        _force(entry_mod.queries()["value_histogram"](spark, sf_dir))

        queries = bench_queries(spark, sf_dir, names)
        engine = bench_engine(spark, n_clips)
        codegen_fallback, _ = watch.poll()
    finally:
        # restore fd 2 before anything can raise out of main: with the
        # dup2 in place an uncaught traceback would vanish into the
        # watch's temp file and the bench would die printing nothing
        # (ADVICE r4)
        watch.restore()

    print(json.dumps({
        "metric": "clips validated/sec (end-to-end profile+constraint pass)",
        "value": engine["clips_per_sec"],
        "unit": "clips/sec",
        "queries": queries,
        "sf": sf,
        "engine": engine,
        "total_query_sec": round(sum(queries.values()), 3),
        "parallelism": cpus,
        # co-tenant context: (1m, 5m, 15m) load at start/end of the run;
        # a 15m load far above `parallelism`-driven expectations while
        # this bench is the only VM workload marks an interference window
        "loadavg_start": [round(x, 2) for x in load0],
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        # True would mean some measured plan silently dropped to
        # interpreted eval — the numbers above would be understating
        # the engine. Guarded at zero by the check_oracle sweep.
        "codegen_fallback": codegen_fallback,
    }))


if __name__ == "__main__":
    main()
