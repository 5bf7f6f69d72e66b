"""spark-submit entrypoint (north_rule: "run via spark-submit --py-files").

    spark-submit --py-files nadeefiler_spark.zip -m ...  # or directly:
    spark-submit nadeefiler_spark/job.py \
        --clips /data/clips --refs /data/transcript_refs \
        --out /data/validation_out [--no-resume] [--partitions p1 p2 ...]

On a cluster, master/executor conf comes from spark-submit; locally the
session factory falls back to local[$SPARK_GRAFT_CPUS]. The job is
idempotent and resumable: completed (partition, stage) pairs recorded in
the checkpoint manifest are skipped unless --no-resume
(SURVEY §2.8 T3/T5; reference delete-before-write,
/root/reference/profilers/worker.js:97-100).

Every stage of one job commits under ONE job-wide run id (``--run-id``,
or a fresh one). The printed summary is keyed by that id: one fresh
manifest read at the end, so it reports the manifest's final state (an
audio unit re-checked by ``--recheck-uncertified`` counts once).
"""

from __future__ import annotations

import argparse
import json
import sys
import uuid

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description="nadeefiler_spark validation job")
    p.add_argument("--clips", required=True, help="clips table path (parquet)")
    p.add_argument("--refs", default=None, help="transcript_refs table path")
    p.add_argument("--out", required=True, help="output dir (violations/manifest/profile)")
    p.add_argument("--partitions", nargs="*", default=None,
                   help="restrict to these partition values")
    p.add_argument("--no-resume", action="store_true",
                   help="ignore the checkpoint manifest and recompute")
    p.add_argument("--no-audio", action="store_true", help="skip audio rules")
    p.add_argument("--no-drift", action="store_true", help="skip drift rules")
    p.add_argument("--pii", action="store_true",
                   help="add the transcript PII rule to the constraints scan")
    p.add_argument("--semantic-kb", default=None,
                   help="KB table path (subject string, objects array<string>); "
                        "runs the semantic cascade stage over the profile "
                        "histograms after validation")
    p.add_argument("--fd-cols", nargs="*", default=None,
                   help="run the FD-mining cascade stage over these columns "
                        "(no values = every non-binary column); writes the "
                        "fd_results table and stage='fd' manifest rows")
    p.add_argument("--expect", action="store_true",
                   help="run the default expectation suite per partition "
                        "(stage='expectations', expectation_results table)")
    p.add_argument("--discover", action="store_true",
                   help="mine candidate keys + clip<->transcript inclusion "
                        "dependencies into discovery_results")
    p.add_argument("--discover-arity", type=int, default=1,
                   help="max key-combination arity for --discover")
    p.add_argument("--content-dedup", action="store_true",
                   help="run the cross-partition audio content-dedup stage "
                        "(decoded-PCM fingerprint groups -> content_dups table)")
    p.add_argument("--embedding-dedup", type=float, default=None, nargs="?",
                   const=0.98, metavar="THRESHOLD",
                   help="run the cross-partition PERCEPTUAL audio dedup stage "
                        "(LSH-blocked embedding-cosine clusters -> "
                        "embedding_dups table); optional cosine threshold, "
                        "default 0.98")
    p.add_argument("--embedding-drift", type=float, default=None, nargs="?",
                   const=0.98, metavar="MIN_COS",
                   help="run the per-partition embedding-space drift stage "
                        "(decoded-audio centroid vs the corpus centroid -> "
                        "embedding_drift table); optional min cosine, "
                        "default 0.98")
    p.add_argument("--mvo", action="store_true",
                   help="add the record-level multivariate outlier rule "
                        "(joint sr_hz x dur_ms Mahalanobis gate) to the "
                        "drift stage")
    p.add_argument("--vad", action="store_true",
                   help="run the voice-activity audit stage (vad_stats "
                        "table, per-partition resume; violations = clips "
                        "with no detectable speech)")
    p.add_argument("--certify", type=float, default=None, metavar="FRACTION",
                   help="run the sampled decode-health certificate stage: "
                        "decode only this deterministic hash fraction of "
                        "each partition and write a Hoeffding upper bound "
                        "on its decode-violation rate (certificates table, "
                        "per-partition resume; violations = sampled "
                        "violating clips)")
    p.add_argument("--recheck-uncertified", action="store_true",
                   help="after the certificate stage, escalate: re-open "
                        "(invalidate) the audio-stage units of partitions "
                        "whose Hoeffding bound failed and run the FULL "
                        "audio stage on exactly those partitions — the "
                        "cheap-screen -> full-rescan loop in one job "
                        "(typically with --no-audio so the screen is the "
                        "only decode until a partition fails it)")
    p.add_argument("--certify-eps", type=float, default=0.01,
                   help="certificate tolerance: certified iff the rate "
                        "upper bound is <= this (default 0.01)")
    p.add_argument("--index", action="store_true",
                   help="build/refresh the corpus fingerprint index "
                        "(fp_index table, per-partition resume); --admit "
                        "then classifies against the index instead of "
                        "re-decoding the corpus")
    p.add_argument("--admit", default=None, metavar="BATCH_PATH",
                   help="incremental admission: classify the clip batch at "
                        "this parquet path against the corpus (byte / "
                        "content-fingerprint / hamming tiers) into the "
                        "admissions table")
    p.add_argument("--regress-baseline", default=None, metavar="OUT_DIR",
                   help="run the data-CI suite-regression stage against a "
                        "previous run's out_dir: the expectation suite its "
                        "profile_summary satisfies, re-evaluated on this "
                        "run's profile (suite_regression_results table, "
                        "stage='suite_regression', part=baseline id)")
    p.add_argument("--regress-id", default=None,
                   help="baseline id for --regress-baseline (default: the "
                        "baseline dir's basename)")
    p.add_argument("--admit-id", default=None,
                   help="delivery id for --admit (default: batch path "
                        "basename); the resume/idempotency unit")
    p.add_argument("--history-anomalies", action="store_true",
                   help="after the run, screen the manifest's run history "
                        "(per part+stage n_violations series) for trailing-"
                        "window anomalies and report the count")
    p.add_argument("--triage", type=float, default=None, metavar="SAMPLE_PCT",
                   help="two-tier audio validation: decode only clips the "
                        "header probe flags plus SAMPLE_PCT%% of the "
                        "probe-clean population as a deterministic audit "
                        "sample (engine.triage_sample_pct); adds the "
                        "header_triage rule to the constraints stage so "
                        "probe findings land in the violations table")
    p.add_argument("--probe-health", action="store_true",
                   help="also write the per-partition probe_health table "
                        "(decode-free header-probe stats; stage='probe', "
                        "resumable)")
    p.add_argument("--incidents", type=int, default=None, nargs="?",
                   const=86400, metavar="GAP_S",
                   help="sessionize each partition's violating run history "
                        "into incident episodes (incident_sessions table, "
                        "stage='incidents'; runs closer than GAP_S seconds "
                        "form one incident, default 86400)")
    p.add_argument("--screen-attribution", action="store_true",
                   help="as-of attribute each audio-stage run to the most "
                        "recent prior certificate run for its partition "
                        "(screen_attribution table, stage='screen'; "
                        "violations = runs no screen vouched for)")
    p.add_argument("--run-id", default=None,
                   help="run id every stage of this job commits under "
                        "(default: a fresh one); keys the summary")
    return p


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> dict:
    parser = build_parser()
    args = parser.parse_args(argv)
    if args.recheck_uncertified and args.certify is None:
        # the flag is only read inside the certificate stage; without
        # --certify it would be a silent no-op, which reads as "rescan
        # requested and done" to an operator. Fail loudly instead.
        parser.error("--recheck-uncertified requires --certify")

    if spark is None:
        from nadeefiler_spark.session import get_spark

        spark = get_spark(app_name="nadeefiler_spark_job")

    from nadeefiler_spark.engine import ValidationEngine
    from nadeefiler_spark.presets import default_clip_rules
    from nadeefiler_spark.profiler import default_clips_config

    clips = spark.read.parquet(args.clips)
    refs = spark.read.parquet(args.refs) if args.refs else None
    if args.partitions:
        clips = clips.where(F.col("part").isin(args.partitions))
        if refs is not None:
            refs = refs.where(F.col("part").isin(args.partitions))

    eng = ValidationEngine(
        spark,
        args.out,
        rules=default_clip_rules(
            with_refs=refs is not None,
            with_audio=not args.no_audio,
            with_drift=not args.no_drift,
            with_pii=args.pii,
            with_mvo=args.mvo,
            with_header_triage=args.triage is not None,
        ),
        profile_cfg=default_clips_config(),
        triage_sample_pct=args.triage,
    )
    rid = args.run_id or uuid.uuid4().hex[:12]
    kw = dict(resume=not args.no_resume, run_id=rid)
    eng.run(clips, refs=refs, **kw)
    if args.semantic_kb:
        eng.run_semantic(spark.read.parquet(args.semantic_kb), **kw)
    if args.fd_cols is not None:
        eng.run_fd(clips, cols=args.fd_cols or None, **kw)
    if args.expect:
        eng.run_expectations(clips, **kw)
    if args.discover:
        eng.run_discovery(clips, refs=refs, max_arity=args.discover_arity, **kw)
    if args.content_dedup:
        eng.run_content_dedup(clips, **kw)
    if args.vad:
        eng.run_vad(clips, **kw)
    if args.probe_health:
        eng.run_probe_stats(clips, **kw)
    if args.certify is not None:
        eng.run_certificate(clips, fraction=args.certify, eps=args.certify_eps, **kw)
        if args.recheck_uncertified:
            bad = eng.uncertified_parts()
            if bad:
                # re-open any previously-completed audio units for the
                # failed partitions (no-op when --no-audio kept the
                # screen-only flow), then full-decode exactly those
                eng.invalidate(bad, stages=("audio",))
                full_eng = ValidationEngine(
                    spark,
                    args.out,
                    rules=default_clip_rules(
                        with_refs=refs is not None,
                        with_audio=True,
                        with_drift=False,
                        with_pii=False,
                    ),
                    profile_cfg=default_clips_config(),
                )
                full_eng.run(
                    clips.where(F.col("part").isin(bad)),
                    refs=refs.where(F.col("part").isin(bad))
                    if refs is not None else None,
                    resume=True,
                    run_id=rid,
                )
    if args.index:
        eng.run_fp_index(clips, **kw)
    if args.admit:
        batch = spark.read.parquet(args.admit)
        batch_id = args.admit_id or args.admit.rstrip("/").rsplit("/", 1)[-1]
        eng.run_admission(clips, batch, batch_id=batch_id, **kw)
    if args.embedding_dedup is not None:
        eng.run_embedding_dedup(clips, threshold=args.embedding_dedup, **kw)
    if args.embedding_drift is not None:
        eng.run_embedding_drift(clips, min_cos=args.embedding_drift, **kw)
    if args.regress_baseline:
        from nadeefiler_spark import profiler as prof
        from nadeefiler_spark.tableio import default_io

        base_io = default_io(spark, args.regress_baseline)
        baseline = base_io.read("profile_summary", prof.SUMMARY_SCHEMA)
        base_id = args.regress_id or args.regress_baseline.rstrip("/").rsplit(
            "/", 1
        )[-1]
        eng.run_suite_regression(baseline, baseline_id=base_id, **kw)
    # temporal-lineage stages read the manifest history the stages above
    # just committed — keep them last
    if args.incidents is not None:
        eng.run_incident_sessions(gap_s=args.incidents, **kw)
    if args.screen_attribution:
        eng.run_screen_attribution(**kw)
    rows = eng.verdicts().where(F.col("run_id") == rid).collect()
    summary = {
        "partitions": sorted({r["part"] for r in rows}),
        "stages": sorted({r["stage"] for r in rows}),
        "passed": all(r["passed"] for r in rows),
        "n_violations": sum(r["n_violations"] for r in rows),
        "out": args.out,
    }
    if args.history_anomalies:
        anom = eng.metric_anomalies().where(F.col("anomaly")).select(
            "part", "stage"
        ).collect()  # manifest-sized: O(#parts x #stages x #runs)
        summary["history_anomalies"] = sorted(
            {f"{r['part']}/{r['stage']}" for r in anom}
        )
    print(json.dumps(summary))
    return summary


if __name__ == "__main__":
    main(sys.argv[1:])
