"""End-to-end engine test: planted violations -> golden verdicts (SURVEY §5.3-4)."""

import pytest

from nadeefiler_spark import datagen
from nadeefiler_spark.engine import ValidationEngine
from nadeefiler_spark.presets import default_clip_rules
from nadeefiler_spark.profiler import default_clips_config

GOLDEN_RULES = [
    "unique_clip_id", "sr_domain", "transcript_required", "ref_integrity",
    "transcript_equality", "audio_codec", "audio_sample_rate",
    "audio_duration", "audio_snr",
]


@pytest.fixture(scope="module")
def run_dir(spark, clips_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("engine_out"))
    eng = ValidationEngine(
        spark, out, rules=default_clip_rules(), profile_cfg=default_clips_config()
    )
    clips = spark.read.parquet(f"{clips_dir}/clips")
    refs = spark.read.parquet(f"{clips_dir}/transcript_refs")
    eng.run(clips, refs, run_id="r1")
    return out


def _engine(spark, out):
    return ValidationEngine(
        spark, out, rules=default_clip_rules(), profile_cfg=default_clips_config()
    )


def test_violations_match_golden(spark, tiny_cfg, run_dir):
    golden = datagen.golden_violations(tiny_cfg)
    eng = _engine(spark, run_dir)
    viol = eng.violations().toPandas()
    for rule in GOLDEN_RULES:
        got = set(viol[viol["rule"] == rule]["clip_id"])
        assert got == golden[rule], (
            f"{rule}: extra={sorted(got - golden[rule])[:5]} "
            f"missing={sorted(golden[rule] - got)[:5]}"
        )


def test_profile_summary_sane(spark, tiny_cfg, run_dir):
    eng = _engine(spark, run_dir)
    s = eng.profile_summary().toPandas().set_index(["part", "key"])
    total = int(s.groupby(level="key")["n_rows"].sum()["clip_id"])
    assert total == tiny_cfg.n_rows
    # transcript nulls counted (None + empty)
    assert s.groupby(level="key")["n_nulls"].sum()["transcript"] > 0
    # histograms exist for configured cols
    h = eng.profile_hist().toPandas()
    assert set(h["key"]) == {"codec", "sr_hz", "dur_ms"}
    assert (h[h["key"] == "codec"]["kind"] == "value").all()
    assert (h[h["key"] == "dur_ms"]["kind"] == "bucket").all()
    # histogram counts add back to row count
    assert h[h["key"] == "codec"]["count"].sum() == tiny_cfg.n_rows


def test_verdicts_and_manifest(spark, tiny_cfg, run_dir):
    eng = _engine(spark, run_dir)
    v = eng.verdicts().toPandas()
    stages = set(v["stage"])
    assert {"profile", "constraints", "audio", "drift"} <= stages
    # profile stage always passes; constraint stages fail where planted
    assert v[v["stage"] == "profile"]["passed"].all()
    # dur_ms distribution is codec-independent by construction -> no drift
    assert v[v["stage"] == "drift"]["passed"].all()
    assert not v[v["stage"] == "constraints"]["passed"].all()
    m = eng.manifest().toPandas()
    # one manifest row per (part, stage)
    assert len(m) == len(m.drop_duplicates(["part", "stage"]))
    parts = set(m["part"])
    assert parts == {"pcm_s16le", "flac", "opus", "mp3"}


def test_rerun_is_noop_and_idempotent(spark, tiny_cfg, clips_dir, run_dir):
    eng = _engine(spark, run_dir)
    clips = spark.read.parquet(f"{clips_dir}/clips")
    refs = spark.read.parquet(f"{clips_dir}/transcript_refs")
    before = eng.violations().count()
    eng.run(clips, refs, run_id="r2")  # resume: everything complete
    m = eng.manifest().toPandas()
    assert (m["run_id"] == "r1").all()  # no new work was done
    assert eng.violations().count() == before  # no duplicate rows


def test_resume_after_midrun_failure(spark, tiny_cfg, clips_dir, tmp_path_factory, run_dir):
    out = str(tmp_path_factory.mktemp("engine_resume"))
    eng = ValidationEngine(
        spark, out, rules=default_clip_rules(), profile_cfg=default_clips_config()
    )
    clips = spark.read.parquet(f"{clips_dir}/clips")
    refs = spark.read.parquet(f"{clips_dir}/transcript_refs")
    with pytest.raises(RuntimeError, match="injected failure"):
        eng.run(clips, refs, run_id="k1", fail_stage="audio")
    # the rule stages overlap: constraints and drift commit although
    # audio fails, and run() re-raises once every stage has finished
    m1 = eng.manifest().toPandas()
    assert set(m1["stage"]) == {"profile", "constraints", "drift"}

    eng.run(clips, refs, run_id="k2")  # resume completes only remaining stages
    m2 = eng.manifest().toPandas()
    assert set(m2[m2["run_id"] == "k2"]["stage"]) == {"audio"}

    # final state identical to the uninterrupted run in run_dir
    # (exact-duplicate source rows legitimately yield identical violation
    # rows, so compare full multisets, not dedup counts)
    golden = datagen.golden_violations(tiny_cfg)
    viol = eng.violations().toPandas()
    uninterrupted = _engine(spark, run_dir).violations().toPandas()
    key = ["stage", "part", "rule", "clip_id", "detail"]
    assert sorted(map(tuple, viol[key].values.tolist())) == sorted(
        map(tuple, uninterrupted[key].values.tolist())
    )
    got = set(viol[viol["rule"] == "audio_snr"]["clip_id"])
    assert got == golden["audio_snr"]


def test_manifest_commit_escapes_part_values(spark, tmp_path):
    """The engine is generic over partition values: backslashes and
    quotes must survive the SQL VALUES manifest commit round-trip."""
    from nadeefiler_spark.profiler import ProfileConfig

    df = spark.createDataFrame(
        [("a", 1, "p\\x"), ("b", 2, "it's"), ("c", 3, "q\\'mix")],
        "clip_id string, v int, part string",
    )
    eng = ValidationEngine(
        spark, str(tmp_path / "esc"), rules=[],
        profile_cfg=ProfileConfig(part_col="part"),
    )
    eng.run(df, resume=False, run_id="esc1")
    parts = {r["part"] for r in eng.manifest().select("part").collect()}
    assert parts == {"p\\x", "it's", "q\\'mix"}


def test_manifest_compaction_bounds_files(spark, tmp_path):
    """Many (stage, run) commits must not grow the manifest listing
    unboundedly; compaction preserves every row."""
    import os

    from nadeefiler_spark.profiler import ProfileConfig

    eng = ValidationEngine(
        spark, str(tmp_path / "cmp"), rules=[],
        profile_cfg=ProfileConfig(part_col="part"),
        manifest_compact_files=8,
    )
    for i in range(20):
        eng._commit(f"r{i}", "profile", ["p"], {"p": 10}, {"p": 0}, 5)
    mdir = str(tmp_path / "cmp" / "manifest")
    n_files = len([f for f in os.listdir(mdir)
                   if f.endswith(".parquet") and not f.startswith("_")])
    assert n_files <= 12  # bounded (threshold 8 + growth since last compact)
    m = eng.manifest().toPandas()
    assert len(m) == 20  # nothing lost
    assert set(m["run_id"]) == {f"r{i}" for i in range(20)}


def test_profile_bytes_row_fused_equals_direct(spark, clips_dir):
    """The bytes summary row derived from the shared decode pass must
    equal the direct binary-scan profile row (both NDV modes)."""
    from nadeefiler_spark import profiler
    from nadeefiler_spark.rules.audio_rules import decode_facts

    clips = spark.read.parquet(f"{clips_dir}/clips")
    dec = decode_facts(clips, with_snr=False)
    for exact in (False, True):
        cfg = profiler.ProfileConfig(exact_ndv=exact, part_col="part")
        direct = {r["part"]: r for r in
                  profiler.profile_summary(clips, cfg)
                  .where("key = 'bytes'").collect()}
        fused = {r["part"]: r for r in
                 ValidationEngine._bytes_summary_from_decoded(dec, cfg).collect()}
        assert set(direct) == set(fused)
        for part in direct:
            d, f = direct[part], fused[part]
            for col in ("n_rows", "n_nulls", "ndv", "min", "max"):
                assert d[col] == f[col], (exact, part, col)
            for col in ("mean", "stddev", "avg_len"):
                assert abs(d[col] - f[col]) < 1e-6, (exact, part, col)


def test_semantic_cascade_stage(spark, run_dir):
    """run_semantic reads the profile stage's value histograms (cascade
    parent), scores against a broadcast KB, and commits like a stage."""
    eng = _engine(spark, run_dir)
    kb = spark.createDataFrame(
        [("pcm_s16le wav", ["wikicat_PCM_Audio"]),
         ("opus", ["wikicat_Compressed_Audio"]),
         ("flac", ["wikicat_Lossless_Audio"])],
        "subject string, objects array<string>",
    )
    v = eng.run_semantic(kb, run_id="sem1")
    rows = v.collect()
    assert rows and all(r["stage"] == "semantic" and r["passed"] for r in rows)
    scores = eng.semantic_scores_table().toPandas()
    assert len(scores) > 0
    got = scores[(scores["key"] == "codec")]
    # codec histograms contain 'opus'/'flac'/'pcm_s16le' values -> matches
    assert {"wikicat_Compressed_Audio", "wikicat_Lossless_Audio"} <= set(got["object"])
    # resume: second call is a no-op (no new manifest rows)
    v2 = eng.run_semantic(kb, run_id="sem2")
    assert v2.count() == 0
    m = eng.manifest().toPandas()
    assert (m[m["stage"] == "semantic"]["run_id"] == "sem1").all()


def test_independent_default_runs_agree(spark, tiny_cfg, clips_dir, run_dir):
    """Two independent default runs produce the same violations: the
    overlapping rule stages share the decode cache and commit under a
    lock, so neither the order they finish in nor the output dir shows."""
    import tempfile

    out = tempfile.mkdtemp(prefix="conc_out_")
    eng = ValidationEngine(
        spark, out, rules=default_clip_rules(), profile_cfg=default_clips_config()
    )
    clips = spark.read.parquet(f"{clips_dir}/clips")
    refs = spark.read.parquet(f"{clips_dir}/transcript_refs")
    v = eng.run(clips, refs, run_id="conc1", resume=False)
    assert set(r["stage"] for r in v.collect()) == {
        "profile", "constraints", "audio", "drift"
    }
    key = ["stage", "part", "rule", "clip_id", "detail"]
    a = sorted(map(tuple, eng.violations().select(*key).collect()))
    b = sorted(map(tuple, _engine(spark, run_dir).violations().select(*key).collect()))
    assert a == b


def test_stage_jobs_stay_in_callers_job_group(spark, clips_dir, tmp_path):
    """Every job of run(), the rule stages' pool threads included, runs
    in the job group set on the calling thread, so the caller can
    describe, schedule and cancel the run as one group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()
    eng = _engine(spark, str(tmp_path / "grp"))
    clips = spark.read.parquet(f"{clips_dir}/clips")
    refs = spark.read.parquet(f"{clips_dir}/transcript_refs")
    bus.waitUntilEmpty()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setLocalProperty("spark.jobGroup.id", "engine_run")
    try:
        eng.run(clips, refs, resume=False)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    bus.waitUntilEmpty()
    assert tracker.getJobIdsForGroup("engine_run")
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()


def test_cross_stage_dependency_sees_upstream_rows(spark, clips_dir, tmp_path):
    """A rule whose depends_on names a rule of an earlier stage reads
    that stage's committed violations: such a cascade runs the rule
    stages one after another instead of overlapping them."""
    from dataclasses import dataclass

    from pyspark.sql import functions as F

    from nadeefiler_spark.rules.base import Rule

    @dataclass
    class EchoUpstream(Rule):
        engine: ValidationEngine | None = None

        def violations(self, ctx):
            up = self.engine.violations().where(
                (F.col("stage") == "constraints") & (F.col("rule") == "sr_domain")
            )
            return up.select(
                "part", F.lit(self.name).alias("rule"), "clip_id",
                F.concat(F.lit("after "), "detail").alias("detail"),
            )

    rules = [r for r in default_clip_rules() if r.name == "sr_domain"]
    echo = EchoUpstream(name="echo_sr", stage="audio", depends_on=("sr_domain",))
    eng = ValidationEngine(spark, str(tmp_path / "cascade"), rules=[*rules, echo],
                           profile_cfg=default_clips_config())
    echo.engine = eng
    # without the binary column the audio stage runs no decode
    clips = spark.read.parquet(f"{clips_dir}/clips").drop("bytes")
    eng.run(clips, resume=False)

    viol = eng.violations()
    upstream = viol.where(F.col("rule") == "sr_domain").select("part", "clip_id")
    echoed = viol.where(
        (F.col("rule") == "echo_sr") & (F.col("stage") == "audio")
    ).select("part", "clip_id")
    up_rows = sorted(map(tuple, upstream.collect()))
    assert up_rows
    assert sorted(map(tuple, echoed.collect())) == up_rows


def test_violation_samples_triage_view(spark, run_dir):
    eng = _engine(spark, run_dir)
    samples = eng.violation_samples(k=3).toPandas()
    assert set(samples.columns) == {
        "part", "rule", "clip_id", "detail", "stage", "rank",
    }
    # never more than k per (part, rule), rank is 1-based and dense
    sizes = samples.groupby(["part", "rule"]).size()
    assert (sizes <= 3).all() and len(sizes) > 0
    assert set(samples["rank"]) <= {1, 2, 3}
    # deterministic: re-evaluation yields the identical sample set
    again = eng.violation_samples(k=3).toPandas()
    a = samples.sort_values(list(samples.columns)).reset_index(drop=True)
    b = again.sort_values(list(again.columns)).reset_index(drop=True)
    assert a.equals(b)
    # groups with more violations than k are truncated to exactly k
    counts = eng.violations().groupBy("part", "rule").count().toPandas()
    big = counts[counts["count"] > 3]
    if len(big):
        p, r = big.iloc[0]["part"], big.iloc[0]["rule"]
        got = sizes.loc[(p, r)]
        assert got == 3


def test_clean_clips_validated_corpus(spark, clips_dir, run_dir):
    eng = _engine(spark, run_dir)
    clips = spark.read.parquet(f"{clips_dir}/clips")
    clean = eng.clean_clips(clips)
    flagged = {r["clip_id"] for r in eng.violations().select("clip_id").collect()}
    kept = {r["clip_id"] for r in clean.select("clip_id").collect()}
    every = {r["clip_id"] for r in clips.select("clip_id").collect()}
    assert kept == every - flagged and flagged
    # rule scoping: only sr_domain disqualifies -> more rows survive
    sr_only = eng.clean_clips(clips, rules=["sr_domain"])
    sr_flagged = {
        r["clip_id"]
        for r in eng.violations().where("rule = 'sr_domain'")
        .select("clip_id").collect()
    }
    assert {r["clip_id"] for r in sr_only.select("clip_id").collect()} == (
        every - sr_flagged
    )
    assert sr_only.count() > clean.count()
    # partition gate: failed partitions vanish entirely
    gated = eng.clean_clips(clips, drop_failed_partitions=True)
    failed_parts = {
        r["part"] for r in eng.verdicts().where("passed = false")
        .select("part").distinct().collect()
    }
    assert failed_parts
    left_parts = {r["part"] for r in gated.select("part").distinct().collect()}
    assert left_parts.isdisjoint(failed_parts)


def test_run_verdicts_are_the_committed_rows(spark, tmp_path):
    """run() returns the rows it committed, not a view over the manifest
    files: the frame still collects after later stages compact the
    manifest, and a second run under the same run id returns only its
    own stages."""
    from nadeefiler_spark.datagen import GenConfig

    clips = datagen.clips_df(
        spark, GenConfig(n_rows=400, seed=7, dur_min_ms=40, dur_max_ms=120)
    )
    eng = ValidationEngine(
        spark, str(tmp_path / "out"),
        rules=default_clip_rules(with_refs=False, with_audio=False, with_drift=False),
        profile_cfg=default_clips_config(),
        manifest_compact_files=2,
    )
    parts = {r["part"] for r in clips.select("part").distinct().collect()}
    want = {(p, s) for p in parts for s in ("profile", "constraints")}
    v = eng.run(clips, run_id="fixed")
    # two more commits push the manifest past 2 files: compaction swaps
    # out the part files a lazy manifest view would have listed
    eng.run_probe_stats(clips, run_id="fixed")
    eng.run_fd(clips, run_id="fixed")
    rows = v.collect()
    assert sorted((r["part"], r["stage"]) for r in rows) == sorted(want)
    again = eng.run(clips, resume=False, run_id="fixed").collect()
    assert sorted((r["part"], r["stage"]) for r in again) == sorted(want)


def test_drop_failed_partitions_uses_latest_verdict(spark, tmp_path):
    """A partition whose latest (part, stage) row passes is kept even if
    an earlier run of that stage failed; one whose latest row fails is
    dropped."""
    from datetime import datetime

    from nadeefiler_spark.engine import MANIFEST_SCHEMA

    eng = ValidationEngine(spark, str(tmp_path / "out"), rules=[])
    rows = [
        ("r1", "p1", "constraints", "2026-01-01T00:00:00", 1, 2),
        ("r2", "p1", "constraints", "2026-01-02T00:00:00", 1, 0),
        ("r1", "p2", "constraints", "2026-01-01T00:00:00", 1, 0),
        ("r2", "p2", "constraints", "2026-01-02T00:00:00", 1, 3),
        ("r2", "p1", "profile", "2026-01-02T00:00:00", 1, 0),
    ]
    eng.io.append(spark.createDataFrame(
        [(r[0], r[1], r[2], datetime.fromisoformat(r[3]), r[4], r[5], 0) for r in rows],
        schema=MANIFEST_SCHEMA,
    ), "manifest", coalesce=1)
    clips = spark.createDataFrame(
        [("a", "p1"), ("b", "p2")], "clip_id string, part string"
    )
    gated = eng.clean_clips(clips, drop_failed_partitions=True)
    assert {r["part"] for r in gated.collect()} == {"p1"}
