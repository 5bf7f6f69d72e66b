"""Engine sampled decode-certificate stage: exactness at fraction=1.0,
determinism of the sample, resume semantics, and the uncertified path."""

import pytest
from pyspark.sql import functions as F

from nadeefiler_spark.engine import ValidationEngine
from nadeefiler_spark.profiler import default_clips_config
from nadeefiler_spark.rules.audio_rules import decode_facts


def _eng(spark, out):
    return ValidationEngine(
        spark, out, rules=[], profile_cfg=default_clips_config()
    )


def _expected_viol_by_part(clips):
    """Independent recount of the certificate's violation triple over
    the FULL corpus (fraction=1.0 twin)."""
    f = decode_facts(clips, with_snr=False)
    tol = F.greatest(F.lit(20.0), F.lit(0.02) * F.col("dur_ms"))
    viol = (
        F.col("decode_error").isNotNull()
        | (F.col("dec_sr") != F.col("sr_hz"))
        | (F.abs(F.col("dec_ms") - F.col("dur_ms")) > tol)
    )
    return {
        r["part"]: (r["n"], r["v"])
        for r in f.groupBy("part").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(viol.cast("bigint")).alias("v"),
        ).collect()
    }


def test_full_fraction_matches_exact_recount(spark, clips_dir, tmp_path):
    clips = spark.read.parquet(f"{clips_dir}/clips")
    eng = _eng(spark, str(tmp_path / "out"))
    eng.run_certificate(clips, fraction=1.0, eps=0.01, run_id="c1")
    cert = {
        r["part"]: r
        for r in eng.io.read("certificates").collect()
    }
    expected = _expected_viol_by_part(clips)
    assert set(cert) == set(expected)
    for part, (n, v) in expected.items():
        r = cert[part]
        assert (r["n_sampled"], r["n_viol"]) == (n, v)
        assert r["rate_hat"] == pytest.approx(v / n, abs=1e-6)
        # planted datagen violations exist -> nothing certifies at 1%
        assert r["rate_ub"] > r["rate_hat"]
    # manifest stage committed per partition
    m = eng.manifest().where(F.col("stage") == "certificate").collect()
    assert {r["part"] for r in m} == set(expected)


def test_sample_is_deterministic_and_proper_subset(spark, clips_dir, tmp_path):
    clips = spark.read.parquet(f"{clips_dir}/clips")
    a = _eng(spark, str(tmp_path / "a"))
    b = _eng(spark, str(tmp_path / "b"))
    a.run_certificate(clips, fraction=0.3, run_id="s1")
    b.run_certificate(clips.repartition(7), fraction=0.3, run_id="s2")
    ra = {r["part"]: (r["n_sampled"], r["n_viol"])
          for r in a.io.read("certificates").collect()}
    rb = {r["part"]: (r["n_sampled"], r["n_viol"])
          for r in b.io.read("certificates").collect()}
    assert ra == rb  # same sample at any layout
    full = _expected_viol_by_part(clips)
    n_s = sum(n for n, _ in ra.values())
    n_f = sum(n for n, _ in full.values())
    assert 0 < n_s < n_f
    assert n_s == pytest.approx(0.3 * n_f, rel=0.2)


def test_resume_skips_done_partitions(spark, clips_dir, tmp_path):
    clips = spark.read.parquet(f"{clips_dir}/clips")
    eng = _eng(spark, str(tmp_path / "out"))
    v1 = eng.run_certificate(clips, fraction=0.5, run_id="r1")
    assert v1.count() > 0
    v2 = eng.run_certificate(clips, fraction=0.5, run_id="r2")
    assert v2.count() == 0  # all partitions already certified
    v3 = eng.run_certificate(clips, fraction=0.5, run_id="r3", resume=False)
    assert v3.count() == v1.count()


def test_clean_partition_certifies(spark, tmp_path):
    # hand-built all-clean partition: certificate must certify at a
    # loose eps once n is large enough for the slack to fit
    from nadeefiler_spark import datagen
    from nadeefiler_spark.datagen import GenConfig

    cfg = GenConfig(n_rows=400, seed=7, dur_min_ms=40, dur_max_ms=120)
    clips = datagen.clips_df(spark, cfg)
    golden = datagen.golden_violations(cfg)
    bad = (
        golden["audio_codec"] | golden["audio_sample_rate"]
        | golden["audio_duration"]
    )
    clean = clips.where(~F.col("clip_id").isin(list(bad)))
    # decode errors: drop undecodable-planted rows too
    f = decode_facts(clean, with_snr=False)
    clean = clean.join(
        f.where(F.col("decode_error").isNotNull()).select("clip_id"),
        "clip_id", "left_anti",
    )
    eng = _eng(spark, str(tmp_path / "out"))
    eng.run_certificate(clean, fraction=1.0, eps=0.2, run_id="ok")
    rows = eng.io.read("certificates").collect()
    assert rows and all(r["n_viol"] == 0 for r in rows)
    assert any(bool(r["certified"]) for r in rows)


def test_uncertified_parts_routing(spark, clips_dir, tmp_path):
    clips = spark.read.parquet(f"{clips_dir}/clips")
    eng = _eng(spark, str(tmp_path / "out"))
    assert eng.uncertified_parts() == []  # no certificates yet
    eng.run_certificate(clips, fraction=1.0, eps=0.01, run_id="c1")
    cert = {r["part"]: bool(r["certified"])
            for r in eng.io.read("certificates").collect()}
    routed = set(eng.uncertified_parts())
    assert routed == {p for p, ok in cert.items() if not ok}
    # planted datagen violations -> at tight eps everything routes
    assert routed


def test_invalidate_reopens_units(spark, clips_dir, tmp_path):
    """certificate loop closure: invalidate (part, stage) units and the
    next run() redoes exactly those, idempotently."""
    from pyspark.sql import functions as F

    from nadeefiler_spark.engine import ValidationEngine
    from nadeefiler_spark.presets import default_clip_rules
    from nadeefiler_spark.profiler import default_clips_config

    out = str(tmp_path / "out")
    clips = spark.read.parquet(f"{clips_dir}/clips")
    refs = spark.read.parquet(f"{clips_dir}/transcript_refs")
    eng = ValidationEngine(
        spark, out, rules=default_clip_rules(with_drift=False),
        profile_cfg=default_clips_config(),
    )
    eng.run(clips, refs, run_id="r1")
    before = eng.violations().orderBy("stage", "rule", "clip_id").collect()
    parts = [r["part"] for r in eng.manifest().select("part").distinct().collect()]
    victim = sorted(parts)[0]

    removed = eng.invalidate([victim], stages=("audio",))
    assert removed == 1
    # unit is gone from the manifest; everything else intact
    m = eng.manifest()
    assert m.where(
        (F.col("part") == victim) & (F.col("stage") == "audio")
    ).isEmpty()
    assert eng.invalidate([victim], stages=("audio",)) == 0  # idempotent

    # re-run redoes ONLY the invalidated unit...
    v2 = eng.run(clips, refs, run_id="r2")
    redone = {(r["part"], r["stage"]) for r in v2.collect()}
    assert redone == {(victim, "audio")}
    # ...and the violations table converges to the original state
    after = eng.violations().orderBy("stage", "rule", "clip_id").collect()
    assert after == before


def test_job_recheck_uncertified_escalates(spark, clips_dir, tmp_path):
    """screen-only flow (--no-audio --certify) + --recheck-uncertified:
    failed partitions get a full audio pass; certified ones never decode
    beyond the sample."""
    from pyspark.sql import functions as F

    from nadeefiler_spark import job
    from nadeefiler_spark.engine import ValidationEngine

    out = str(tmp_path / "out")
    summary = job.main(
        [
            "--clips", f"{clips_dir}/clips",
            "--refs", f"{clips_dir}/transcript_refs",
            "--out", out,
            "--no-drift", "--no-audio",
            "--certify", "0.2", "--certify-eps", "0.005",
            "--recheck-uncertified",
        ],
        spark=spark,
    )
    eng = ValidationEngine(spark, out)
    cert = eng.io.read(
        "certificates",
        "part string, n_sampled bigint, n_viol bigint, rate_hat double, "
        "rate_ub double, certified boolean",
    )
    bad = {r["part"] for r in cert.where(~F.col("certified")).collect()}
    # datagen plants decode violations in every partition at this eps
    assert bad
    audio_parts = {
        r["part"]
        for r in eng.manifest().where(F.col("stage") == "audio").collect()
    }
    assert audio_parts == bad  # full decode ran exactly on failed parts
    av = eng.violations().where(
        F.col("rule").isin("audio_codec", "audio_sample_rate",
                           "audio_duration", "audio_snr")
    )
    assert {r["part"] for r in av.select("part").distinct().collect()} <= bad
    assert av.count() > 0
    assert not summary["passed"]


def _job_verdicts(spark, out, run_id):
    from nadeefiler_spark.engine import ValidationEngine

    return ValidationEngine(spark, out).verdicts().where(
        F.col("run_id") == run_id
    ).collect()


def test_job_recheck_with_audio_on_rewrites_manifest_safely(spark, clips_dir, tmp_path):
    """--recheck-uncertified with the audio stage ON: invalidate swaps
    the manifest after the main run committed its audio units, and the
    job still completes; each re-checked audio unit counts once."""
    from nadeefiler_spark import job

    out = str(tmp_path / "out")
    summary = job.main(
        [
            "--clips", f"{clips_dir}/clips",
            "--refs", f"{clips_dir}/transcript_refs",
            "--out", out,
            "--no-drift",
            "--certify", "0.2", "--certify-eps", "0.005",
            "--recheck-uncertified", "--run-id", "rc",
        ],
        spark=spark,
    )
    rows = _job_verdicts(spark, out, "rc")
    units = [(r["part"], r["stage"]) for r in rows]
    assert len(units) == len(set(units))
    assert {s for _, s in units} == {"profile", "constraints", "audio", "certificate"}
    assert summary["n_violations"] == sum(r["n_violations"] for r in rows)
    assert not summary["passed"]


def test_job_summary_is_the_manifest_under_the_run_id(spark, clips_dir, tmp_path):
    """With --run-id, the summary counts each (part, stage) once: it is
    exactly the manifest rows under that id, including the stages the
    --recheck-uncertified engine commits after the cascade stages."""
    from nadeefiler_spark import job

    out = str(tmp_path / "out")
    summary = job.main(
        [
            "--clips", f"{clips_dir}/clips",
            "--out", out,
            "--no-audio", "--no-drift", "--probe-health",
            "--certify", "0.2", "--certify-eps", "0.005",
            "--recheck-uncertified", "--run-id", "fixed",
        ],
        spark=spark,
    )
    rows = _job_verdicts(spark, out, "fixed")
    units = [(r["part"], r["stage"]) for r in rows]
    assert len(units) == len(set(units))
    assert summary["stages"] == sorted({s for _, s in units}) == [
        "audio", "certificate", "constraints", "probe", "profile"
    ]
    assert summary["partitions"] == sorted({p for p, _ in units})
    assert summary["n_violations"] == sum(r["n_violations"] for r in rows) > 0
