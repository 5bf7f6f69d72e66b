"""Lineage snapshot: every engine stage's manifest rows on one corpus.

Drives every stage the conftest corpus supports, in the order the job
entrypoint runs them, into ONE output dir under a fixed run id, and pins
each (stage, part) manifest row's ``(n_rows, n_violations)`` to a
recorded literal. The per-stage tests check their own stage's semantics;
this one catches a shared-scaffolding change (resume resolution,
per-partition counting, commit) that shifts any stage's lineage.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nadeefiler_spark import audio
from nadeefiler_spark.engine import ValidationEngine
from nadeefiler_spark.presets import default_clip_rules
from nadeefiler_spark.profiler import default_clips_config

RUN_ID = "lin"

# (stage, part) -> (n_rows, n_violations), recorded on the conftest
# corpus (GenConfig(n_rows=1200, seed=42, dur 40-160 ms))
EXPECTED = {
    ("admission", "b1"): (2, 1),
    ("audio", "flac"): (186, 3),
    ("audio", "mp3"): (50, 2),
    ("audio", "opus"): (118, 2),
    ("audio", "pcm_s16le"): (846, 21),
    ("certificate", "flac"): (82, 1),
    ("certificate", "mp3"): (21, 0),
    ("certificate", "opus"): (59, 1),
    ("certificate", "pcm_s16le"): (429, 4),
    ("constraints", "flac"): (186, 12),
    ("constraints", "mp3"): (50, 2),
    ("constraints", "opus"): (118, 5),
    ("constraints", "pcm_s16le"): (846, 60),
    ("content_dedup", "flac"): (186, 4),
    ("content_dedup", "mp3"): (50, 0),
    ("content_dedup", "opus"): (118, 0),
    ("content_dedup", "pcm_s16le"): (846, 8),
    ("discovery", "flac"): (186, 4),
    ("discovery", "mp3"): (50, 0),
    ("discovery", "opus"): (118, 0),
    ("discovery", "pcm_s16le"): (846, 8),
    ("drift", "flac"): (186, 0),
    ("drift", "mp3"): (50, 0),
    ("drift", "opus"): (118, 0),
    ("drift", "pcm_s16le"): (846, 0),
    ("embedding_dedup", "flac"): (186, 177),
    ("embedding_dedup", "mp3"): (50, 44),
    ("embedding_dedup", "opus"): (118, 108),
    ("embedding_dedup", "pcm_s16le"): (846, 786),
    ("embedding_drift", "flac"): (186, 0),
    ("embedding_drift", "mp3"): (50, 0),
    ("embedding_drift", "opus"): (118, 0),
    ("embedding_drift", "pcm_s16le"): (846, 0),
    ("expectations", "flac"): (186, 1),
    ("expectations", "mp3"): (50, 0),
    ("expectations", "opus"): (118, 0),
    ("expectations", "pcm_s16le"): (846, 2),
    ("fd", "flac"): (186, 0),
    ("fd", "mp3"): (50, 0),
    ("fd", "opus"): (118, 0),
    ("fd", "pcm_s16le"): (846, 0),
    ("fp_index", "flac"): (186, 0),
    ("fp_index", "mp3"): (50, 0),
    ("fp_index", "opus"): (118, 0),
    ("fp_index", "pcm_s16le"): (846, 0),
    ("incidents", "b1"): (1, 1),
    ("incidents", "base"): (1, 1),
    ("incidents", "flac"): (8, 8),
    ("incidents", "mp3"): (4, 4),
    ("incidents", "opus"): (5, 5),
    ("incidents", "pcm_s16le"): (8, 8),
    ("probe", "flac"): (186, 2),
    ("probe", "mp3"): (50, 1),
    ("probe", "opus"): (118, 2),
    ("probe", "pcm_s16le"): (846, 18),
    ("profile", "flac"): (186, 0),
    ("profile", "mp3"): (50, 0),
    ("profile", "opus"): (118, 0),
    ("profile", "pcm_s16le"): (846, 0),
    ("screen", "flac"): (1, 1),
    ("screen", "mp3"): (1, 1),
    ("screen", "opus"): (1, 1),
    ("screen", "pcm_s16le"): (1, 1),
    ("semantic", "flac"): (186, 0),
    ("semantic", "mp3"): (50, 0),
    ("semantic", "opus"): (118, 0),
    ("semantic", "pcm_s16le"): (846, 0),
    ("suite_regression", "base"): (4, 4),
    ("vad", "flac"): (186, 0),
    ("vad", "mp3"): (50, 0),
    ("vad", "opus"): (118, 0),
    ("vad", "pcm_s16le"): (846, 0),
}


def run_every_stage(spark, clips_dir: str, out: str) -> ValidationEngine:
    """Run every stage over the conftest corpus into ``out``, job order."""
    eng = ValidationEngine(
        spark, out, rules=default_clip_rules(), profile_cfg=default_clips_config()
    )
    clips = spark.read.parquet(f"{clips_dir}/clips")
    refs = spark.read.parquet(f"{clips_dir}/transcript_refs")
    kb = spark.createDataFrame(
        [("pcm_s16le wav", ["wikicat_PCM_Audio"]),
         ("opus", ["wikicat_Compressed_Audio"]),
         ("flac", ["wikicat_Lossless_Audio"])],
        "subject string, objects array<string>",
    )
    row = clips.orderBy("clip_id").limit(1).collect()[0]
    batch = spark.createDataFrame(
        [("adm-copy", bytes(row["bytes"])),
         ("adm-new", audio.encode(
             audio.render_pcm("lineage-new", 16000, 120), 16000, "flac"))],
        "clip_id string, bytes binary",
    )
    eng.run(clips, refs, run_id=RUN_ID)
    eng.run_semantic(kb, run_id=RUN_ID)
    eng.run_fd(clips, run_id=RUN_ID)
    eng.run_expectations(clips, run_id=RUN_ID)
    eng.run_discovery(clips, refs=refs, run_id=RUN_ID)
    eng.run_content_dedup(clips, run_id=RUN_ID)
    eng.run_vad(clips, run_id=RUN_ID)
    eng.run_probe_stats(clips, run_id=RUN_ID)
    eng.run_certificate(clips, fraction=0.5, run_id=RUN_ID)
    eng.run_fp_index(clips, run_id=RUN_ID)
    eng.run_admission(clips, batch, batch_id="b1", run_id=RUN_ID)
    eng.run_embedding_dedup(clips, run_id=RUN_ID)
    eng.run_embedding_drift(clips, run_id=RUN_ID)
    # baseline = one partition's profile: its suite is too tight for the
    # whole corpus, so some checks regress
    eng.run_suite_regression(
        eng.profile_summary().where(F.col("part") == "pcm_s16le"),
        baseline_id="base", run_id=RUN_ID,
    )
    eng.run_incident_sessions(run_id=RUN_ID)
    eng.run_screen_attribution(run_id=RUN_ID)
    return eng


def lineage(eng: ValidationEngine) -> dict:
    return {
        (r["stage"], r["part"]): (r["n_rows"], r["n_violations"])
        for r in eng.manifest().collect()
    }


@pytest.fixture(scope="module")
def lineage_eng(spark, clips_dir, tmp_path_factory):
    return run_every_stage(
        spark, clips_dir, str(tmp_path_factory.mktemp("lineage_out"))
    )


def test_every_stage_lineage_matches_snapshot(lineage_eng):
    got = lineage(lineage_eng)
    assert got == EXPECTED, {
        k: (got.get(k), EXPECTED.get(k))
        for k in set(got) | set(EXPECTED) if got.get(k) != EXPECTED.get(k)
    }


def test_one_row_per_stage_part_under_the_fixed_run_id(lineage_eng):
    m = lineage_eng.manifest().select("stage", "part", "run_id").collect()
    assert len(m) == len({(r["stage"], r["part"]) for r in m})
    assert {r["run_id"] for r in m} == {RUN_ID}
    stages = {r["stage"] for r in m}
    assert len(stages) == 19


def test_resumed_stages_add_no_rows(spark, clips_dir, lineage_eng):
    """A second pass over the same corpus resumes every stage: no new
    manifest rows and an empty verdict frame from each runner."""
    before = lineage_eng.manifest().count()
    clips = spark.read.parquet(f"{clips_dir}/clips")
    assert lineage_eng.run(clips, run_id="again").isEmpty()
    assert lineage_eng.run_fp_index(clips, run_id="again").isEmpty()
    assert lineage_eng.run_probe_stats(clips, run_id="again").isEmpty()
    assert lineage_eng.run_content_dedup(clips, run_id="again").isEmpty()
    assert lineage_eng.run_incident_sessions(run_id="again").isEmpty()
    assert lineage_eng.manifest().count() == before
