"""A row rule is its predicate: the fold of a predicate rule gives the
same rows as a plain filter on that predicate, the audio stage
scans the persisted decode once, and the rule stage counts violations
right past the Observation path's 64-part limit."""

from collections import Counter

import pytest
from pyspark.sql import functions as F

from nadeefiler_spark import audio, datagen
from nadeefiler_spark.engine import ValidationEngine
from nadeefiler_spark.presets import default_clip_rules
from nadeefiler_spark.profiler import default_clips_config
from nadeefiler_spark.rules.audio_rules import (
    AudioQcRule,
    CodecConsistencyRule,
    DurationConsistencyRule,
    HeaderTriageRule,
    SampleRateConsistencyRule,
    SnrRule,
    decode_facts,
    default_audio_rules,
)
from nadeefiler_spark.rules.base import RuleContext, fold
from nadeefiler_spark.rules.constraints import (
    DomainRule,
    PiiRule,
    RangeRule,
    RequiredRule,
    SpeakingRateRule,
)


@pytest.fixture(scope="module")
def fold_ctx(spark, clips_dir):
    clips = spark.read.parquet(f"{clips_dir}/clips")
    # plant PII so the PII rule has rows to compare (the corpus has none)
    pii = F.col("clip_id").endswith("7")
    clips = clips.withColumn("transcript", F.when(
        pii, F.concat("transcript", F.lit(" mail jo@example.com"))
    ).otherwise(F.col("transcript")))
    decoded = decode_facts(clips, with_qc=True).persist()
    parts = [r[0] for r in clips.select("part").distinct().collect()]
    # as the engine hands it to a stage: the persisted decode, scoped
    yield RuleContext(spark, clips, decoded=decoded.where(F.col("part").isin(parts)))
    decoded.unpersist()


def _rows(df):
    return Counter(map(tuple, df.select("part", "rule", "clip_id", "detail").collect()))


@pytest.mark.parametrize("rule", [
    DomainRule(name="sr_domain", column="sr_hz", allowed=audio.VALID_SR),
    RequiredRule(name="transcript_required", column="transcript"),
    RangeRule(column="dur_ms", lo=60, hi=140),
    PiiRule(column="transcript"),
    SpeakingRateRule(),
    HeaderTriageRule(),
    CodecConsistencyRule(),
    SampleRateConsistencyRule(),
    DurationConsistencyRule(),
    SnrRule(),
    AudioQcRule(),
], ids=lambda r: type(r).__name__)
def test_fold_of_one_rule_is_its_violations(fold_ctx, rule):
    folded = _rows(rule.violations(fold_ctx))
    pred, detail = rule.predicate(fold_ctx)
    rows = rule.prepare(rule.rows(fold_ctx), fold_ctx)
    filtered = rule.shape(rows.where(pred), fold_ctx, rule.name, detail)
    assert folded and folded == _rows(filtered)


def test_audio_fold_scans_the_persisted_decode_once(fold_ctx):
    """The four default audio rules are one fold over the persisted
    decode facts, not a union of one filtered scan per rule."""
    frame = fold(default_audio_rules(), fold_ctx)
    plan = frame._jdf.queryExecution().executedPlan().toString()
    assert plan.count("InMemoryTableScan") == 1, plan
    assert set(_rows(frame)) == set().union(
        *(_rows(r.violations(fold_ctx)) for r in default_audio_rules())
    )


def test_rule_stage_counts_past_64_parts(spark, tmp_path):
    """More than 64 pending parts take the read-back count instead of
    the Observation on the write: the manifest's n_violations per part
    is still the violations table's row count for that part."""
    clips = datagen.clips_df(
        spark, datagen.GenConfig(n_rows=700, seed=7, dur_min_ms=40, dur_max_ms=120)
    ).drop("bytes").withColumn(
        "part",
        F.format_string("p%02d", F.substring("clip_id", -12, 12).cast("int") % 70),
    )
    rules = default_clip_rules(with_refs=False, with_audio=False, with_drift=False)
    rules.append(RangeRule(column="dur_ms", lo=60, hi=100))
    eng = ValidationEngine(spark, str(tmp_path / "out"), rules=rules,
                           profile_cfg=default_clips_config())
    eng.run(clips, run_id="wide")

    manifest = {
        r["part"]: r["n_violations"]
        for r in eng.manifest().where(F.col("stage") == "constraints").collect()
    }
    counts = {
        r["part"]: r["count"]
        for r in eng.violations().where(F.col("stage") == "constraints")
        .groupBy("part").count().collect()
    }
    assert len(manifest) == 70
    assert sum(counts.values()) > 0
    assert manifest == {p: counts.get(p, 0) for p in manifest}
