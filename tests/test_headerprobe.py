"""Header-only probe tests: the decode-free triage tier must agree with
an independent pure-Python re-derivation of every planted container
mismatch (datagen.row_spec), handle malformed payloads the decode tier
only sees as numpy errors, and fold into the engine's shared
constraints-stage scan via the predicate fast-path."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from nadeefiler_spark import audio, datagen
from nadeefiler_spark.operators.headerprobe import (
    header_findings,
    header_probe,
    le_u32,
    triage_route,
)

CFG = datagen.GenConfig(n_rows=1500, seed=5, dur_min_ms=60, dur_max_ms=200)


def expected_finding(spec: dict) -> str | None:
    """Independent twin of finding_expr over a datagen row_spec: the
    header carries the enc_* values, the columns carry the declared
    ones; same check order, same duration tolerance."""
    hdr_codec = spec["enc_codec"]
    hdr_sr = spec["enc_sr"]
    n_samples = max(int(hdr_sr * spec["enc_dur_ms"] / 1000), 1)
    hdr_dur = math.floor(n_samples * 1000 / hdr_sr)
    if hdr_codec != spec["codec"]:
        return "codec_mismatch"
    if hdr_sr != spec["sr_hz"]:
        return "rate_mismatch"
    tol = max(20.0, 0.02 * spec["dur_ms"])
    if abs(hdr_dur - spec["dur_ms"]) > tol:
        return "duration_mismatch"
    return None


@pytest.fixture(scope="module")
def findings(spark):
    clips = datagen.clips_df(spark, CFG)
    rows = header_findings(clips).select(
        "clip_id", "hdr_codec", "hdr_sr_hz", "hdr_n_samples",
        "hdr_dur_ms", "hdr_len_ok", "hdr_ok", "hdr_finding",
    ).collect()
    return {r["clip_id"]: r for r in rows}


def test_flagged_set_matches_pure_python_twin(findings):
    expected = {}
    for i in range(CFG.n_rows):
        spec = datagen.row_spec(i, CFG)
        f = expected_finding(spec)
        if f is not None:
            # duplicate rows (i%211==1) reuse the previous clip_id: the
            # probe sees two identical rows, one flagged verdict each
            expected[spec["clip_id"]] = f
    got = {
        cid: r["hdr_finding"]
        for cid, r in findings.items()
        if r["hdr_finding"] is not None
    }
    assert got == expected
    assert len(got) > 0  # the residues are planted at this n_rows


def test_parse_round_trips_python_decode(findings):
    for i in (0, 7, 100, 1234):
        spec = datagen.row_spec(i, CFG)
        r = findings[spec["clip_id"]]
        codec, sr, pcm = audio.decode(datagen.render_row_bytes(spec))
        assert r["hdr_codec"] == codec
        assert r["hdr_sr_hz"] == sr
        assert r["hdr_n_samples"] == len(pcm)
        assert r["hdr_len_ok"] is True
        assert r["hdr_dur_ms"] == math.floor(len(pcm) * 1000 / sr)


def test_pcm_corruption_is_invisible_to_the_probe(findings):
    # i%239==6 plants SNR corruption: noise preserves container
    # structure, so the probe must NOT flag it — that is the tier
    # boundary (decode-tier SnrRule owns it)
    corrupt_ids = [
        datagen.row_spec(i, CFG)["clip_id"]
        for i in range(CFG.n_rows)
        if datagen.row_spec(i, CFG)["corrupt"]
    ]
    assert corrupt_ids
    for cid in corrupt_ids:
        r = findings[cid]
        if r["hdr_finding"] is not None:
            # only flagged when the same row ALSO carries a planted
            # metadata mismatch (overlapping residues)
            assert r["hdr_finding"] in (
                "codec_mismatch", "rate_mismatch", "duration_mismatch"
            )


def test_malformed_payloads(spark):
    spec = datagen.row_spec(10, CFG)
    good = datagen.render_row_bytes(spec)
    rows = [
        ("trunc", good[:-10]),
        ("junk", b"\x00garbage-not-audio"),
        ("short", good[:6]),
        ("flac", b"fLaC" + good),
        ("ogg", b"OggS" + b"\x01" * 40),
        ("mp3", b"ID3\x04" + b"\x02" * 40),
    ]
    df = spark.createDataFrame(
        [(k, b, spec["sr_hz"], spec["dur_ms"], "flac") for k, b in rows],
        "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string",
    )
    out = {r["clip_id"]: r for r in header_findings(df).collect()}
    assert out["trunc"]["hdr_finding"] == "bad_length"
    assert out["trunc"]["hdr_len_ok"] is False
    assert out["junk"]["hdr_finding"] == "unrecognized"
    assert out["short"]["hdr_finding"] == "unrecognized"
    # real bitstreams: magic recognized, verdict deferred to decode tier
    assert out["flac"]["hdr_codec"] == "flac"
    assert out["flac"]["hdr_sr_hz"] is None
    assert out["flac"]["hdr_finding"] == "needs_decode"
    assert out["ogg"]["hdr_codec"] == "opus"  # codec column says flac
    assert out["ogg"]["hdr_finding"] == "codec_mismatch"
    assert out["mp3"]["hdr_codec"] == "mp3"
    assert out["mp3"]["hdr_finding"] == "codec_mismatch"


def test_le_u32_short_blob_is_null(spark):
    df = spark.createDataFrame([(b"\x01\x02\x03",)], "b binary")
    assert df.select(le_u32(F.col("b"), 1).alias("v")).first()["v"] is None
    df2 = spark.createDataFrame([(b"\x78\x56\x34\x12",)], "b binary")
    assert df2.select(le_u32(F.col("b"), 1).alias("v")).first()["v"] == 0x12345678


def test_triage_route_two_tier(spark):
    clips = datagen.clips_df(spark, CFG)
    routed = triage_route(clips, sample_pct=1.0, seed=3)
    agg = routed.groupBy("route").agg(
        F.count("*").alias("n"),
        F.sum(F.col("hdr_finding").isNotNull().cast("int")).alias("flagged"),
    )
    by = {r["route"]: r for r in agg.collect()}
    # every flagged clip routes to decode; probe_only is finding-free
    assert by["probe_only"]["flagged"] == 0
    n_flagged = by["decode"]["flagged"]
    assert n_flagged > 0
    # the healthy audit sample is ~1% of the clean population
    audited = by["decode"]["n"] - n_flagged
    clean = by["probe_only"]["n"] + audited
    assert 0 < audited < 0.05 * clean
    # deterministic: same seed -> identical routing
    again = triage_route(clips, sample_pct=1.0, seed=3)
    a = {r["clip_id"]: r["route"] for r in routed.select("clip_id", "route").collect()}
    b = {r["clip_id"]: r["route"] for r in again.select("clip_id", "route").collect()}
    assert a == b


def test_probe_plan_is_scan_only(spark):
    clips = datagen.clips_df(spark, CFG)
    plan = header_probe(clips)._jdf.queryExecution().executedPlan().toString()
    # pure projection: no exchange, no python/pandas UDF evaluation
    assert "Exchange" not in plan
    assert "Python" not in plan and "ArrowEval" not in plan


def test_header_triage_rule_in_engine(spark, tmp_path):
    from nadeefiler_spark.engine import ValidationEngine
    from nadeefiler_spark.presets import default_clip_rules
    from nadeefiler_spark.profiler import default_clips_config

    clips = datagen.clips_df(spark, CFG)
    refs = datagen.refs_df(spark, CFG)
    eng = ValidationEngine(
        spark,
        str(tmp_path / "out"),
        rules=default_clip_rules(with_header_triage=True, with_drift=False),
        profile_cfg=default_clips_config(),
    )
    eng.run(clips, refs, run_id="r1")
    got = {
        (r["clip_id"], r["detail"])
        for r in eng.violations()
        .where(F.col("rule") == "header_triage")
        .collect()
    }
    expected = set()
    for i in range(CFG.n_rows):
        spec = datagen.row_spec(i, CFG)
        f = expected_finding(spec)
        if f is not None:
            expected.add((spec["clip_id"], f))
    assert got == expected


def test_fused_constraints_scan_keeps_codegen(spark, tmp_path, capfd):
    """The shared constraints scan with HeaderTriageRule folded in must
    keep whole-stage codegen. The rule's predicate reads MATERIALIZED
    probe columns via Rule.prepare/staged_probe (ADVICE r3): the flat
    finding tree folded alongside other predicate rules is the shape
    CLOSEST to Janino's 64 KB method limit (measured today it still
    compiles with the default rule set, but header_triage's
    union-branch variant of the same tree did NOT — see PLANS.md), so
    this pins the fused scan against any future rule addition or
    expression growth tipping it over. capfd captures the JVM's fd-2
    output, so a silent interpreted-eval fallback fails loudly here."""
    from nadeefiler_spark.engine import ValidationEngine
    from nadeefiler_spark.presets import default_clip_rules
    from nadeefiler_spark.profiler import default_clips_config

    clips = datagen.clips_df(spark, CFG)
    refs = datagen.refs_df(spark, CFG)
    capfd.readouterr()  # drop anything buffered before the run
    eng = ValidationEngine(
        spark,
        str(tmp_path / "out"),
        rules=default_clip_rules(with_header_triage=True, with_drift=False),
        profile_cfg=default_clips_config(),
    )
    eng.run(clips, refs, run_id="r1")
    err = capfd.readouterr().err
    assert "grows beyond 64 KB" not in err
    assert "InternalCompilerException" not in err


def test_standalone_triage_violations_keep_codegen(spark):
    """HeaderTriageRule.violations() run on its own, outside the engine,
    must keep whole-stage codegen too. It plans the same one-rule fold
    the engine runs; a bare where(predicate) over the staged probe lets
    the optimizer re-derive the flat finding tree, and Janino gives up
    with "Code grows beyond 64 KB".

    The check compiles every whole-stage subtree of the plan (Spark's
    codegen explain mode) and reads its bytecode stats: a subtree that
    fails to compile reports maxMethodCodeSize -1. capfd cannot see the
    compile error here: the JVM keeps the stderr it inherited when the
    session started."""
    import re

    from nadeefiler_spark.rules.audio_rules import HeaderTriageRule
    from nadeefiler_spark.rules.base import RuleContext

    clips = datagen.clips_df(spark, datagen.GenConfig(n_rows=300, seed=7))
    df = HeaderTriageRule().violations(RuleContext(spark, clips))
    plan = spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "codegen")
    sizes = [int(n) for n in re.findall(r"maxMethodCodeSize:(-?\d+)", plan)]
    assert sizes and min(sizes) > 0, sizes
    assert df.count() > 0  # the planted container residues are flagged


def test_two_triage_instances_fold_without_collision(spark, tmp_path):
    """Two HeaderTriageRule instances (distinct names, different
    tolerances) fold into the SAME shared constraints scan: staging is
    namespaced per rule instance (__<name>_ prefix), so their helper
    columns — and any hdr_* column already on the input — cannot
    collide (ADVICE r4). The lax instance must still produce exactly
    the golden finding set; the strict one (zero duration tolerance) a
    superset."""
    from nadeefiler_spark.engine import ValidationEngine
    from nadeefiler_spark.profiler import default_clips_config
    from nadeefiler_spark.rules.audio_rules import HeaderTriageRule

    clips = datagen.clips_df(spark, CFG).withColumn(
        "hdr_codec", F.lit("preexisting")  # must survive untouched
    )
    refs = datagen.refs_df(spark, CFG)
    eng = ValidationEngine(
        spark,
        str(tmp_path / "out"),
        rules=[
            HeaderTriageRule(),
            HeaderTriageRule(
                name="header_triage_strict", abs_tol_ms=0, rel_tol=0.0
            ),
        ],
        profile_cfg=default_clips_config(),
    )
    eng.run(clips, refs, run_id="r1")
    rows = eng.violations().collect()
    lax = {(r["clip_id"], r["detail"]) for r in rows
           if r["rule"] == "header_triage"}
    strict_ids = {r["clip_id"] for r in rows
                  if r["rule"] == "header_triage_strict"}
    expected = set()
    for i in range(CFG.n_rows):
        spec = datagen.row_spec(i, CFG)
        f = expected_finding(spec)
        if f is not None:
            expected.add((spec["clip_id"], f))
    assert lax == expected
    assert {cid for cid, _ in lax} <= strict_ids


def test_colliding_staged_columns_raise_with_attribution(spark, tmp_path):
    """Staging collisions fail LOUDLY with attribution, at both layers
    (ADVICE r4): two same-named rule instances are rejected up front
    (the name keys violations rows and staging namespaces — topo_sort
    used to silently drop the second), and a prepare() that stages a
    column already on the shared scan is caught by the engine's fold
    loop — not left to die downstream on an ambiguous reference."""
    import pytest

    from nadeefiler_spark.engine import ValidationEngine
    from nadeefiler_spark.profiler import default_clips_config
    from nadeefiler_spark.rules.audio_rules import HeaderTriageRule
    from nadeefiler_spark.rules.base import Rule

    clips = datagen.clips_df(spark, CFG)
    refs = datagen.refs_df(spark, CFG)
    eng = ValidationEngine(
        spark,
        str(tmp_path / "out"),
        rules=[HeaderTriageRule(), HeaderTriageRule(abs_tol_ms=0)],
        profile_cfg=default_clips_config(),
    )
    with pytest.raises(ValueError, match="duplicate rule name"):
        eng.run(clips, refs, run_id="r1")

    class BadStager(Rule):
        name: str = "bad_stager"

        def prepare(self, df, ctx):
            return df.select("*", F.lit(1).alias("codec"))  # collides

        def predicate(self, ctx):
            return F.lit(False), F.lit(None).cast("string")

    eng2 = ValidationEngine(
        spark,
        str(tmp_path / "out2"),
        rules=[BadStager(name="bad_stager")],
        profile_cfg=default_clips_config(),
    )
    with pytest.raises(ValueError, match="staged duplicate"):
        eng2.run(clips, refs, run_id="r1")


def test_probe_stats_batch_totals(spark):
    from nadeefiler_spark.operators.headerprobe import probe_stats

    clips = datagen.clips_df(spark, CFG)
    row = probe_stats(clips, by=()).collect()[0]
    expected = {}
    for i in range(CFG.n_rows):
        spec = datagen.row_spec(i, CFG)
        f = expected_finding(spec)
        expected[f] = expected.get(f, 0) + 1
    assert row["n_clips"] == CFG.n_rows
    assert row["n_flagged"] == CFG.n_rows - expected.get(None, 0)
    assert row["n_codec_mismatch"] == expected.get("codec_mismatch", 0)
    assert row["n_rate_mismatch"] == expected.get("rate_mismatch", 0)
    assert row["n_duration_mismatch"] == expected.get("duration_mismatch", 0)
    assert row["n_unrecognized"] == 0 and row["n_bad_length"] == 0
    assert row["flagged_rate"] == round(row["n_flagged"] / CFG.n_rows, 6)


def test_windowed_probe_stats_stream_equals_batch(spark, tmp_path):
    import datetime as dt

    from nadeefiler_spark.streaming import windowed_probe_stats

    def h(hour, minute=0):
        return dt.datetime(2026, 1, 1, hour, minute)

    spec = datagen.row_spec(10, CFG)
    good = datagen.render_row_bytes(spec)
    mk = lambda b: (b, spec["sr_hz"], spec["dur_ms"], spec["codec"])
    src = str(tmp_path / "feed")
    f1 = [
        (h(0, 5), *mk(good)),
        (h(0, 40), *mk(good[:-10])),          # truncated -> bad_length
        (h(1, 10), *mk(b"\x00junk-delivery")),  # unrecognized
    ]
    f2 = [
        (h(1, 30), *mk(good)),
        # real bitstream magic with MATCHING declared codec: deferred to
        # the decode tier (a mismatched declaration would be
        # codec_mismatch, which outranks needs_decode)
        (h(2, 15), b"fLaC" + good, spec["sr_hz"], spec["dur_ms"], "flac"),
    ]
    schema = "ts timestamp, bytes binary, sr_hz int, dur_ms int, codec string"
    for rows in (f1, f2):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        windowed_probe_stats(stream)
        .writeStream.format("memory")
        .queryName("wps_complete")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    def canon(df):
        return sorted(
            (str(r["window_start"]), r["n_clips"], r["n_flagged"],
             r["n_bad_length"], r["n_unrecognized"], r["n_needs_decode"])
            for r in df.collect()
        )

    batch = windowed_probe_stats(spark.read.parquet(src))
    got = canon(spark.table("wps_complete"))
    assert got == canon(batch)
    by_hour = {g[0]: g for g in got}
    assert by_hour[str(h(0))][1:] == (2, 1, 1, 0, 0)  # trunc flagged
    assert by_hour[str(h(1))][1:] == (2, 1, 0, 1, 0)  # junk flagged
    assert by_hour[str(h(2))][1:] == (1, 1, 0, 0, 1)  # flac deferred


def test_run_probe_stats_stage(spark, tmp_path):
    from nadeefiler_spark import job
    from nadeefiler_spark.engine import ValidationEngine

    base = tmp_path / "data"
    datagen.write_clips(spark, str(base), datagen.GenConfig(n_rows=400))
    out = str(tmp_path / "out")
    job.main(
        [
            "--clips", f"{base}/clips",
            "--refs", f"{base}/transcript_refs",
            "--out", out,
            "--no-drift", "--no-audio",
            "--probe-health",
        ],
        spark=spark,
    )
    eng = ValidationEngine(spark, out)
    ph = eng.probe_health()
    rows = {r["part"]: r for r in ph.collect()}
    assert rows  # one row per codec partition
    total = sum(r["n_clips"] for r in rows.values())
    assert total == 400
    # manifest carries the probe stage per partition, and a resumed
    # stage run is a no-op
    m = eng.manifest().where(F.col("stage") == "probe")
    assert {r["part"] for r in m.collect()} == set(rows)
    clips = spark.read.parquet(f"{base}/clips")
    assert eng.run_probe_stats(clips).isEmpty()
    for r in rows.values():
        assert r["flagged_rate"] == round(r["n_flagged"] / r["n_clips"], 6)


def test_int_overflow_header_rate_is_verdict_not_crash(spark):
    """hypothesis-found regression: an NDF1 header declaring sr=2^31
    overflowed the ANSI cast("int") and crashed the scan. It must
    probe to a verdict, with the public hdr_sr_hz NULL (out of range)."""
    blob = b"NDF1" + b"\x00" * 13 + b"\x80\x00\x00\x00\x00"
    df = spark.createDataFrame(
        [("x", blob, 16000, 100, "flac")],
        "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string",
    )
    r = header_findings(df).collect()[0]
    assert r["hdr_sr_hz"] is None
    assert r["hdr_ok"] is False
    assert r["hdr_finding"] is not None
