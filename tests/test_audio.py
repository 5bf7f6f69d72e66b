import numpy as np
import pytest

from nadeefiler_spark import audio


def test_wav_roundtrip():
    pcm = audio.render_pcm("clip-000000000001", 16000, 100)
    blob = audio.encode(pcm, 16000, "pcm_s16le")
    codec, sr, out = audio.decode(blob)
    assert codec == "pcm_s16le" and sr == 16000
    assert np.array_equal(pcm, out)
    assert audio.sniff_codec(blob) == "pcm_s16le"


@pytest.mark.parametrize("codec", audio.FAKE_CODECS)
def test_fake_codec_roundtrip(codec):
    pcm = audio.render_pcm("clip-x", 8000, 80)
    blob = audio.encode(pcm, 8000, codec)
    got_codec, sr, out = audio.decode(blob)
    assert got_codec == codec and sr == 8000
    assert np.array_equal(pcm, out)


def test_render_deterministic():
    a = audio.render_pcm("clip-7", 22050, 90)
    b = audio.render_pcm("clip-7", 22050, 90)
    assert np.array_equal(a, b)
    c = audio.render_pcm("clip-8", 22050, 90)
    assert not np.array_equal(a, c)


def test_snr():
    ref = audio.render_pcm("clip-9", 16000, 100)
    assert audio.snr_db(ref, ref) == np.inf
    noisy = ref + np.random.default_rng(0).integers(-8000, 8000, len(ref)).astype(np.int16)
    assert audio.snr_db(ref, noisy) < 30
    slightly = ref + np.random.default_rng(0).integers(-5, 5, len(ref)).astype(np.int16)
    assert audio.snr_db(ref, slightly) > 30
    # truncated tail is penalized
    assert audio.snr_db(ref, ref[: len(ref) // 2]) < 10


def test_real_codec_stub():
    with pytest.raises(NotImplementedError):
        audio.decode_real_codec(b"xxxx", "flac")


def test_real_bitstream_routing_contract():
    """Plug-point contract (can't rot silently): a REAL compressed
    bitstream — recognized by its public magic — must route through
    decode_real_codec, whose sandbox NotImplementedError names the
    production dependency; garbage still raises ValueError."""
    for magic, codec in audio.REAL_BITSTREAM_MAGIC:
        blob = magic + b"\x00" * 64
        assert audio.sniff_codec(blob) == codec
        with pytest.raises(NotImplementedError, match="soundfile"):
            audio.decode(blob)
    with pytest.raises(ValueError, match="unrecognized"):
        audio.decode(b"\x01\x02garbage-not-any-container")
    assert audio.sniff_codec(b"\x01\x02garbage") == ""


def test_real_bitstream_becomes_decode_error_row(spark):
    """End-to-end routing: a clip whose bytes are a real FLAC bitstream
    produces a decode_error fact naming the plug-point (the engine
    flags it instead of crashing), matching the documented sandbox
    behavior."""
    import pandas as pd

    from nadeefiler_spark.rules.audio_rules import decode_facts

    pdf = pd.DataFrame({
        "part": ["flac"], "clip_id": ["clip-real"],
        "sr_hz": pd.array([16000], dtype="int32"),
        "dur_ms": pd.array([100], dtype="int32"),
        "codec": ["flac"], "bytes": [b"fLaC" + b"\x00" * 64],
    })
    df = spark.createDataFrame(
        pdf,
        "part string, clip_id string, sr_hz int, dur_ms int, codec string, bytes binary",
    )
    row = decode_facts(df).collect()[0]
    assert row["decode_error"] is not None
    assert "soundfile" in row["decode_error"]


def test_snr_f32_reference():
    ref16 = audio.render_pcm_samples("clip-9", 16000, 1600)
    ref32 = audio.render_wave_f32("clip-9", 16000, 1600)
    assert np.array_equal(ref32.astype(np.int16), ref16)  # same waveform
    # pristine decode: quantization-noise-bounded, far above threshold
    assert audio.snr_db_f32(ref32, ref16) > 60
    noisy = np.clip(
        ref16.astype(np.int32)
        + np.random.default_rng(0).integers(-8000, 8000, len(ref16)),
        -32768, 32767,
    ).astype(np.int16)
    assert audio.snr_db_f32(ref32, noisy) < 30
    # truncated tail penalized, empty edge cases
    assert audio.snr_db_f32(ref32, ref16[:800]) < 10
    assert audio.snr_db_f32(ref32[:0], ref16[:0]) == np.inf
    assert audio.snr_db_f32(ref32, ref16[:0]) == -np.inf
    # agrees with the int16-reference kernel within quantization effects
    a = audio.snr_db(ref16, noisy)
    b = audio.snr_db_f32(ref32, noisy)
    assert abs(a - b) < 0.1


def test_qc_stats_twin(spark):
    """Spark-side QC stats must equal an independent pure-numpy
    recomputation on the same planted defect clips, and only the
    planted clips may be flagged by the audio_qc_corpus contract
    query's thresholds (the SQL-built-container twin audio_qc is
    DuckDB-oracled directly)."""
    import numpy as np

    import __spark_entry__ as entry
    from nadeefiler_spark.rules.audio_rules import decode_facts

    clips = entry._qc_planted_clips(spark)
    got = {
        r["clip_id"]: r
        for r in decode_facts(clips, with_snr=False, with_qc=True).collect()
    }

    sr, n = 16000, 1600
    t = np.arange(n)
    expected = {
        "qc-clipped": np.where((t // 8) % 2 == 0, 32767, -32768),
        "qc-silent": np.zeros(n),
        "qc-dc": 3000.0 * np.sin(2 * np.pi * 440.0 * t / sr) + 8000.0,
    }
    for cid, pcm in expected.items():
        x = pcm.astype(np.int16).astype(np.int32)
        r = got[cid]
        assert r["clip_ratio"] == float(np.mean(np.abs(x) >= 32000))
        assert r["silence_ratio"] == float(np.mean(np.abs(x) <= 327))
        assert r["dc_offset"] == float(x.astype(np.int16).mean()) / 32768.0
    assert got["qc-clipped"]["clip_ratio"] == 1.0
    assert got["qc-silent"]["silence_ratio"] == 1.0
    assert abs(got["qc-dc"]["dc_offset"] - 8000.0 / 32768.0) < 0.01


def test_qc_rule_flags_only_planted(spark):
    import __spark_entry__ as entry
    from nadeefiler_spark import datagen
    from nadeefiler_spark.rules.audio_rules import AudioQcRule
    from nadeefiler_spark.rules.base import RuleContext

    cfg = datagen.GenConfig(n_rows=400, seed=11, dur_min_ms=40, dur_max_ms=200)
    clips = datagen.clips_df(spark, cfg).unionByName(
        entry._qc_planted_clips(spark)
    )
    rule = AudioQcRule()
    got = rule.violations(RuleContext(spark, clips)).collect()
    by_id = {r["clip_id"]: r["detail"] for r in got}
    # the planted QC defects, plus the datagen's SNR-distorted clips —
    # their distortion genuinely clips (~2% of samples), and catching
    # them independently of the SNR reference is the point of a QC gate
    assert set(by_id) == {"qc-clipped", "qc-silent", "qc-dc"} | set(
        datagen.golden_violations(cfg)["audio_snr"]
    )
    assert "clip_ratio=" in by_id["qc-clipped"]
    assert "silence_ratio=" in by_id["qc-silent"]
    assert "dc_offset=" in by_id["qc-dc"]


def test_vad_stats_twin(spark):
    """Spark-side VAD stats must equal the hand-derived frame patterns
    of the planted clips (independent of the numpy kernel), through the
    full decode_facts path."""
    import __spark_entry__ as entry
    from nadeefiler_spark.rules.audio_rules import decode_facts

    clips = entry._vad_planted_clips(spark)
    got = {
        r["clip_id"]: (
            r["speech_ratio"], r["n_speech_runs"], r["longest_silence_ms"]
        )
        for r in decode_facts(clips, with_snr=False, with_vad=True).collect()
    }
    # patterns (frames of 20 ms): alt = SSS..SSSS..... (7/14 speech,
    # 2 runs, longest silence 5 frames = 100 ms)
    assert got["vad-alt"] == (0.5, 2, 100)
    assert got["vad-silent"] == (0.0, 0, 200)
    assert got["vad-full"] == (1.0, 1, 0)


def test_vad_stats_edge_cases():
    import numpy as np

    from nadeefiler_spark.rules.audio_rules import vad_stats

    assert vad_stats(np.array([], dtype=np.int16), 16000) == (0.0, 0, 0)
    # shorter than one frame: the whole clip is one frame
    loud = (8000 * np.ones(50)).astype(np.int16)
    assert vad_stats(loud, 16000) == (1.0, 1, 0)
    quiet = np.zeros(50, dtype=np.int16)
    r, n, ms = vad_stats(quiet, 16000)
    assert (r, n) == (0.0, 0) and ms > 0


def test_engine_vad_stage(spark, tiny_cfg, clips_dir, tmp_path_factory):
    """run_vad audits per-partition with manifest resume, matches the
    direct decode pass, and counts no-speech clips as violations."""
    from pyspark.sql import functions as F

    from nadeefiler_spark.engine import ValidationEngine
    from nadeefiler_spark.rules.audio_rules import decode_facts

    out = str(tmp_path_factory.mktemp("engine_vad"))
    eng = ValidationEngine(spark, out, rules=[])
    clips = spark.read.parquet(f"{clips_dir}/clips")
    parts = sorted(r[0] for r in clips.select("part").distinct().collect())
    first = clips.where(F.col("part") == parts[0])

    eng.run_vad(first, run_id="v1")
    got = eng.vad_stats().toPandas().set_index("clip_id")["speech_ratio"]
    direct = (
        decode_facts(first, with_snr=False, with_vad=True)
        .toPandas().set_index("clip_id")["speech_ratio"]
    )
    assert got.sort_index().equals(direct.sort_index())

    # resume: remaining partitions only
    eng.run_vad(clips, run_id="v2")
    mf = eng.manifest().where(F.col("stage") == "vad").toPandas()
    runs = dict(zip(mf["part"], mf["run_id"]))
    assert runs[parts[0]] == "v1"
    assert all(runs[p] == "v2" for p in parts[1:])
    assert len(eng.vad_stats().toPandas()) == clips.count()
    # violations = undecodable or zero-speech; datagen plants garbage
    # containers, so at least those partitions carry violations
    v = eng.verdicts().where(F.col("stage") == "vad").toPandas()
    bad_direct = (
        decode_facts(clips, with_snr=False, with_vad=True)
        .where(F.col("decode_error").isNotNull() | (F.col("speech_ratio") == 0.0))
        .count()
    )
    assert int(v["n_violations"].sum()) == bad_direct


def test_loudness_stats_twin(spark):
    """Spark-side loudness stats must equal a pure-numpy recomputation
    on the planted calibration clips, through the full
    decode_facts(with_loudness=True) + loudness_stats path."""
    import math

    import numpy as np

    import __spark_entry__ as entry
    from nadeefiler_spark.rules.audio_rules import loudness_stats

    clips = entry._loudness_planted_clips(spark)
    got = {
        r["clip_id"]: r
        for r in loudness_stats(clips, target_dbfs=-20.0).collect()
    }

    # independent twin: same waveform formulas, hashlib-free numpy math
    sr, n = 16000, 1600
    t = np.arange(n)
    waves = {
        "loud-square": np.where((t // 8) % 2 == 0, 32767, -32768).astype(np.int16),
        "loud-sine01": np.round(
            3276.8 * np.sin(2 * np.pi * 440.0 * t / sr)
        ).astype(np.int16),
        "loud-silent": np.zeros(n, dtype=np.int16),
        "loud-spikes": np.where(t % 400 == 0, 32767, 0).astype(np.int16),
    }
    for cid, pcm in waves.items():
        x = pcm.astype(np.float64) / 32768.0
        rms = math.sqrt(float(np.mean(x * x)))
        peak = float(np.max(np.abs(x)))
        exp_rms = max(-120.0, 20 * math.log10(rms)) if rms > 0 else -120.0
        exp_peak = max(-120.0, 20 * math.log10(peak)) if peak > 0 else -120.0
        r = got[cid]
        assert r["rms_dbfs"] == round(exp_rms, 6)
        assert r["peak_dbfs"] == round(exp_peak, 6)
        assert r["gain_db"] == round(-20.0 - exp_rms, 6)
        assert r["would_clip"] == (exp_peak + (-20.0 - exp_rms) > 0)

    # physics sanity: full-scale square ~0 dBFS both, gain negative,
    # no clip risk when attenuating; silence floors at -120 and a +100dB
    # "gain" still cannot clip it; the 0.1-FS sine (crest 3 dB) lands at
    # -17 dBFS peak after the +3 dB normalize - safe. Only the sparse-
    # impulse clip (crest ~26 dB) overshoots full scale: limiter needed.
    assert got["loud-square"]["would_clip"] is False
    assert got["loud-silent"]["rms_dbfs"] == -120.0
    assert not got["loud-silent"]["would_clip"]
    assert abs(got["loud-sine01"]["peak_dbfs"] - (-20.0)) < 0.02
    assert got["loud-sine01"]["would_clip"] is False
    assert got["loud-spikes"]["peak_dbfs"] == round(20 * math.log10(32767 / 32768.0), 6)
    assert got["loud-spikes"]["would_clip"] is True


_CLIPS_DDL = "part string, clip_id string, sr_hz int, dur_ms int, codec string, bytes binary"


def _clip_row(clip_id, blob):
    return ("p0", clip_id, 16000, 100, "pcm_s16le", blob)


def _good_blob(clip_id="clip-good"):
    return audio.encode(audio.render_pcm(clip_id, 16000, 100), 16000, "pcm_s16le")


def test_zero_hz_clip_is_a_decode_error_row(spark):
    """A WAV whose header says 0 Hz decodes (sr 0), but the fingerprint
    cannot band a 0 Hz spectrum: that clip becomes a decode_error row
    with every decoded field NULL, and the job does not fail."""
    from nadeefiler_spark.rules.audio_rules import decode_facts

    pcm = audio.render_pcm("clip-zero", 16000, 100)
    clips = spark.createDataFrame(
        [_clip_row("clip-good", _good_blob()),
         _clip_row("clip-zero", audio._wav_encode(pcm, 0))],
        _CLIPS_DDL,
    )
    got = {r["clip_id"]: r for r in
           decode_facts(clips, with_snr=False, with_fp=True).collect()}
    assert set(got) == {"clip-good", "clip-zero"}
    bad, good = got["clip-zero"], got["clip-good"]
    decoded = ("dec_codec", "dec_sr", "dec_n", "dec_ms", "snr_db", "fp")
    assert all(bad[c] is None for c in decoded), bad
    assert "zero" in bad["decode_error"]  # numpy: "...cannot include zero"
    assert good["decode_error"] is None and good["fp"] is not None
    assert good["dec_sr"] == 16000


def _decode_passes():
    from nadeefiler_spark.operators.audio_features import (
        FEATURES_SCHEMA, RESAMPLE_SCHEMA, audio_features, bandwidth_stats,
        resample_clips,
    )
    from nadeefiler_spark.operators.audio_fp import FP_SCHEMA, audio_fingerprints
    from nadeefiler_spark.rules.audio_rules import DECODED_SCHEMA, decode_facts

    facts_keys = ("part", "clip_id", "sr_hz", "dur_ms", "codec", "n_bytes")
    groups = {
        "with_fp": "fp bigint",
        "with_qc": "clip_ratio double, silence_ratio double, dc_offset double",
        "with_vad": "speech_ratio double, n_speech_runs int, longest_silence_ms int",
        "with_loudness": "rms_dbfs double, peak_dbfs double",
    }
    # (id, pass, schema DDL, key column, error column, columns not
    # computed from the decode: carried through, literal, or NULL by flag)
    cases = [
        ("decode_facts", decode_facts, DECODED_SCHEMA, "clip_id", "decode_error",
         facts_keys),
        ("decode_facts_nosnr", lambda c: decode_facts(c, with_snr=False),
         DECODED_SCHEMA, "clip_id", "decode_error", facts_keys + ("snr_db",)),
    ]
    for flag, ddl in groups.items():
        cases.append((
            f"decode_facts_{flag}", lambda c, f=flag: decode_facts(c, **{f: True}),
            f"{DECODED_SCHEMA}, {ddl}", "clip_id", "decode_error", facts_keys,
        ))
    cases.append((
        "decode_facts_all", lambda c: decode_facts(c, **{f: True for f in groups}),
        ", ".join([DECODED_SCHEMA, *groups.values()]), "clip_id", "decode_error",
        facts_keys,
    ))
    cases += [
        ("audio_fingerprints", audio_fingerprints, FP_SCHEMA, "id", "fp_error", ("id",)),
        ("audio_features", lambda c: audio_features(c, carry_cols=("part",)),
         FEATURES_SCHEMA + ", part string", "id", "feat_error", ("id", "part")),
        ("resample_clips", lambda c: resample_clips(c, 8000), RESAMPLE_SCHEMA,
         "clip_id", "resample_error", ("clip_id", "sr_hz", "codec")),
        ("bandwidth_stats", bandwidth_stats,
         "clip_id string, dec_sr int, rolloff_hz double, bw_ratio double, "
         "flatness double, bandwidth_error string",
         "clip_id", "bandwidth_error", ("clip_id",)),
    ]
    return cases


@pytest.mark.parametrize("case", _decode_passes(), ids=lambda c: c[0])
def test_decode_pass_contract(spark, case):
    """Every per-clip decode pass keeps its output schema, turns a
    garbage blob and a NULL blob into error rows (every computed field
    NULL, a non-empty error of at most 200 chars) and leaves the good
    clip's row exactly as it is when that clip runs alone."""
    from pyspark.sql import types as T

    _, run, ddl, key, err, unchecked = case
    good = _clip_row("clip-good", _good_blob())
    clips = spark.createDataFrame(
        [good, _clip_row("clip-garbage", b"\x01\x02garbage-not-any-container"),
         _clip_row("clip-null", None)],
        _CLIPS_DDL,
    )
    out = run(clips)
    assert [(f.name, f.dataType) for f in out.schema] == [
        (f.name, f.dataType) for f in T.StructType.fromDDL(ddl)
    ]
    fields = [c for c in out.columns if c not in unchecked and c != err]
    got = {r[key]: r for r in out.collect()}
    assert set(got) == {"clip-good", "clip-garbage", "clip-null"}
    for bad in ("clip-garbage", "clip-null"):
        row = got[bad]
        assert all(row[c] is None for c in fields), row
        assert 0 < len(row[err]) <= 200
    assert got["clip-good"][err] is None
    assert all(got["clip-good"][c] is not None for c in fields)
    alone = run(spark.createDataFrame([good], _CLIPS_DDL)).collect()
    assert [got["clip-good"]] == alone
