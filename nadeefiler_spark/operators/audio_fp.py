"""Audio CONTENT dedup: decoded-PCM fingerprints, codec/container-robust.

Exact dedup (``operators.dedup.exact_dup_groups``) hashes the raw
``bytes`` column, so the same recording stored once as WAV and once as
FLAC counts as two distinct clips — at 10^12-clip scale re-encoded
copies are a dominant duplication mode a byte hash cannot see. This
operator fingerprints the DECODED waveform instead, with a 64-bit
spectral-envelope robust hash in the Haitsma–Kalker band-energy-sign
family: 65 log-spaced spectral bands over the whole clip, one bit per
adjacent-band energy comparison. The bits encode the spectral SHAPE, so
they are content-determined even for stationary audio (a time-delta
scheme degenerates there: frame-to-frame deltas of a steady tone are
noise, and unrelated clips collide — measured before this design was
chosen). Identical PCM gives identical fingerprints regardless of
container; small perturbations flip few bits, so near-matches are found
with the same 16-bit-chunk pigeonhole blocking the SimHash path uses
(``functions.similarity.simhash_chunks``).

Caveat (documented, by construction): the hash is duration- and
loudness-insensitive — the same spectrum at two lengths collides. Pair
groups with the decode facts' ``dec_ms`` when recording-level identity
(not content identity) is required.

Spark-first plan: ONE narrow decode+fingerprint pass on the shared
per-clip decode loop (``rules.audio_rules.map_decoded``; bytes never
shuffle — only the 8-byte fingerprint leaves the scan), then a groupBy on the fingerprint for exact-content groups, or the
chunk-blocked self-join + hamming verify for near matches. Both are the
same shuffle shapes as the text dedup family, already audited for
10^12-row behavior (PLANS.md).

Reference semantics analog: the dedupe-before-expensive-work shape of
``/root/reference/profilers/messystreams.js:91-107`` (group identical
values once, pay per distinct value), lifted from column values to audio
payloads.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import similarity as S
from ..rules.audio_rules import map_decoded
from .dedup import _finalize

FP_SCHEMA = "id string, fp long, fp_error string"

N_BANDS = 65         # adjacent-band comparisons -> 64 bits
LO_HZ = 60.0         # lowest band edge
HI_HZ = 4000.0       # band edges cap (content below min(sr/2, 4 kHz))
_MIN_SAMPLES = 128   # zero-pad shorter clips so the rFFT has bins to band


def pcm_fingerprint64(pcm: np.ndarray, sr_hz: int) -> int:
    """64-bit spectral-envelope content hash of one mono int16 clip.

    bit(b) = 1 iff band-b energy > band-(b+1) energy over 65 log-spaced
    bands between 60 Hz and min(sr/2, 4 kHz) of the whole-clip power
    spectrum. Band energies are computed positionally (Hz -> bin via the
    clip's own resolution), so the same content at the same sample rate
    always bands identically; adjacent bands that collapse to the same
    bin at coarse resolutions compare equal -> a deterministic 0 bit.
    """
    x = np.asarray(pcm, dtype=np.float32)
    if len(x) < _MIN_SAMPLES:
        x = np.pad(x, (0, _MIN_SAMPLES - len(x)))
    mag2 = np.abs(np.fft.rfft(x)) ** 2
    hi = min(sr_hz / 2.0, HI_HZ)
    edges_hz = np.geomspace(LO_HZ, hi, N_BANDS + 1)
    bin_hz = sr_hz / len(x)
    idx = np.clip((edges_hz / bin_hz).astype(np.int64), 1, len(mag2) - 1)
    # prefix sums -> O(bins) band energies for any number of bands
    cs = np.concatenate([[0.0], np.cumsum(mag2, dtype=np.float64)])
    e = cs[np.maximum(idx[1:], idx[:-1])] - cs[np.minimum(idx[1:], idx[:-1])]
    bits = e[:-1] > e[1:]
    fp = 0
    for bit in bits:
        fp = (fp << 1) | int(bit)
    return fp - (1 << 64) if fp >= (1 << 63) else fp  # to signed i64


def audio_fingerprints(
    clips: DataFrame, id_col: str = "clip_id", bytes_col: str = "bytes"
) -> DataFrame:
    """(id, fp, fp_error): one narrow Arrow pass, decode + fingerprint.

    Undecodable blobs get fp NULL + the error string (they are rule
    violations, not dedup candidates). Only (id, 8-byte fp) survives the
    scan — the binary column never reaches a shuffle.
    """
    return map_decoded(
        clips.select(
            F.col(id_col).cast("string").alias("id"), F.col(bytes_col).alias("bytes")
        ),
        ["id"],
        "fp bigint",
        lambda row, codec, sr, pcm: (pcm_fingerprint64(pcm, int(sr)),),
        "fp_error",
    )


def audio_content_dup_groups(
    clips: DataFrame, id_col: str = "clip_id", bytes_col: str = "bytes"
) -> DataFrame:
    """(fp, n_clips, keeper_id, clip_ids): exact-content duplicate groups.

    Catches byte-identical copies AND the same recording re-encoded in a
    different container/codec (same decoded PCM -> same fingerprint).
    One shuffle on the 8-byte fingerprint.
    """
    return dup_groups_from_facts(audio_fingerprints(clips, id_col, bytes_col), id_col="id")


def audio_near_dup_pairs(
    clips: DataFrame,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
    max_hamming: int = 3,
    n_chunks: int = 4,
    eager: bool = True,
) -> DataFrame:
    """(id_a, id_b, hamming): near-duplicate audio pairs.

    Same pigeonhole guarantee as the SimHash text path: ``n_chunks``
    chunks give full recall for hamming distance < n_chunks (default 4
    chunks of 16 bits -> guaranteed through distance 3; raise to 8 for
    distance <= 7 at the cost of shorter 8-bit chunk keys, i.e. hotter
    blocking buckets). Blocking join keys are chunk values — bounded
    buckets, no all-pairs stage.
    """
    if max_hamming >= n_chunks:
        raise ValueError(
            f"pigeonhole recall needs max_hamming < n_chunks "
            f"(got {max_hamming} >= {n_chunks})"
        )
    fp = audio_fingerprints(clips, id_col, bytes_col).where(
        F.col("fp").isNotNull()
    ).select("id", "fp").persist()
    chunked = fp.select(
        "id", "fp", F.explode(S.simhash_chunks(F.col("fp"), n_chunks)).alias("c")
    ).select("id", "fp", "c.chunk", "c.key")
    cand = (
        chunked.alias("x")
        .join(chunked.alias("y"), ["chunk", "key"])
        .where(F.col("x.id") < F.col("y.id"))
        .select(
            F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"),
            F.col("x.fp").alias("fp_a"), F.col("y.fp").alias("fp_b"),
        )
        .distinct()
    )
    out = (
        cand.withColumn("hamming", S.hamming64(F.col("fp_a"), F.col("fp_b")))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
    return _finalize(out, fp, eager=eager)


def dup_groups_from_facts(decoded: DataFrame, id_col: str = "clip_id") -> DataFrame:
    """Exact-content duplicate groups from a decode-facts frame that
    already carries ``fp`` (``rules.audio_rules.decode_facts(with_fp=
    True)``) — content dedup off the engine's SHARED decode pass, zero
    additional binary scans. Same output contract as
    :func:`audio_content_dup_groups`."""
    fps = decoded.where(F.col("fp").isNotNull()).select(
        F.col(id_col).alias("id"), "fp"
    )
    return (
        fps.groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_clips"),
            F.min("id").alias("keeper_id"),
            F.sort_array(F.collect_list("id")).alias("clip_ids"),
        )
        .where(F.col("n_clips") > 1)
    )


def incremental_clip_admission(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
    max_hamming: int = 3,
    n_chunks: int = 4,
    corpus_fps: DataFrame | None = None,
    eager: bool = True,
) -> DataFrame:
    """Admit a new clip delivery against the existing corpus.

    The audio-native sibling of ``operators.incremental.incremental_dedup``:
    one row per batch clip with (id, disposition, match_id, hamming),
    precedence top to bottom —

      - ``exact_corpus``:   byte-identical (md5 of ``bytes``) to a corpus
        clip; match_id = smallest matching corpus id, hamming 0.
      - ``exact_batch``:    byte-identical to a smaller-id batch clip that
        is itself not an exact corpus dup; the keeper continues on.
      - ``content_corpus``: decoded-PCM fingerprint EQUAL to a corpus
        fingerprint — the same recording re-encoded in another
        container/codec, invisible to the byte hash; hamming 0.
      - ``near_corpus``:    fingerprint within ``max_hamming`` bits of a
        corpus fingerprint (perturbed/re-mastered copy); match_id = the
        closest corpus clip (ties to the smallest id).
      - ``undecodable``:    the batch blob failed to decode — a rule
        violation to route to validation, not an admission.
      - ``accept``:         genuinely new audio content.

    Scale story: the exact tier joins corpus digests against the (small)
    batch digest set — AQE broadcasts the batch side, the corpus is never
    shuffled. The content/near tiers need corpus FINGERPRINTS, not bytes:
    pass ``corpus_fps`` (id, fp) from the engine's shared decode pass
    (``rules.audio_rules.decode_facts(with_fp=True)`` — the maintained
    fingerprint index of a production corpus) to skip re-decoding; when
    omitted they are computed here with the one-pass narrow scan. The
    near tier blocks on 16-bit fingerprint chunks (pigeonhole: full
    recall for hamming < n_chunks), so candidate fan-out is bounded by
    chunk-bucket sizes — never all-pairs. Only the batch is decoded per
    delivery.
    """
    if max_hamming >= n_chunks:
        raise ValueError(
            f"pigeonhole recall needs max_hamming < n_chunks "
            f"(got {max_hamming} >= {n_chunks})"
        )
    id_type = batch.schema[id_col].dataType
    bd = batch.select(
        F.col(id_col).alias("id"), F.md5(F.col(bytes_col)).alias("digest")
    ).persist()
    cd = corpus.select(
        F.col(id_col).alias("cid"), F.md5(F.col(bytes_col)).alias("digest")
    )
    ec = (
        cd.join(bd.select("digest").distinct(), "digest")
        .groupBy("digest")
        .agg(F.min("cid").alias("match_id"))
    )
    exact_corpus = bd.join(ec, "digest").select(
        "id",
        F.lit("exact_corpus").alias("disposition"),
        "match_id",
        F.lit(0).alias("hamming"),
    )
    rem1 = bd.join(ec.select("digest"), "digest", "left_anti")
    keep = rem1.groupBy("digest").agg(F.min("id").alias("keeper_id"))
    rem1k = rem1.join(keep, "digest")
    exact_batch = rem1k.where(F.col("id") != F.col("keeper_id")).select(
        "id",
        F.lit("exact_batch").alias("disposition"),
        F.col("keeper_id").alias("match_id"),
        F.lit(0).alias("hamming"),
    )
    rem2_ids = rem1k.where(F.col("id") == F.col("keeper_id")).select("id")

    # --- fingerprint tiers (exact-tier survivors only) ---------------
    b2 = batch.select(F.col(id_col).alias(id_col), bytes_col).join(
        rem2_ids.withColumnRenamed("id", id_col), id_col, "left_semi"
    )
    bfp = audio_fingerprints(b2, id_col, bytes_col).persist()
    undecodable = bfp.where(F.col("fp").isNull()).select(
        "id",
        F.lit("undecodable").alias("disposition"),
        F.lit(None).cast(id_type).alias("match_id"),
        F.lit(None).cast("int").alias("hamming"),
    )
    bok = bfp.where(F.col("fp").isNotNull()).select("id", "fp")
    if corpus_fps is None:
        cfp = (
            audio_fingerprints(corpus, id_col, bytes_col)
            .where(F.col("fp").isNotNull())
            .select(F.col("id").alias("cid"), "fp")
        )
    else:
        cfp = corpus_fps.select(
            F.col(id_col).alias("cid") if id_col in corpus_fps.columns
            else F.col("id").alias("cid"),
            "fp",
        ).where(F.col("fp").isNotNull())
    cfp = cfp.persist()
    cc = cfp.groupBy("fp").agg(F.min("cid").alias("match_id"))
    content_corpus = bok.join(cc, "fp").select(
        "id",
        F.lit("content_corpus").alias("disposition"),
        "match_id",
        F.lit(0).alias("hamming"),
    )
    rem3 = bok.join(cc.select("fp"), "fp", "left_anti")

    bch = rem3.select(
        "id", "fp", F.explode(S.simhash_chunks(F.col("fp"), n_chunks)).alias("c")
    ).select("id", "fp", "c.chunk", "c.key")
    cch = cfp.select(
        "cid", F.col("fp").alias("cfp"),
        F.explode(S.simhash_chunks(F.col("fp"), n_chunks)).alias("c"),
    ).select("cid", "cfp", "c.chunk", "c.key")
    cand = (
        bch.join(cch, ["chunk", "key"])
        .select("id", "fp", "cid", "cfp")
        .distinct()
        .withColumn("hamming", S.hamming64(F.col("fp"), F.col("cfp")))
        .where(F.col("hamming") <= max_hamming)
    )
    from pyspark.sql import Window

    w = Window.partitionBy("id").orderBy(
        F.col("hamming").asc(), F.col("cid").asc()
    )
    near = (
        cand.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") == 1)
        .select(
            "id",
            F.lit("near_corpus").alias("disposition"),
            F.col("cid").alias("match_id"),
            F.col("hamming").cast("int").alias("hamming"),
        )
    )
    accept = rem3.join(near.select("id"), "id", "left_anti").select(
        "id",
        F.lit("accept").alias("disposition"),
        F.lit(None).cast(id_type).alias("match_id"),
        F.lit(None).cast("int").alias("hamming"),
    )
    out = (
        exact_corpus.unionByName(exact_batch)
        .unionByName(content_corpus)
        .unionByName(near)
        .unionByName(undecodable)
        .unionByName(accept)
        .select("id", "disposition", "match_id", F.col("hamming").cast("int").alias("hamming"))
    )
    return _finalize(out, bd, bfp, cfp, eager=eager)
