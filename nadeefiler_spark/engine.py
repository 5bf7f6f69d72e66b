"""Validation engine: stages, idempotent writes, checkpoint manifest.

Job model mapped from the reference (SURVEY §2.8):
- task grain (dataset × profiler) -> (partition × stage); lineage columns
  stamped on every output row (reference stamps {dataset, profiler,
  createdAt} on results, ``/root/reference/profilers/worker.js:72``).
- idempotent re-run = delete-before-write per (stage, partition)
  (reference ``worker.js:97-100`` deleteMany before recompute) —
  delegated to a pluggable table-IO backend (``tableio`` module):
  parquet partition-directory replace in the sandbox, transactional
  Iceberg ``DELETE`` + append when an Iceberg catalog is configured.
- cascade DAG (``profilers/config.js:10-20``) -> fixed stage order +
  rule ``depends_on``; a later stage reads earlier stages' output tables
  (the semantic profiler reads messystreams results the same way,
  ``profilers/semantic.js:50-55``).
- resume (north_rule) = checkpoint manifest table of completed
  (partition, stage) with metrics; a re-run skips completed pairs.

Stage runner: every stage, the four in :meth:`ValidationEngine.run` and
each cascade ``run_*``, goes through ``_stage(stage, units, resume,
run_id, body)``. A unit is the stage's resume grain: a partition value
for per-partition and global stages, or one logical id (a delivery
batch id, a baseline id) for admission and suite regression. With
``resume`` the runner drops the units the manifest already holds for
the stage and, if none remain, returns an empty verdict frame without
running anything. Otherwise it times ``body(pending)``, which writes the
stage's output table(s) and returns ``(n_rows_by_part, n_viol_by_part)``
dicts keyed by unit (a missing unit counts 0), commits one manifest row
per pending unit under the engine's commit lock, and returns the
verdicts of exactly the rows it committed, an in-memory relation that no
later manifest rewrite can break (``run()`` returns the union of its
stages'). ``run()`` runs the profile stage first, then its rule stages
side by side in one thread pool, each committing under that lock; only
a rule whose ``depends_on`` names another stage's rule makes them run
one after another. :meth:`ValidationEngine.verdicts` is the manifest-backed
history of every run. What n_rows and n_violations count is each
stage's own definition, documented on its ``run_*`` method: clips
scanned, clips sampled, violating history rows, regressed checks.

Scale notes: each stage runs ONE Spark job covering all pending
partitions (partition-pruned scan), not a job per partition — at 10^5
partitions per-partition jobs would be scheduler-bound. Per-partition
metrics still come out of the same job via groupBy(part). Driver state
is O(#partitions), never O(rows).
"""

from __future__ import annotations

import threading
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from functools import reduce

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import profiler as prof
from .rules.base import Rule, RuleContext, fold, topo_sort
from .rules.audio_rules import DurationConsistencyRule, SampleRateConsistencyRule, decode_facts
from .tableio import default_io, empty_frame

STAGE_ORDER = ("profile", "constraints", "audio", "drift", "semantic")

MANIFEST_SCHEMA = (
    "run_id string, part string, stage string, completed_at timestamp, "
    "n_rows bigint, n_violations bigint, wall_ms bigint"
)
VERDICT_SCHEMA = (
    "part string, stage string, passed boolean, n_rows bigint, "
    "n_violations bigint, wall_ms bigint, run_id string"
)


VIOLATIONS_SCHEMA = "part string, rule string, clip_id string, detail string, stage string"
PROFILE_HIST_SCHEMA = "part string, key string, kind string, bin string, count bigint"


def _as_verdicts(manifest_rows: DataFrame) -> DataFrame:
    """The verdict projection (VERDICT_SCHEMA) of manifest rows."""
    return manifest_rows.select(
        "part", "stage",
        (F.col("n_violations") == 0).alias("passed"),
        "n_rows", "n_violations", "wall_ms", "run_id",
    )


def _sql_str(s) -> str:
    """``s`` as a Spark SQL string literal. Spark's parser treats
    backslash as an escape inside string literals (escapedStringLiterals
    default): escape it FIRST, then quotes (partition values are arbitrary)."""
    return "'" + str(s).replace("\\", "\\\\").replace("'", "''") + "'"


@dataclass
class ValidationEngine:
    spark: SparkSession
    out_dir: str
    rules: list[Rule] = field(default_factory=list)
    profile_cfg: prof.ProfileConfig | None = None
    key_col: str = "clip_id"
    part_col: str = "part"
    # manifest compaction threshold: every (stage, run) commit appends one
    # small file; without compaction the manifest listing is O(#runs)
    manifest_compact_files: int = 64
    # table backend: ParquetDirIO under out_dir by default; an Iceberg
    # catalog (if configured on the session) is picked up automatically,
    # giving transactional per-partition replace (tableio module doc)
    io: object | None = None
    # Row-level decode triage (None = off, full decode — the default and
    # the exact-parity mode). When set to a percentage (e.g. 1.0), the
    # audio stage decodes ONLY clips the header probe flags
    # (operators.headerprobe.triage_route) plus that percentage of the
    # probe-clean population as a deterministic audit sample: the
    # expensive pandas-UDF tier shrinks from |corpus| to |flagged| +
    # |sample|, the only viable shape at 10^12 clips. Tradeoffs are
    # explicit: decode-tier rules report violations only for routed
    # rows (PCM-level defects such as SNR corruption on unsampled clean
    # rows go unseen — bound that risk with run_certificate, whose
    # partition-level Hoeffding bound complements this row-level gate),
    # and the profile stage computes its binary stats with the direct
    # expression path instead of the fused decode pass (same values:
    # tests pin fused == direct). Pair with
    # default_clip_rules(with_header_triage=True) so the probe's own
    # findings land in the violations table at the constraints stage.
    triage_sample_pct: float | None = None

    def __post_init__(self) -> None:
        if self.io is None:
            self.io = default_io(self.spark, self.out_dir)
        # run()'s rule stages overlap in a pool; they commit one at a time
        self._commit_lock = threading.Lock()

    # --- output tables -------------------------------------------------
    def manifest(self) -> DataFrame:
        """One row per committed (run, partition, stage). ``wall_ms`` is
        the stage's wall clock from start to commit: run() overlaps the
        rule stages (constraints, audio, drift) on shared cores, so it
        includes each stage's wait for cores the others hold. The walls
        of one run do not sum to the run, and a stage's wall is not its
        own cost."""
        return self.io.read("manifest", MANIFEST_SCHEMA)

    def verdicts(self) -> DataFrame:
        """Per-(partition, stage) pass/fail history of every run — a
        projection of the manifest (single source of truth; avoids a
        second commit write per stage). ``wall_ms`` is the manifest's:
        it includes waiting for shared cores while stages overlap
        (:meth:`manifest`)."""
        return _as_verdicts(self.manifest())

    def violations(self) -> DataFrame:
        return self.io.read("violations", VIOLATIONS_SCHEMA)

    def profile_summary(self) -> DataFrame:
        return self.io.read("profile_summary", prof.SUMMARY_SCHEMA)

    def profile_hist(self) -> DataFrame:
        return self.io.read("profile_hist", PROFILE_HIST_SCHEMA)

    def drift_baseline(self) -> DataFrame:
        """Known-good baseline for the streaming drift monitor: the
        global aggregate of this engine's profile histograms (bins
        already align — streaming.windowed_drift_hist bins with the same
        profiler.hist_entry_exprs that produced profile_hist)."""
        from .drift import global_baseline

        return global_baseline(self.profile_hist())

    def metric_anomalies(
        self,
        value_col: str = "n_violations",
        window: int = 7,
        k: float = 3.0,
        min_history: int = 3,
    ) -> DataFrame:
        """Screen this engine's own run history for anomalies: each
        (part, stage) series of ``value_col`` (n_violations, n_rows, or
        wall_ms from the manifest) against its trailing-window mean ±
        k·σ (drift.metric_anomaly) — "which partition's violation count
        jumped this run", the repeated-validation check that catches
        upstream regressions a single run's pass/fail cannot. The
        manifest is sketch-sized (#parts × #stages × #runs), so this is
        driver-cheap at any corpus scale."""
        from .drift import metric_anomaly

        return metric_anomaly(
            self.manifest(),
            value_col,
            "completed_at",
            key_cols=("part", "stage"),
            window=window,
            k=k,
            min_history=min_history,
        )

    def metric_changepoints(
        self, value_col: str = "n_violations", min_seg: int = 2
    ) -> DataFrame:
        """Date the regime change in each (part, stage) metric series:
        :func:`drift.changepoint_scan` over the same manifest history
        :meth:`metric_anomalies` screens — anomaly says THIS run broke,
        this says the series' level shifted at run K (e.g. an upstream
        pipeline change quietly doubling a partition's violation rate).
        Driver-cheap at any corpus scale (manifest is sketch-sized)."""
        from .drift import changepoint_scan

        return changepoint_scan(
            self.manifest(), value_col, "completed_at",
            key_cols=("part", "stage"), min_seg=min_seg,
        )

    # --- run -------------------------------------------------------------
    def run(
        self,
        clips: DataFrame,
        refs: DataFrame | None = None,
        baseline_hist: DataFrame | None = None,
        resume: bool = True,
        run_id: str | None = None,
        fail_stage: str | None = None,  # test hook: raise before this stage commits
    ) -> DataFrame:
        """Execute all stages over partitions not yet in the manifest.

        Returns the verdicts of the rows this run committed.
        """
        run_id = run_id or uuid.uuid4().hex[:12]
        cfg = self.profile_cfg or prof.ProfileConfig(part_col=self.part_col)
        all_parts = self._parts(clips)

        done: set[tuple[str, str]] = set()
        if resume:
            done = {
                (r["part"], r["stage"])
                for r in self.manifest().select("part", "stage").distinct().collect()
            }

        rules_by_stage: dict[str, list[Rule]] = {}
        for r in topo_sort(self.rules):
            rules_by_stage.setdefault(r.stage, []).append(r)

        rule_stages: list[str] = [s for s in STAGE_ORDER[1:] if rules_by_stage.get(s)]

        pending_of = {
            s: [p for p in all_parts if (str(p), s) not in done]
            for s in ("profile", *rule_stages)
        }

        # Decode ONCE for the union of the profile and audio pending sets:
        # the binary column is by far the widest thing scanned, and its
        # profile stats are entirely length-derived, so one mapInPandas
        # pass feeds BOTH the audio rules and the profile stage's `bytes`
        # summary row — halving full-table binary scans per run. SNR is
        # rendered only when the audio stage actually needs it.
        decoded: DataFrame | None = None
        if rules_by_stage.get("audio") and "bytes" in clips.columns:
            decode_parts = sorted(
                {str(p) for p in pending_of.get("audio", [])}
                | ({str(p) for p in pending_of["profile"]}
                   if self.triage_sample_pct is None else set())
            )
            if decode_parts:
                decode_src = clips.where(
                    F.col(self.part_col).cast("string").isin(decode_parts)
                )
                if self.triage_sample_pct is not None:
                    # two-tier mode: the decode tier sees only rows the
                    # header probe flagged plus the deterministic audit
                    # sample; everything else is vouched for at scan
                    # speed (see triage_sample_pct field doc)
                    from .operators.headerprobe import triage_route

                    decode_src = triage_route(
                        decode_src,
                        key_col=self.key_col,
                        sample_pct=self.triage_sample_pct,
                    ).where(F.col("route") == "decode").select(*clips.columns)
                decoded = decode_facts(
                    decode_src, with_snr=bool(pending_of.get("audio"))
                ).persist()

        rows_cache: dict[str, int] = {}  # filled by the profile stage

        def run_stage(stage: str) -> DataFrame:
            def body(pending):
                if fail_stage == stage:
                    raise RuntimeError(f"injected failure before stage {stage!r}")
                scoped = clips.where(F.col(self.part_col).isin(pending))
                refs_scoped = refs
                if refs is not None and self.part_col in refs.columns:
                    refs_scoped = refs.where(F.col(self.part_col).isin(pending))
                # triage decode is a row subset: its length stats
                # would under-count, so profile keeps the direct
                # expression path (pinned equal to the fused path)
                stage_decoded = None
                if decoded is not None and (
                    stage == "audio"
                    or (stage == "profile" and self.triage_sample_pct is None)
                ):
                    stage_decoded = decoded.where(
                        F.col("part").isin([str(p) for p in pending])
                    )

                if stage == "profile":
                    n_rows_by_part, n_viol_by_part = self._run_profile(
                        scoped, cfg, pending, decoded=stage_decoded
                    )
                    rows_cache.update(n_rows_by_part)
                    return n_rows_by_part, n_viol_by_part
                ctx = RuleContext(
                    spark=self.spark,
                    clips=scoped,
                    refs=refs_scoped,
                    decoded=stage_decoded,
                    profile_summary=self.profile_summary(),
                    profile_hist=self.profile_hist(),
                    baseline_hist=baseline_hist,
                    key_col=self.key_col,
                    part_col=self.part_col,
                )
                n_viol_by_part = self._run_rule_stage(stage, rules_by_stage[stage], ctx, pending)
                if all(str(p) in rows_cache for p in pending):
                    n_rows_by_part = {str(p): rows_cache[str(p)] for p in pending}
                else:  # resumed run that skipped the profile stage
                    n_rows_by_part = self._rows_by_part(pending)
                    rows_cache.update(n_rows_by_part)
                return n_rows_by_part, n_viol_by_part

            # resume=False: every stage's pending set was resolved above
            # from ONE manifest read
            return self._stage(stage, pending_of[stage], False, run_id, body)

        # Profile runs first: every rule stage may read its outputs. The
        # rule stages then overlap, as the reference's independent
        # profilers do: on 4 vCPUs, 16k clips took 9.5-10.3 s overlapped
        # vs 11.6-12.9 s serial, warm 4k 8.1-9.7 vs 10.1-14.7 s. Only
        # local[32] on a 32-vCPU host ran slower overlapped (one
        # local-mode driver; BENCH/BASELINE.md run 5). A wrapper made per
        # stage on this thread gives each stage its own copy of the
        # caller's local properties (job group, description, scheduler
        # pool); one shared wrapper would share one properties object,
        # which every SQL execution writes its id into. Cascades
        # (cross-stage depends_on, reference profilers/config.js:10-20)
        # run serially in stage order.
        stage_of = {r.name: r.stage for r in self.rules}
        cross_dep = any(
            stage_of.get(dep) not in (None, r.stage, "profile")
            for r in self.rules
            for dep in r.depends_on
        )
        try:
            frames = [run_stage("profile")]
            if cross_dep:
                frames += [run_stage(s) for s in rule_stages]
            elif rule_stages:
                with ThreadPoolExecutor(max_workers=len(rule_stages)) as pool:
                    futures = [pool.submit(inheritable_thread_target(self.spark)(run_stage), s)
                               for s in rule_stages]
                frames += [f.result() for f in futures]
        finally:
            if decoded is not None:
                decoded.unpersist()

        return reduce(DataFrame.unionByName, frames)

    # --- cascade stage: semantic typing ------------------------------------
    def run_semantic(
        self,
        kb: DataFrame,
        top_k: int = 10,
        resume: bool = True,
        run_id: str | None = None,
    ) -> DataFrame:
        """Cascade profiler stage: semantic-type scores per (partition,
        column) from the PROFILE stage's value histograms — the engine
        analog of the reference's `semantic` profiler, which reads the
        messystreams profiler's histogram RESULTS rather than raw rows
        (``/root/reference/profilers/semantic.js:50-55``,
        cascade ``profilers/config.js:10-20``).

        Reads only the (tiny) profile_hist table, scores against the
        broadcast KB, writes the ``semantic_scores`` output table with
        per-partition replace, and commits manifest rows under
        stage='semantic' (so resume and verdicts work like any stage).
        Requires the profile stage to have run (it is the cascade
        parent).
        """
        from . import semantic as sem

        hist = self.profile_hist().where(F.col("kind") == "value")

        def body(pending):
            string_hist = hist.where(F.col("part").isin(pending)).select(
                "part", "key", F.col("bin").alias("value"), "count"
            )
            scores = sem.semantic_scores(
                string_hist, kb, top_k=top_k, group_cols=("part", "key")
            )
            self.io.replace_partitions(scores, "semantic_scores", "part", pending)
            return self._rows_by_part(pending), {}

        return self._stage("semantic", self._parts(hist, "part"), resume, run_id, body)

    def semantic_scores_table(self) -> DataFrame:
        return self.io.read(
            "semantic_scores",
            "key string, object string, score double, rank int, part string",
        )

    # --- cascade stage: FD mining ------------------------------------------
    def run_fd(
        self,
        clips: DataFrame,
        cols: list[str] | None = None,
        max_ndv_frac: float = 0.5,
        max_violation_rate: float = 0.0,
        resume: bool = True,
        run_id: str | None = None,
    ) -> DataFrame:
        """Cascade profiler stage: per-partition single-column FD mining
        over ``cols`` (defaults to every non-binary column). Fills the
        reference's registered-but-stubbed ``fdminer`` cascade slot
        (``/root/reference/profilers/config.js:10-20``,
        ``profilers/fdminer/index.js:17-21``) as an engine stage: output
        table ``fd_results`` with per-partition replace, manifest rows
        under stage='fd' (resume/verdicts like any stage). One Spark job
        regardless of partition count — mining groups on
        (part, lhs) instead of looping partitions on the driver.
        """
        from . import fd as fdm

        if cols is None:
            cols = [
                f.name for f in clips.schema.fields
                if f.name != self.part_col and "Binary" not in str(f.dataType)
            ]

        def body(pending):
            scoped = clips.where(F.col(self.part_col).isin(pending))
            mined = fdm.mine_fds(
                scoped, cols, max_ndv_frac=max_ndv_frac,
                max_violation_rate=max_violation_rate, part_col=self.part_col,
            ).withColumn(self.part_col, F.col(self.part_col).cast("string"))
            if self.part_col != "part":
                mined = mined.withColumnRenamed(self.part_col, "part")
            self.io.replace_partitions(mined, "fd_results", "part", pending)
            return self._rows_by_part(pending), {}

        return self._stage("fd", self._parts(clips), resume, run_id, body)

    def fd_results(self) -> DataFrame:
        return self.io.read(
            "fd_results",
            "lhs string, rhs string, n_groups bigint, violating_groups bigint, "
            "holds boolean, part string",
        )

    # --- cascade stage: audio content dedup ---------------------------------
    def run_content_dedup(
        self,
        clips: DataFrame,
        resume: bool = True,
        run_id: str | None = None,
    ) -> DataFrame:
        """Cascade stage: cross-partition audio CONTENT dedup.

        Decoded-PCM fingerprint groups (operators.audio_fp) as an engine
        stage — output table ``content_dups``, manifest rows under
        stage='content_dedup' with per-partition lineage (n_violations =
        clips in that partition belonging to a duplicate-content group).

        Semantics are deliberately GLOBAL, unlike the per-partition rule
        stages: a re-encoded copy lands in a DIFFERENT codec partition
        than its original, so duplicate groups span partitions. Any
        pending partition therefore triggers a full recompute and a
        whole-table replace; a resumed run with no new partitions skips
        entirely. The decode runs once in the same narrow shape as the
        shared decode pass (decode_facts with_fp, no SNR render).
        """
        from .operators.audio_fp import dup_groups_from_facts

        def compute():
            facts = decode_facts(clips, with_snr=False, with_fp=True).persist()
            groups = dup_groups_from_facts(facts, id_col="clip_id").withColumn(
                "part", F.lit("*")
            )
            # per-partition lineage: clips implicated in any dup group
            # (the fp side of the join is tiny — one row per dup group)
            implicated = (
                facts.where(F.col("fp").isNotNull())
                .join(F.broadcast(groups.select("fp")), "fp")
                .select(F.col("part").alias(self.part_col))
            )
            return groups, implicated, facts.unpersist

        return self._run_global_stage(
            clips, "content_dedup", "content_dups", compute, resume, run_id
        )

    def run_embedding_dedup(
        self,
        clips: DataFrame,
        threshold: float = 0.98,
        resume: bool = True,
        run_id: str | None = None,
    ) -> DataFrame:
        """Cascade stage: cross-partition PERCEPTUAL audio dedup.

        LSH-blocked embedding-cosine pairs
        (operators.audio_features.audio_embedding_dup_pairs) clustered
        into connected components (operators.components.dup_clusters) —
        catches resample / noise-floor variants the exact-PCM
        fingerprint stage cannot. Output table ``embedding_dups``:
        (id, cluster_id, cluster_size) per implicated clip, cluster_id =
        keeper (min member id). Same GLOBAL semantics and manifest
        lineage as run_content_dedup (stage='embedding_dedup',
        n_violations = implicated clips per partition).
        """
        from .operators.audio_features import audio_embedding_dup_pairs
        from .operators.components import dup_clusters

        def compute():
            pairs = audio_embedding_dup_pairs(
                clips, id_col="clip_id", threshold=threshold
            )
            clusters = dup_clusters(pairs).persist()
            groups = clusters.withColumn("part", F.lit("*"))
            # implicated side is duplicates-only (tiny) -> broadcast it,
            # never shuffle the corpus
            implicated = clips.select(
                F.col("clip_id").alias("id"), self.part_col
            ).join(F.broadcast(clusters.select("id")), "id").select(self.part_col)
            return groups, implicated, clusters.unpersist

        return self._run_global_stage(
            clips, "embedding_dedup", "embedding_dups", compute, resume, run_id
        )

    def run_embedding_drift(
        self,
        clips: DataFrame,
        min_cos: float = 0.98,
        resume: bool = True,
        run_id: str | None = None,
    ) -> DataFrame:
        """Cascade stage: embedding-SPACE drift per corpus partition.

        The scalar drift stage (PSI/KS over histograms) watches declared
        columns; this stage watches the DECODED SIGNAL — each
        partition's audio-embedding centroid (operators.audio_features
        band-energy vectors, one narrow decode+featurize pass with the
        partition column carried through) against the corpus-wide
        centroid (drift.embedding_drift). A recording-condition change,
        codec/bandwidth shift, or content-domain swap in one delivery
        moves that partition's centroid even when sr_hz/dur_ms
        histograms look identical.

        GLOBAL semantics (the global centroid depends on every
        partition), so resume recomputes the whole table when any
        partition is pending — same contract as the dedup stages.
        Output table ``embedding_drift``: one row per corpus partition
        (corpus_part, n_vecs, n_bad, centroid_norm, global_cos,
        centroid_shift, drifted); ``drifted`` = global_cos < min_cos
        (or a degenerate zero-norm centroid). Manifest lineage counts
        every clip of a drifted partition as implicated.
        """
        from .drift import embedding_drift
        from .operators.audio_features import N_FEATURE_BANDS, audio_features

        def compute():
            feats = audio_features(clips, carry_cols=(self.part_col,))
            report = embedding_drift(
                feats, "features", self.part_col, dim=N_FEATURE_BANDS
            ).persist()
            drifted = F.coalesce(F.col("global_cos") < min_cos, F.lit(True))
            groups = report.select(
                F.col(self.part_col).cast("string").alias("corpus_part"),
                "n_vecs", "n_bad", "centroid_norm", "global_cos",
                "centroid_shift", drifted.alias("drifted"),
            ).withColumn("part", F.lit("*"))
            implicated = clips.select("clip_id", self.part_col).join(
                F.broadcast(
                    report.where(drifted).select(self.part_col)
                ),
                self.part_col,
            ).select(self.part_col)
            return groups, implicated, report.unpersist

        return self._run_global_stage(
            clips, "embedding_drift", "embedding_drift", compute, resume, run_id
        )

    def run_fp_index(
        self,
        clips: DataFrame,
        resume: bool = True,
        run_id: str | None = None,
    ) -> DataFrame:
        """Cascade stage: materialize the corpus fingerprint index.

        One (clip_id, fp, decode_error, part) row per corpus clip in
        the ``fp_index`` table — the maintained index ``run_admission``
        and ``streaming.AdmissionMonitor`` consume so deliveries never
        re-decode the corpus. Unlike the global dedup stages the index
        is a PER-PARTITION property: new corpus partitions index
        incrementally (per-partition replace + manifest resume,
        stage='fp_index') — the "maintained at ingest" shape; at 10^12
        clips the full-corpus decode is paid once, then each ingest
        pays only its own partitions. n_violations = undecodable clips
        in the partition (they can never content-match an admission).
        """

        def body(pending):
            scoped = clips.where(F.col(self.part_col).isin(pending))
            idx = decode_facts(scoped, with_snr=False, with_fp=True).select(
                "clip_id", "fp", "decode_error", F.col("part").alias(self.part_col)
            )
            return self._replace_counted(
                idx, "fp_index", self.part_col, pending,
                F.count(F.lit(1)), F.sum(F.col("fp").isNull().cast("bigint")),
            )

        return self._stage("fp_index", self._parts(clips), resume, run_id, body)

    def run_vad(
        self,
        clips: DataFrame,
        resume: bool = True,
        run_id: str | None = None,
    ) -> DataFrame:
        """Cascade stage: per-clip voice-activity stats.

        One (clip_id, speech_ratio, n_speech_runs, longest_silence_ms,
        decode_error, part) row per clip in the ``vad_stats`` table
        (rules.audio_rules.vad_stats over the decode pass,
        decode_facts with_vad — SNR is not rendered). Per-partition
        property like fp_index: new partitions audit incrementally
        (per-partition replace + manifest resume, stage='vad').
        n_violations = clips with no detectable speech (undecodable or
        speech_ratio == 0) — the dead-corpus members a speech-training
        ingest wants surfaced.
        """

        def body(pending):
            scoped = clips.where(F.col(self.part_col).isin(pending))
            vad = decode_facts(scoped, with_snr=False, with_vad=True).select(
                "clip_id", "speech_ratio", "n_speech_runs", "longest_silence_ms",
                "decode_error", F.col("part").alias(self.part_col),
            )
            no_speech = F.col("decode_error").isNotNull() | (F.col("speech_ratio") == 0.0)
            return self._replace_counted(
                vad, "vad_stats", self.part_col, pending,
                F.count(F.lit(1)), F.sum(no_speech.cast("bigint")),
            )

        return self._stage("vad", self._parts(clips), resume, run_id, body)

    def run_certificate(
        self,
        clips: DataFrame,
        fraction: float,
        eps: float = 0.01,
        delta: float = 0.05,
        abs_tol_ms: int = 20,
        rel_tol: float = 0.02,
        salt: int = 17,
        resume: bool = True,
        run_id: str | None = None,
    ) -> DataFrame:
        """Cascade stage: sampled decode-health CERTIFICATE per partition.

        The full audio stage decodes every pending clip; at 10^12 clips
        a release gate cannot afford that every run. This stage decodes
        only the deterministic ``fraction`` hash sample of each pending
        partition — the sample filter runs BEFORE decode_facts, so the
        binary column of unsampled rows is never decoded — and writes a
        Hoeffding 1−``delta`` upper confidence bound on each partition's
        decode-violation rate (certify.attach_bound) to the
        ``certificates`` table: (part, n_sampled, n_viol, rate_hat,
        rate_ub, certified) with ``certified = rate_ub <= eps``.

        A sampled violation is the core decode-health triple the exact
        audio rules check row-by-row: decode failure, decoded sample
        rate != sr_hz, or |decoded − declared| duration beyond
        max(abs_tol_ms, rel_tol·dur_ms) (SNR is deliberately NOT
        rendered — the certificate is the cheap pre-gate; a failed
        certificate routes the partition to the full audio stage).

        Sampling keys on xxhash64(key_col) folded to [0, 2^31) — string
        clip ids hash deterministically at any parallelism, so re-runs
        certify the identical subset and a different ``salt`` draws an
        independent check. Resume unit = partition (stage
        ='certificate'); manifest n_rows = sampled clips, n_violations
        = sampled violating clips. Partitions whose sample is empty
        surface uncertified (rate_ub 1.0) rather than vanishing.
        """
        from .certify import attach_bound
        from .operators.sample import sample_key, threshold

        def body(pending):
            scoped = clips.where(F.col(self.part_col).isin(pending))
            key = F.pmod(F.xxhash64(F.col(self.key_col)), F.lit(2**31))
            sampled = scoped.where(sample_key(key, salt) < F.lit(threshold(fraction)))
            facts = decode_facts(sampled, with_snr=False)
            # the audio rules' own predicates (column expressions over
            # the facts; both read no context): each is guarded by
            # decode_error IS NULL, so OR-ing in the failure is exact
            dur = DurationConsistencyRule(abs_tol_ms=abs_tol_ms, rel_tol=rel_tol)
            viol = (
                F.col("decode_error").isNotNull()
                | SampleRateConsistencyRule().predicate(None)[0]
                | dur.predicate(None)[0]
            )
            agg = facts.groupBy("part").agg(
                F.count(F.lit(1)).alias("n_sampled"),
                F.sum(viol.cast("bigint")).alias("n_viol"),
            )
            # pure-JVM VALUES relation, as in _commit: no Python RDD job
            parts_df = self.spark.sql("SELECT col1 AS part FROM VALUES " + ", ".join(
                f"({_sql_str(p)})" for p in pending
            ))
            agg = parts_df.join(agg, ["part"], "left").fillna(
                0, subset=["n_sampled", "n_viol"]
            )
            cert = attach_bound(agg, eps, delta, keys=["part"]).withColumnRenamed(
                "part", self.part_col
            )
            return self._replace_counted(
                cert, "certificates", self.part_col, pending,
                F.sum("n_sampled"), F.sum("n_viol"),
            )

        return self._stage("certificate", self._parts(clips), resume, run_id, body)

    def run_probe_stats(
        self,
        clips: DataFrame,
        resume: bool = True,
        run_id: str | None = None,
    ) -> DataFrame:
        """Cascade stage: per-partition header-probe health table.

        One decode-free pass (operators.headerprobe.probe_stats — pure
        scan-stage byte arithmetic) writes the ``probe_health`` table:
        per partition, clip count, probe-flagged count, one column per
        finding kind, and the flagged rate — the corpus-integrity
        dashboard row the streaming ingest gate
        (streaming.windowed_probe_stats) computes per window, here as a
        resumable batch stage (stage='probe', resume unit = partition;
        manifest n_rows = clips probed, n_violations = flagged clips).
        """
        from .operators.headerprobe import probe_stats

        def body(pending):
            scoped = clips.where(F.col(self.part_col).isin(pending))
            return self._replace_counted(
                probe_stats(scoped, by=(self.part_col,)), "probe_health",
                self.part_col, pending, F.sum("n_clips"), F.sum("n_flagged"),
            )

        return self._stage("probe", self._parts(clips), resume, run_id, body)

    def probe_health(self) -> DataFrame:
        from .operators.headerprobe import FINDING_KINDS

        cols = ", ".join(f"n_{k} bigint" for k in FINDING_KINDS)
        return self.io.read(
            "probe_health",
            f"{self.part_col} string, n_clips bigint, n_flagged bigint, "
            f"{cols}, flagged_rate double",
        )

    # stages derived FROM the manifest history itself — excluded from the
    # temporal-lineage inputs below so they never self-reference
    _META_STAGES = ("incidents", "screen")

    def run_incident_sessions(
        self,
        gap_s: int = 86400,
        resume: bool = True,
        run_id: str | None = None,
    ) -> DataFrame:
        """Cascade stage: sessionize each partition's violation history
        into incident episodes (stage='incidents', resume unit =
        partition; re-open with :meth:`invalidate` after new runs land,
        same model as the probe stage).

        The temporal operators get engine-level lineage here: gap-based
        sessionization (operators.sessions.session_stats — the
        event_sessions contract query's operator) over the manifest's
        per-(part, stage) run history. Consecutive violating runs closer
        than ``gap_s`` form ONE incident with a start, an end, and a
        run count — the unit an on-call rotation reasons about, instead
        of a flat run list. Output table ``incident_sessions``; manifest
        n_rows = violating history rows, n_violations = incidents.

        Scale: the manifest is sketch-sized (#parts × #stages × #runs),
        so the one sessionization shuffle is trivially bounded at any
        corpus size — this stage costs the same at 10^12 clips as at
        10^4.
        """
        from .operators.sessions import session_stats

        hist = self.manifest().where(~F.col("stage").isin(*self._META_STAGES))
        ev = hist.where(F.col("n_violations") > 0)

        def body(pending):
            scoped = ev.where(F.col("part").isin(pending))
            key = F.concat_ws("\x1f", "part", "stage")
            sess = session_stats(
                scoped.withColumn("__k", key), "__k", "completed_at",
                gap_s=gap_s, tiebreak_col="run_id",
            ).select(
                F.split("user", "\x1f").getItem(0).alias("part"),
                F.split("user", "\x1f").getItem(1).alias("v_stage"),
                F.col("session_idx").cast("bigint").alias("incident_idx"),
                F.col("n_events").cast("bigint").alias("n_runs"),
                "t_start", "t_end",
                F.col("dur_s").cast("bigint").alias("dur_s"),
            )
            return self._replace_counted(
                sess, "incident_sessions", "part", pending,
                F.sum("n_runs"), F.count(F.lit(1)),
            )

        return self._stage("incidents", self._parts(ev, "part"), resume, run_id, body)

    def incident_sessions(self) -> DataFrame:
        return self.io.read(
            "incident_sessions",
            "part string, v_stage string, incident_idx bigint, "
            "n_runs bigint, t_start timestamp, t_end timestamp, dur_s bigint",
        )

    def run_screen_attribution(
        self,
        screen_stage: str = "certificate",
        target_stages: tuple[str, ...] = ("audio",),
        resume: bool = True,
        run_id: str | None = None,
    ) -> DataFrame:
        """Cascade stage: as-of attribution of each expensive-tier run
        to the screen that vouched for it (stage='screen', resume unit =
        partition, re-open via :meth:`invalidate`).

        The backward as-of join (operators.temporal.asof_join — the
        asof_attribution contract query's operator) attaches to every
        ``target_stages`` manifest row the most recent ``screen_stage``
        row for the same partition at or before it: "which certificate
        screened this decode pass, and how stale was it?". A target run
        with NO prior screen is the lineage gap the stage flags
        (manifest n_violations = unscreened runs; n_rows = target
        runs). Output table ``screen_attribution``.

        Scale: manifest-sized input, one as-of exchange on part — cost
        independent of corpus size.
        """
        from .operators.temporal import asof_join

        hist = self.manifest()
        target = hist.where(F.col("stage").isin(*target_stages))
        # one screen per (part, ts): two screen commits stamped the same
        # instant would otherwise make the as-of carry nondeterministic
        # (max run_id wins — deterministic on both engines)
        screens = (
            hist.where(F.col("stage") == screen_stage)
            .groupBy("part", "completed_at")
            .agg(F.max("run_id").alias("run_id"))
            .select("part", "completed_at", "run_id")
        )

        def body(pending):
            scoped = target.where(F.col("part").isin(pending)).select(
                "part", "stage", "run_id", "completed_at", "n_violations"
            )
            # no tiebreak: commit timestamps are per-(stage, run) and the
            # asof tiebreak casts to long (run_id is a hex string)
            att = asof_join(
                scoped, screens, ["part"], "completed_at", "completed_at",
                ["run_id", "completed_at"], prefix="screen_",
            ).select(
                "part", F.col("stage").alias("t_stage"), "run_id",
                "completed_at", "n_violations",
                "screen_run_id", "screen_completed_at",
                (
                    F.unix_timestamp("completed_at")
                    - F.unix_timestamp("screen_completed_at")
                ).cast("bigint").alias("screen_lag_s"),
            )
            return self._replace_counted(
                att, "screen_attribution", "part", pending,
                F.count(F.lit(1)),
                F.sum(F.col("screen_run_id").isNull().cast("bigint")),
            )

        return self._stage("screen", self._parts(target, "part"), resume, run_id, body)

    def screen_attribution(self) -> DataFrame:
        return self.io.read(
            "screen_attribution",
            "part string, t_stage string, run_id string, "
            "completed_at timestamp, n_violations bigint, "
            "screen_run_id string, screen_completed_at timestamp, "
            "screen_lag_s bigint",
        )

    def invalidate(self, parts, stages: tuple[str, ...] = ("audio",)) -> int:
        """Drop manifest completion rows for (part, stage) pairs so the
        next :meth:`run` re-executes exactly those units; returns rows
        removed. Violations need no cleanup — each stage write is a
        per-(stage, part) replace, so the re-run rewrites them
        idempotently.

        Completes the certificate loop: ``run_certificate`` bounds each
        partition's decode-violation rate from a sample;
        ``uncertified_parts`` names the partitions whose bound failed;
        ``invalidate(bad, stages=("audio",))`` re-opens just their
        audio-stage units; the next ``run`` decodes only those — the
        cheap-screen → full-rescan escalation a 10^12-clip corpus needs
        (the reference re-runs whole profilers per dataset,
        profilers/worker.js:121-144; per-unit re-open is the Spark-side
        refinement).
        """
        parts = [str(p) for p in parts]
        if not parts or not stages:
            return 0
        cond = "part IN ({}) AND stage IN ({})".format(
            ", ".join(map(_sql_str, parts)), ", ".join(map(_sql_str, stages))
        )
        return self.io.delete_matching("manifest", cond, MANIFEST_SCHEMA)

    def uncertified_parts(self) -> list[str]:
        """Partitions whose latest certificate did NOT certify — the
        routing list the certificate stage exists to produce: feed
        these to the full audio stage (run() re-scopes itself via the
        manifest) and skip the rest this release. Reads the
        certificates table only (sketch-sized)."""
        cert = self.io.read(
            "certificates",
            f"{self.part_col} string, n_sampled bigint, n_viol bigint, "
            "rate_hat double, rate_ub double, certified boolean",
        )
        if cert.isEmpty():
            return []
        return self._parts(cert.where(~F.col("certified")))

    def run_admission(
        self,
        clips: DataFrame,
        batch: DataFrame,
        batch_id: str,
        max_hamming: int = 3,
        corpus_fps: DataFrame | None = None,
        resume: bool = True,
        run_id: str | None = None,
    ) -> DataFrame:
        """Cascade stage: incremental admission of a delivery batch.

        ``operators.audio_fp.incremental_clip_admission`` as an engine
        stage: each batch clip's disposition lands in the ``admissions``
        table partitioned by the delivery (part=batch_id) — re-running a
        batch replaces exactly its rows, and with ``resume`` a batch id
        already in the manifest is skipped (stage='admission',
        part=batch_id, n_violations = batch clips NOT accepted).

        Unlike the corpus-keyed global stages, the resume unit here is
        the DELIVERY: a new batch id always runs, the same batch id
        never re-runs. The corpus fingerprint index defaults to the
        shared decode pass over ``clips`` (decode_facts with_fp, no SNR
        render); pass ``corpus_fps`` to reuse a maintained index — on a
        production corpus the index is written at ingest and only the
        batch is decoded per delivery.
        """
        from .operators.audio_fp import incremental_clip_admission

        def body(pending):
            fps = corpus_fps
            if fps is None:
                # prefer the maintained fp_index when it covers every current
                # corpus partition (freshness is partition-granular — the
                # engine's resume unit everywhere); otherwise decode inline
                idx = self.manifest().where(F.col("stage") == "fp_index")
                idx_parts = set(self._parts(idx, "part"))
                cur_parts = {str(p) for p in self._parts(clips)}
                if cur_parts and cur_parts <= idx_parts:
                    fps = self.fp_index().select("clip_id", "fp")
                else:
                    fps = decode_facts(clips, with_snr=False, with_fp=True).select("clip_id", "fp")
            raw = incremental_clip_admission(
                clips, batch, max_hamming=max_hamming, corpus_fps=fps
            )
            return self._replace_counted(
                raw.withColumn("part", F.lit(batch_id)), "admissions", "part",
                pending, F.count(F.lit(1)),
                F.sum((F.col("disposition") != "accept").cast("bigint")),
            )

        return self._stage("admission", [batch_id], resume, run_id, body)

    def _run_global_stage(
        self,
        clips: DataFrame,
        stage: str,
        table: str,
        compute,
        resume: bool,
        run_id: str | None,
    ) -> DataFrame:
        """Shared scaffolding for GLOBAL (cross-partition) cascade stages:
        resume from the manifest, recompute the whole table when any
        partition is pending (dup groups span partitions), commit
        per-partition lineage. ``compute() -> (table_df, implicated_df,
        cleanup)`` where table_df carries part='*', implicated_df has one
        row per implicated clip with its partition column, and cleanup
        releases any persisted intermediates after the write + count."""

        def body(pending):
            groups, implicated, cleanup = compute()
            try:
                self.io.replace_partitions(groups, table, "part", ["*"])
                viol = {
                    str(r[0]): r["c"]
                    for r in implicated.groupBy(self.part_col)
                    .agg(F.count(F.lit(1)).alias("c")).collect()
                }
            finally:
                cleanup()
            return self._rows_by_part(pending), viol

        return self._stage(stage, self._parts(clips), resume, run_id, body)

    # --- cascade stage: schema discovery (keys + INDs) ----------------------
    def run_discovery(
        self,
        clips: DataFrame,
        refs: DataFrame | None = None,
        key_cols: list[str] | None = None,
        max_arity: int = 1,
        id_col: str = "clip_id",
        od_pairs: list[tuple[str, str]] | None = None,
        cfd_rules: list[tuple[str | list[str], str]] | None = None,
        cfd_min_support: int = 2,
        resume: bool = True,
        run_id: str | None = None,
    ) -> DataFrame:
        """Cascade stage: mine the schema facts the declared rules assert
        — candidate keys (ucc.mine_keys over ``key_cols``, lattice up to
        ``max_arity``) and the clip↔transcript inclusion dependencies in
        BOTH directions (ind.mine_inds) — so undeclared keys and broken
        declared ones surface from the data, the discovery counterpart of
        the uniqueness + referential validators (reference declares these
        per-dataset, api/models/Rule.js semantics; here they're mined).

        GLOBAL semantics like the dedup stages: keys and containment are
        whole-table properties, so any pending partition recomputes the
        table (stage='discovery', output ``discovery_results``). Rows are
        normalized across kinds: (kind, lhs, rhs, n, n_bad, metric,
        holds) — for kind='ucc', n=rows, n_bad=dup+null rows blocking key
        status, metric=dup-free fraction; for kind='ind', n=LHS distinct
        values, n_bad=uncontained ones, metric=containment. Optional
        ``od_pairs`` adds kind='od' rows (od.check_order_dependencies:
        n=ordering groups, n_bad=overlapping adjacent intervals,
        metric=clean boundary fraction) and ``cfd_rules`` — a list of
        (lhs, rhs) specs — adds kind='cfd' tableau rows
        (fd.mine_constant_cfds: lhs='col=value', n=support,
        n_bad=non-consensus rows, metric=confidence). Candidates
        the HLL bound refutes cheaply carry no row (they were never
        plausibly keys); manifest lineage counts clips whose ``id_col``
        value is duplicated — the declared-key violation discovery found.
        """
        from . import fd as fdm
        from . import ucc as uccm
        from .ind import IndCandidate, mine_inds

        def compute():
            cols = key_cols
            if cols is None:
                cols = [
                    f.name for f in clips.schema.fields
                    if f.name != self.part_col
                    and "Binary" not in str(f.dataType)
                ]
            mined = uccm.mine_keys(clips, cols, name="clips", max_arity=max_arity)
            uccs = mined.select(
                F.lit("ucc").alias("kind"),
                F.col("cols").alias("lhs"),
                F.lit(None).cast("string").alias("rhs"),
                F.col("n_rows").alias("n"),
                (F.col("dup_rows") + F.col("n_nulls")).alias("n_bad"),
                F.when(F.col("n_rows") == 0, F.lit(1.0))
                .otherwise(F.col("n_groups") / F.col("n_rows"))
                .alias("metric"),
                F.col("is_key").alias("holds"),
            )
            out = uccs
            if refs is not None:
                inds = mine_inds(
                    [
                        IndCandidate("refs", refs, id_col, "clips", clips, id_col),
                        IndCandidate("clips", clips, id_col, "refs", refs, id_col),
                    ]
                ).select(
                    F.lit("ind").alias("kind"),
                    "lhs",
                    "rhs",
                    F.col("n_lhs").alias("n"),
                    (F.col("n_lhs") - F.col("n_contained")).alias("n_bad"),
                    F.col("containment").alias("metric"),
                    "holds",
                )
                out = out.unionByName(inds)
            if od_pairs:
                from .od import check_order_dependencies

                ods = check_order_dependencies(clips, od_pairs).select(
                    F.lit("od").alias("kind"),
                    F.col("on_col").alias("lhs"),
                    F.col("ordered_col").alias("rhs"),
                    F.col("n_groups").alias("n"),
                    F.col("violating_pairs").alias("n_bad"),
                    # clean fraction of the adjacent-group boundary checks
                    (
                        F.lit(1.0)
                        - F.col("violating_pairs")
                        / F.greatest(F.col("n_groups") - 1, F.lit(1))
                    ).alias("metric"),
                    "holds",
                )
                out = out.unionByName(ods)
            for lhs, rhs in cfd_rules or []:
                cfds = fdm.mine_constant_cfds(
                    clips, lhs, rhs, min_support=cfd_min_support
                ).select(
                    F.lit("cfd").alias("kind"),
                    F.concat_ws("=", "lhs", "lhs_value").alias("lhs"),
                    "rhs",
                    F.col("support").alias("n"),
                    F.col("n_violations").alias("n_bad"),
                    F.col("confidence").alias("metric"),
                    "holds",
                )
                out = out.unionByName(cfds)
            groups = out.withColumn("part", F.lit("*"))
            # lineage: clips carrying a duplicated declared-key value —
            # the dup-id set is tiny, broadcast it, never shuffle clips
            dup_ids = (
                clips.groupBy(id_col)
                .agg(F.count(F.lit(1)).alias("__c"))
                .where(F.col("__c") > 1)
                .select(id_col)
            )
            implicated = clips.select(id_col, self.part_col).join(
                F.broadcast(dup_ids), id_col
            ).select(self.part_col)
            return groups, implicated, (lambda: None)

        return self._run_global_stage(
            clips, "discovery", "discovery_results", compute, resume, run_id
        )

    def discovery_results(self) -> DataFrame:
        return self.io.read(
            "discovery_results",
            "kind string, lhs string, rhs string, n bigint, n_bad bigint, "
            "metric double, holds boolean, part string",
        )

    # --- cascade stage: expectation suites ----------------------------------
    def run_expectations(
        self,
        clips: DataFrame,
        checks=None,
        resume: bool = True,
        run_id: str | None = None,
    ) -> DataFrame:
        """Per-partition declarative expectation suite
        (expectations.verify): the whole suite costs ONE aggregate scan
        of the pending partitions, grouped by the partition column, and
        writes one verdict row per (partition, check) to
        ``expectation_results`` with per-partition replace + manifest
        resume (stage='expectations'). Manifest ``n_violations`` counts
        FAILED CHECKS per partition — dataset-contract breaches, the
        coarse sibling of the per-row violation rows the rule stages
        emit. ``checks`` defaults to presets.default_clip_expectations()
        for the input_hint clips schema.
        """
        from . import expectations as ex

        if checks is None:
            from .presets import default_clip_expectations

            checks = default_clip_expectations()

        def body(pending):
            scoped = clips.where(F.col(self.part_col).isin(pending))
            out = ex.verify(scoped, checks, by=[self.part_col]).select(
                F.col(self.part_col).cast("string").alias("part"),
                "check", "column", "value", "lo", "hi", "passed",
            )
            # failed-check counts from the (tiny, #parts x #checks) result
            # rows — never a second scan of clips
            _, viol = self._replace_counted(
                out, "expectation_results", "part", pending,
                F.count(F.lit(1)), F.sum((~F.col("passed")).cast("bigint")),
            )
            return self._rows_by_part(pending), viol

        return self._stage("expectations", self._parts(clips), resume, run_id, body)

    def run_suite_regression(
        self,
        baseline_profile: DataFrame,
        baseline_id: str,
        null_tolerance: float = 0.05,
        low_card_max: int = 20,
        resume: bool = True,
        run_id: str | None = None,
    ) -> DataFrame:
        """Data-CI stage: the expectation suite the BASELINE release's
        profile satisfies (expectations.suggest_checks), re-evaluated
        against THIS run's materialized ``profile_summary`` — each
        newly-failing check lands in ``suite_regression_results``
        (part=baseline_id). Requires the profile stage to have run
        first (raises otherwise rather than reporting every baseline
        column as dropped).

        Like run_admission, the resume unit is LOGICAL — the baseline
        identity: the same baseline_id never re-runs, a new baseline
        always does. Everything here is sketch-sized (two profile
        tables joined on #cols x #checks rows); the corpus scans
        happened in the two releases' profile stages — which is the
        whole point of doing data-CI on profiles at 10^12 rows.
        Manifest n_violations = number of regressed checks.
        """
        from . import expectations as ex

        def body(pending):
            current = self.profile_summary()
            if current.isEmpty():
                raise ValueError(
                    "run_suite_regression needs a materialized profile_summary — "
                    "run the profile stage first"
                )
            out = ex.suite_regressions(
                baseline_profile, current,
                null_tolerance=null_tolerance, low_card_max=low_card_max,
            ).select(
                F.lit(baseline_id).alias("part"),
                "key", "check", "lo", "hi", "observed_lo", "observed_hi",
            )
            # every result row is a regressed check: n_rows = n_violations
            return self._replace_counted(
                out, "suite_regression_results", "part", pending,
                F.count(F.lit(1)), F.count(F.lit(1)),
            )

        return self._stage("suite_regression", [baseline_id], resume, run_id, body)

    def clean_clips(
        self,
        clips: DataFrame,
        rules: list[str] | None = None,
        drop_failed_partitions: bool = False,
    ) -> DataFrame:
        """The validated corpus: ``clips`` minus every row some rule
        flagged — the artifact a downstream consumer actually asks the
        engine for. ``rules`` restricts which rules disqualify (default:
        all); ``drop_failed_partitions=True`` additionally removes WHOLE
        partitions whose latest verdict failed (the coarse gate for
        consumers that only trust fully-green partitions).

        Plan shape: LEFT ANTI join of clips against the DISTINCT
        flagged-id projection of the violations table. The violations
        side is aggregated to ids before the join (violations carry one
        row per (rule, clip), so the distinct bounds the join input by
        corpus size, not violation multiplicity); no hint — AQE
        broadcasts the id set when it fits. Partition pruning for the
        verdict gate happens driver-side on the (tiny) manifest, so the
        anti join is the only clips-sized work.
        """
        viol = self.violations()
        if rules is not None:
            viol = viol.where(F.col("rule").isin(rules))
        bad_ids = viol.select(F.col("clip_id").alias(self.key_col)).distinct()
        out = clips.join(bad_ids, self.key_col, "left_anti")
        if drop_failed_partitions:
            latest = self.manifest().groupBy("part", "stage").agg(
                F.max_by("n_violations", "completed_at").alias("n_violations")
            )
            failed = self._parts(latest.where(F.col("n_violations") > 0), "part")
            if failed:
                out = out.where(
                    ~F.col(self.part_col).cast("string").isin(sorted(failed))
                )
        return out

    def violation_samples(self, k: int = 5) -> DataFrame:
        """Top-k example violation rows per (partition, rule) — the
        triage view a human opens first: every failing rule shows a few
        concrete offending clips instead of a bare count. Deterministic
        (ordered by clip_id inside each group) and cheap at any scale:
        a row_number window partitioned by (part, rule) over the
        violations table — one shuffle of violations only, never of
        clips. Ranked ``rank`` 1..k, reference result-pagination analog
        (TupleController.js keyset reads)."""
        from .operators.topk import topk_per_group

        return topk_per_group(
            self.violations(),
            ["part", "rule"],
            [F.col("clip_id").asc_nulls_last(), F.col("detail")],
            k,
        )

    def expectation_results(self) -> DataFrame:
        return self.io.read(
            "expectation_results",
            "part string, check string, column string, value double, "
            "lo double, hi double, passed boolean",
        )

    def suite_regression_results(self) -> DataFrame:
        return self.io.read(
            "suite_regression_results",
            "part string, key string, check string, lo double, hi double, "
            "observed_lo double, observed_hi double",
        )

    def content_dups(self) -> DataFrame:
        return self.io.read(
            "content_dups",
            "fp bigint, n_clips bigint, keeper_id string, "
            "clip_ids array<string>, part string",
        )

    def embedding_dups(self) -> DataFrame:
        return self.io.read(
            "embedding_dups",
            "id string, cluster_id string, cluster_size bigint, part string",
        )

    def embedding_drift(self) -> DataFrame:
        return self.io.read(
            "embedding_drift",
            "corpus_part string, n_vecs bigint, n_bad bigint, "
            "centroid_norm double, global_cos double, "
            "centroid_shift double, drifted boolean, part string",
        )

    def admissions(self) -> DataFrame:
        return self.io.read(
            "admissions",
            "id string, disposition string, match_id string, hamming int, "
            "part string",
        )

    def fp_index(self) -> DataFrame:
        return self.io.read(
            "fp_index",
            "clip_id string, fp bigint, decode_error string, part string",
        )

    def vad_stats(self) -> DataFrame:
        return self.io.read(
            "vad_stats",
            "clip_id string, speech_ratio double, n_speech_runs int, "
            "longest_silence_ms int, decode_error string, part string",
        )

    # --- stage runner -----------------------------------------------------
    def _stage(self, stage, units, resume, run_id, body) -> DataFrame:
        """Run one stage over ``units`` (module doc, "Stage runner"):
        resume, time ``body(pending)``, commit and return the committed
        rows' verdicts."""
        run_id = run_id or uuid.uuid4().hex[:12]
        pending = list(units)
        if resume:
            done = set(self._parts(self.manifest().where(F.col("stage") == stage), "part"))
            pending = [u for u in pending if str(u) not in done]
        if not pending:
            return empty_frame(self.spark, VERDICT_SCHEMA)
        t0 = time.monotonic()
        n_rows_by_part, n_viol_by_part = body(pending)
        wall_ms = int((time.monotonic() - t0) * 1000)
        with self._commit_lock:
            rows = self._commit(run_id, stage, pending, n_rows_by_part, n_viol_by_part, wall_ms)
        return _as_verdicts(rows)

    def _parts(self, df: DataFrame, col: str | None = None) -> list:
        """Distinct partition values of ``df`` (a stage's candidate units)."""
        return [r[0] for r in df.select(col or self.part_col).distinct().collect()]

    def _replace_counted(self, df, table, part_col, pending, n_expr, bad_expr):
        """Write ``df`` over the ``pending`` partitions of ``table`` and
        count it per partition from the same persisted rows (one small
        aggregate job, no recompute): ``(n_rows_by_part,
        n_viol_by_part)`` from ``n_expr`` and ``bad_expr``."""
        df = df.persist()
        try:
            self.io.replace_partitions(df, table, part_col, pending)
            stats = df.groupBy(part_col).agg(
                n_expr.alias("n"), bad_expr.alias("bad")
            ).collect()
        finally:
            df.unpersist()
        return (
            {str(r[0]): int(r["n"] or 0) for r in stats},
            {str(r[0]): int(r["bad"] or 0) for r in stats},
        )

    # --- stage bodies -----------------------------------------------------
    def _run_profile(self, scoped, cfg, pending, decoded=None):
        # idempotent per-partition replace (reference delete-before-write,
        # worker.js:97-100) via the table-IO backend
        fuse = (
            decoded is not None
            and "bytes" in scoped.columns
            and "bytes" not in cfg.skip_cols
        )
        if fuse:
            # binary stats are all length-derived — take them from the
            # shared decode pass instead of re-scanning the binary column
            from dataclasses import replace as _replace

            cfg_narrow = _replace(cfg, skip_cols=tuple(cfg.skip_cols) + ("bytes",))
            summary = prof.profile_summary(scoped, cfg_narrow).unionByName(
                self._bytes_summary_from_decoded(decoded, cfg)
            )
        else:
            summary = prof.profile_summary(scoped, cfg)
        self.io.replace_partitions(summary, "profile_summary", "part", pending)
        if cfg.value_hist_cols or cfg.bucket_hist_cols:
            hist = prof.profile_histograms(scoped, cfg)
            self.io.replace_partitions(hist, "profile_hist", "part", pending)
        n_rows = self._rows_by_part(pending)
        return n_rows, {p: 0 for p in pending}

    @staticmethod
    def _bytes_summary_from_decoded(decoded: DataFrame, cfg) -> DataFrame:
        """The `bytes` column's profile row, computed from the decode
        pass's n_bytes (int, same type as F.length(binary) so the HLL
        sketch matches the direct-scan path bit-for-bit)."""
        nb = F.col("n_bytes")
        ndv = (F.count_distinct(nb) if cfg.exact_ndv
               else F.approx_count_distinct(nb))
        return decoded.groupBy("part").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(nb.isNull().cast("long")).alias("n_nulls"),
            ndv.alias("ndv"),
            F.min(nb).cast("string").alias("min"),
            F.max(nb).cast("string").alias("max"),
            F.avg(nb.cast("double")).alias("mean"),
            F.stddev_pop(nb.cast("double")).alias("stddev"),
            F.avg(nb.cast("double")).alias("avg_len"),
        ).select(
            "part", F.lit("bytes").alias("key"), "n_rows", "n_nulls", "ndv",
            "min", "max", "mean", "stddev", "avg_len",
        )

    def _run_rule_stage(self, stage, rules, ctx, pending):
        # Per-part violation counts ride along on the write job via the
        # Observation API (conditional sums) — no second job. Falls back
        # to a read-back aggregation when the pending set is large (the
        # observe expression list is O(#parts)).
        to_write = fold(rules, ctx)
        obs = None
        if len(pending) <= 64:
            from pyspark.sql import Observation

            obs = Observation(f"viol_{stage}")
            to_write = to_write.observe(
                obs,
                *[
                    F.coalesce(
                        F.sum(F.when(F.col("part") == str(p), 1).otherwise(0)), F.lit(0)
                    ).alias(f"n_{i}")
                    for i, p in enumerate(pending)
                ],
            )
        # stage pinned as a fixed partition level: the parquet backend
        # gives each stage its own directory root (concurrent stage
        # writers never share a _temporary staging dir); Iceberg commits
        # the same shape transactionally
        self.io.replace_partitions(
            to_write, "violations", "part", pending, fixed={"stage": stage}
        )
        if obs is not None:
            got = obs.get
            return {p: int(got[f"n_{i}"]) for i, p in enumerate(pending)}
        written = self.violations().where(
            (F.col("stage") == stage)
            & F.col("part").isin([str(p) for p in pending])
        )
        counts = {r["part"]: r["n"] for r in
                  written.groupBy("part").agg(F.count(F.lit(1)).alias("n")).collect()}
        return {p: int(counts.get(str(p), 0)) for p in pending}

    def _rows_by_part(self, pending):
        summary = self.profile_summary().where(
            F.col("part").isin([str(p) for p in pending])
        )
        rows = summary.groupBy("part").agg(F.max("n_rows").alias("n")).collect()
        return {r["part"]: int(r["n"]) for r in rows}

    # --- commit ------------------------------------------------------------
    def _commit(self, run_id, stage, pending, n_rows_by_part, n_viol_by_part, wall_ms):
        # Build the manifest rows as a pure-JVM VALUES relation: a
        # createDataFrame(local_rows) plan is a 32-slice parallelized
        # Python RDD whose write pays a Python-worker round trip per
        # slice (~4s per commit measured at local[32]); VALUES is free.
        # Returned as appended: the caller's verdicts read no file.
        vals = ", ".join(
            "({}, {}, {}, {}, {}, {})".format(
                _sql_str(run_id), _sql_str(p), _sql_str(stage),
                int(n_rows_by_part.get(str(p), n_rows_by_part.get(p, 0))),
                int(n_viol_by_part.get(str(p), n_viol_by_part.get(p, 0))),
                wall_ms,
            )
            for p in pending
        )
        mdf = self.spark.sql(
            f"SELECT col1 AS run_id, col2 AS part, col3 AS stage, "
            f"current_timestamp() AS completed_at, "
            f"CAST(col4 AS BIGINT) AS n_rows, CAST(col5 AS BIGINT) AS n_violations, "
            f"CAST(col6 AS BIGINT) AS wall_ms FROM VALUES {vals}"
        )
        # one small file per (stage, run); compaction bounds the listing
        # (verdicts()/resume re-read the whole manifest — O(#runs) files
        # without it)
        self.io.append(mdf, "manifest", coalesce=1)
        self.io.compact("manifest", self.manifest_compact_files, MANIFEST_SCHEMA)
        return mdf
