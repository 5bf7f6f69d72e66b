"""Layered benchmark of one ``ValidationEngine.run()`` over a clips table.

Run from the root of a checkout (the directory holding ``nadeefiler_spark``)::

    python3 perfbench/run.py --workload fixed_4k --seed 1 --seconds 10 --trace 0

One process, one ``local[N]`` Spark session with N = the usable cores
and a driver heap sized from MemTotal (``probes.fit_host``). The clips
table and its transcript refs are generated with ``datagen`` from
``--seed``; every timed operation is checked against
``datagen.golden_violations``. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the lines before it
are one record per operation (wall, loadavg, steal) and a summary.

``--trace 0`` reports the end-to-end metrics of untraced operations.
``--trace 1`` alternates untraced and traced operations (spans, Spark job
groups, status-store reads), then calls each layer's public functions
once, and reports the per-layer metrics; its spans are written to
``.bench_results/``. Working files live in ``.bench_work/`` and are
removed at exit.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from collections import Counter
from contextlib import contextmanager
from dataclasses import dataclass

import probes

STAGES = ("profile", "constraints", "audio", "drift")
GOLDEN_RULES = (
    "unique_clip_id", "sr_domain", "transcript_required", "ref_integrity",
    "transcript_equality", "audio_codec", "audio_sample_rate",
    "audio_duration", "audio_snr",
)
CONSTRAINT_RULES = (
    "unique_clip_id", "sr_domain", "transcript_required", "ref_integrity",
    "transcript_equality",
)
DECODE_COLS = ("part", "clip_id", "sr_hz", "dur_ms", "codec", "bytes")
REOPEN_PART = "mp3"
GROUP_KEY = "spark.jobGroup.id"
# tableio layer: manifest-sized commits appended before one compaction
TABLEIO_APPENDS = 6
# untraced warm operations per run; wall_s is their median. Three would
# not fit the gated run budget: a bulk_32k run then takes about 75 s on a
# 4-vCPU host.
MIN_WARM = 2


@dataclass(frozen=True)
class Workload:
    n_clips: int
    reopen: bool


WORKLOADS = {
    "bulk_32k": Workload(32_000, reopen=False),
    "fixed_4k": Workload(4_000, reopen=False),
    # Not in BENCHMARK.json: a third workload does not fit the gated run
    # budget. Run it by hand to time the invalidate + resume path.
    "reopen_8k": Workload(8_000, reopen=True),
}

E2E_UNITS = {
    "wall_s": "s", "clips_per_s": "1/s", "first_wall_s": "s",
    "setup_s": "s", "peak_rss_mb": "MB",
}


def median(xs):
    return statistics.median(xs) if xs else 0.0


class OutputMismatch(Exception):
    pass


class Bench:
    def __init__(self, args, host: dict, work: str, watch: probes.CodegenWatch) -> None:
        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.n_clips = args.clips or self.wl.n_clips
        self.host = host
        self.work = work
        self.watch = watch
        self.tracer = probes.Tracer(enabled=bool(args.trace))
        self.spark = None
        self.jvm_proc = None
        self.records: list[dict] = []
        self.errors: list[str] = []
        self.viol_ref: Counter | None = None
        self.job_stats: dict[str, list[dict]] = {}

    # --- spans and job groups ------------------------------------------
    @contextmanager
    def traced(self, name: str, op_id: str | None = None):
        """A span that also tags the Spark jobs launched inside it with a
        job group of its own and, on success, records that group's job
        statistics under ``name``. Does nothing while tracing is off."""
        with self.tracer.span(name, op_id) as ctx:
            if ctx.span is None:
                yield
                return
            sc = self.spark.sparkContext
            outer = sc.getLocalProperty(GROUP_KEY)
            group = f"{ctx.span.op_id}:{name}:{ctx.span.span_id}"
            sc.setLocalProperty(GROUP_KEY, group)
            try:
                yield
            finally:
                sc.setLocalProperty(GROUP_KEY, outer)
        stats = probes.job_group_stats(self.spark, group)
        stats["wall_s"] = ctx.span.end - ctx.span.start
        self.job_stats.setdefault(name, []).append(stats)

    # --- setup ----------------------------------------------------------
    def setup(self) -> None:
        from nadeefiler_spark import datagen
        from nadeefiler_spark.session import get_spark

        tr = self.tracer
        t0 = time.perf_counter()
        with tr.span("setup", "setup"):
            with tr.span("session.start"):
                self.spark = get_spark(
                    app_name="perfbench",
                    parallelism=self.host["cpus"],
                    extra_conf={"spark.ui.showConsoleProgress": "false"},
                )
                self.jvm_proc = self.spark.sparkContext._gateway.proc
            cfg = datagen.GenConfig(n_rows=self.n_clips, seed=self.args.seed)
            data = f"{self.work}/data"
            with tr.span("datagen"):
                datagen.write_clips(self.spark, data, cfg)
            with tr.span("golden"):
                self.golden = datagen.golden_violations(cfg)
            self.clips = self.spark.read.parquet(f"{data}/clips")
            self.refs = self.spark.read.parquet(f"{data}/transcript_refs")
            self.rows_by_part = {
                r["part"]: r["count"] for r in self.clips.groupBy("part").count().collect()
            }
            if self.wl.reopen:
                self.engine = self.make_engine(f"{self.work}/out")
                with tr.span("engine.initial_run"):
                    verdicts = self.engine.run(self.clips, self.refs, resume=False, run_id="initial")
                self.check(self.engine, verdicts, set(self.rows_by_part))
        self.setup_s = time.perf_counter() - t0
        self.watch.poll()

    def make_engine(self, out_dir: str):
        from nadeefiler_spark.engine import ValidationEngine
        from nadeefiler_spark.presets import default_clip_rules
        from nadeefiler_spark.profiler import default_clips_config

        # reopen: one compaction per resumed run (4 stage commits onto a
        # 1-file manifest), so every operation covers a full cycle
        compact = 4 if self.wl.reopen else 64
        return ValidationEngine(
            self.spark, out_dir,
            rules=default_clip_rules(with_drift=True),
            profile_cfg=default_clips_config(),
            manifest_compact_files=compact,
        )

    # --- the timed operation ----------------------------------------------
    def operation(self, k: int, traced: bool) -> dict:
        tr = self.tracer
        was = tr.enabled
        tr.enabled = traced
        op_id = f"op{k}"
        if self.wl.reopen:
            eng = self.engine
            parts = {REOPEN_PART}
        else:
            eng = self.make_engine(f"{self.work}/out{k}")
            parts = set(self.rows_by_part)
        rec = {"op": k, "traced": traced}
        before = probes.cpu_ticks()
        t0 = time.perf_counter()
        try:
            try:
                with tr.span("op", op_id):
                    if self.wl.reopen:
                        with self.traced("engine.invalidate"):
                            eng.invalidate([REOPEN_PART], stages=STAGES)
                    with self.traced("engine.run"):
                        verdicts = eng.run(self.clips, self.refs, resume=self.wl.reopen, run_id=op_id)
            finally:
                rec["wall_s"] = time.perf_counter() - t0
                tr.enabled = was
                rec.update(probes.host_stamp(before))
            rec["stage_s"] = self.check(eng, verdicts, parts)
            rec["ok"] = True
        except Exception as e:  # a failed operation is counted, and the run goes on
            rec["ok"] = False
            self.errors.append(f"op{k}: {type(e).__name__}: {str(e)[:300]}")
        rec["codegen_fallbacks"] = self.watch.poll()
        if self.args.trace:
            rec["out_files"], rec["out_mb"] = walk(eng.out_dir)
        if not self.wl.reopen:
            self.last_out = eng.out_dir
            prev = f"{self.work}/out{k - 1}"
            if os.path.isdir(prev):
                shutil.rmtree(prev)
        self.records.append(rec)
        print(json.dumps({"record": rec}), flush=True)
        return rec

    def check(self, eng, verdicts, parts: set[str]) -> dict:
        """Compare one run's output with the golden sets; returns the
        manifest's per-stage walls (seconds) for this run."""
        rows = verdicts.collect()
        got_units = {(r["part"], r["stage"]) for r in rows}
        want_units = {(p, s) for p in parts for s in STAGES}
        if got_units != want_units:
            raise OutputMismatch(f"verdict units {sorted(got_units ^ want_units)[:6]} differ")
        n_rows = sum(r["n_rows"] for r in rows if r["stage"] == "profile")
        if n_rows != sum(self.rows_by_part[p] for p in parts):
            raise OutputMismatch(f"profile counted {n_rows} rows")
        viol = eng.violations().select("rule", "clip_id", "part", "detail").toPandas()
        for rule in GOLDEN_RULES:
            got = set(viol.loc[viol["rule"] == rule, "clip_id"])
            if got != self.golden[rule]:
                raise OutputMismatch(
                    f"{rule}: {len(got - self.golden[rule])} extra, "
                    f"{len(self.golden[rule] - got)} missing"
                )
        # every run rewrites the same rows: a lost or duplicated row of any
        # rule, the partition-level distribution_drift rows included, shows
        got_rows = Counter(viol.itertuples(index=False, name=None))
        if self.viol_ref is None:
            self.viol_ref = got_rows
        elif got_rows != self.viol_ref:
            diff = (got_rows - self.viol_ref) + (self.viol_ref - got_rows)
            raise OutputMismatch(f"violation rows changed between runs: {sorted({r[0] for r in diff})}")
        return {r["stage"]: r["wall_ms"] / 1000 for r in rows}

    def measure(self) -> None:
        """The first operation, then MIN_WARM untraced warm ones, going on
        until --seconds have passed. Under --trace 1 a traced operation
        runs between each two untraced ones, so the JVM still warming
        biases the overhead less; it still reads slightly negative on a
        4-vCPU host, because the first warm operation is the slowest."""
        self.operation(0, traced=False)
        need = 2 * MIN_WARM - 1 if self.args.trace else MIN_WARM
        t0 = time.perf_counter()
        k = 1
        while k <= need or time.perf_counter() - t0 < self.args.seconds:
            self.operation(k, traced=bool(self.args.trace) and k % 2 == 0)
            k += 1

    # --- traced per-layer calls ---------------------------------------------
    def layers(self) -> None:
        from pyspark.sql import functions as F

        from nadeefiler_spark import profiler as prof
        from nadeefiler_spark.drift import DriftRule
        from nadeefiler_spark.engine import MANIFEST_SCHEMA
        from nadeefiler_spark.presets import default_clip_rules
        from nadeefiler_spark.rules.audio_rules import decode_facts
        from nadeefiler_spark.rules.base import RuleContext
        from nadeefiler_spark.tableio import ParquetDirIO

        def noop(df) -> None:
            df.write.format("noop").mode("overwrite").save()

        def identity(batches):
            yield from batches

        clips, refs = self.clips, self.refs
        eng = self.engine if self.wl.reopen else self.make_engine(self.last_out)
        cfg = prof.default_clips_config()
        self.tracer.enabled = True
        with self.tracer.span("layers", "layers"):
            with self.traced("scan"):
                noop(clips)
            with self.traced("decode.snr"):
                noop(decode_facts(clips, with_snr=True))
            with self.traced("decode.nosnr"):
                noop(decode_facts(clips, with_snr=False))
            six = clips.select(*DECODE_COLS)
            with self.traced("decode.arrow_floor"):
                noop(six.mapInPandas(identity, six.schema))
            with self.traced("profile.summary"):
                noop(prof.profile_summary(clips, cfg))
            with self.traced("profile.hist"):
                noop(prof.profile_histograms(clips, cfg))

            ctx = RuleContext(
                spark=self.spark, clips=clips, refs=refs,
                profile_summary=eng.profile_summary(), profile_hist=eng.profile_hist(),
            )
            rules = {r.name: r for r in default_clip_rules(with_drift=False)}
            for name in CONSTRAINT_RULES:
                with self.traced(f"rule.{name}"):
                    got = {r["clip_id"] for r in rules[name].violations(ctx).select("clip_id").collect()}
                if got != self.golden[name]:
                    self.errors.append(f"layer rule.{name}: output differs from golden")
            with self.traced("rule.distribution_drift"):
                drift = DriftRule(exclude_keys=("codec",)).violations(ctx).select("part", "detail").collect()
            want = Counter(r[2:] for r in self.viol_ref.elements() if r[0] == "distribution_drift")
            if Counter(map(tuple, drift)) != want:
                self.errors.append("layer rule.distribution_drift: rows differ from the engine's")

            io = ParquetDirIO(self.spark, f"{self.work}/tableio")
            parts = sorted(self.rows_by_part)
            viol = self.spark.read.parquet(f"{eng.out_dir}/violations/stage=constraints")
            with self.tracer.span("tableio"):
                with self.traced("tableio.replace"):
                    io.replace_partitions(viol, "violations", "part", parts, fixed={"stage": "constraints"})
                for i in range(TABLEIO_APPENDS):
                    commit = self.spark.sql(
                        f"SELECT 'layers' AS run_id, '{parts[i % len(parts)]}' AS part, "
                        "'constraints' AS stage, current_timestamp() AS completed_at, "
                        f"CAST({i} AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS n_violations, "
                        "CAST(0 AS BIGINT) AS wall_ms"
                    )
                    with self.traced("tableio.append"):
                        io.append(commit, "manifest", coalesce=1)
                with self.traced("tableio.compact"):
                    io.compact("manifest", TABLEIO_APPENDS - 2, MANIFEST_SCHEMA)
                with self.traced("tableio.read_manifest"):
                    n = io.read("manifest", MANIFEST_SCHEMA).where(F.col("run_id") == "layers").count()
            if n != TABLEIO_APPENDS:
                self.errors.append(f"layer tableio: manifest holds {n} of {TABLEIO_APPENDS} commits")
            if not self.wl.reopen:
                with self.traced("engine.invalidate"):
                    eng.invalidate([REOPEN_PART], stages=STAGES)
        self.watch.poll()

    # --- results ------------------------------------------------------------
    def warm_walls(self, traced: bool) -> list[float]:
        return [r["wall_s"] for r in self.records[1:] if r["ok"] and r["traced"] == traced]

    def end_to_end(self, peak_rss_mb: float) -> dict:
        wall = median(self.warm_walls(False))
        n = self.rows_by_part[REOPEN_PART] if self.wl.reopen else self.n_clips
        values = {
            "wall_s": wall,
            "clips_per_s": n / wall if wall else 0.0,
            "first_wall_s": self.records[0]["wall_s"],
            "setup_s": self.setup_s,
            "peak_rss_mb": peak_rss_mb,
        }
        return {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}

    def per_layer(self) -> dict:
        m: dict[str, tuple[float, str]] = {}
        js = self.job_stats

        def med(name, key):
            return median([s[key] for s in js.get(name, [])])

        runs = js.get("engine.run", [])
        cores = self.host["cpus"]
        m["engine.jobs"] = (med("engine.run", "jobs"), "count")
        m["engine.tasks"] = (med("engine.run", "tasks"), "count")
        m["engine.idle_core_frac"] = (
            median([1 - s["task_run_s"] / (s["wall_s"] * cores) for s in runs]), "ratio")
        for key, unit in (("task_run_s", "s"), ("task_cpu_s", "s"), ("gc_s", "s"),
                          ("input_rows", "count"), ("shuffle_mb", "MB"), ("spill_mb", "MB")):
            m[f"engine.{key}"] = (med("engine.run", key), unit)
        traced_ops = [r for r in self.records if r["traced"] and r["ok"]]
        for stage in STAGES:
            m[f"engine.stage_s.{stage}"] = (median([r["stage_s"][stage] for r in traced_ops]), "s")
        m["engine.invalidate_s"] = (med("engine.invalidate", "wall_s"), "s")
        m["engine.invalidate_jobs"] = (med("engine.invalidate", "jobs"), "count")

        for name, metric in (("decode.snr", "decode.s"), ("decode.nosnr", "decode.nosnr_s"),
                             ("decode.arrow_floor", "decode.arrow_floor_s"),
                             ("profile.summary", "profile.summary_s"), ("profile.hist", "profile.hist_s"),
                             ("scan", "scan.s")):
            m[metric] = (med(name, "wall_s"), "s")
        m["decode.clips_per_s"] = (self.n_clips / med("decode.snr", "wall_s"), "1/s")
        for rule in (*CONSTRAINT_RULES, "distribution_drift"):
            m[f"rule.{rule}_s"] = (med(f"rule.{rule}", "wall_s"), "s")
            m[f"rule.{rule}_jobs"] = (med(f"rule.{rule}", "jobs"), "count")
        for op in ("replace", "append", "compact", "read_manifest"):
            m[f"tableio.{op}_s"] = (med(f"tableio.{op}", "wall_s"), "s")
        m["tableio.out_files"] = (median([r["out_files"] for r in self.records]), "count")
        m["tableio.out_mb"] = (median([r["out_mb"] for r in self.records]), "MB")

        for name, metric in (("session.start", "session.start_s"), ("datagen", "datagen.s"),
                             ("golden", "golden.s")):
            m[metric] = (median(self.tracer.durations(name)), "s")
        for name, t in self.tracer.self_times().items():
            m[f"self_s.{name}"] = (t, "s")

        m["trace.overhead_s"] = (median(self.warm_walls(True)) - median(self.warm_walls(False)), "s")
        m["codegen.fallbacks"] = (self.watch.fallbacks, "count")
        m["host.loadavg1"] = (median([r["loadavg1"] for r in self.records]), "load")
        m["host.steal_frac"] = (median([r["steal_frac"] for r in self.records]), "ratio")
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}

    def close(self) -> None:
        """Stop Spark and wait until the JVM and its Python workers exit."""
        if self.spark is None:
            return
        tree = probes.process_tree(self.jvm_proc.pid)
        try:
            self.spark.stop()
            self.spark.sparkContext._gateway.shutdown()
        finally:
            self.jvm_proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                self.jvm_proc.wait(timeout=60)
            except Exception:
                self.jvm_proc.kill()
                self.jvm_proc.wait()
            deadline = time.monotonic() + 30
            alive = [p for p in tree if os.path.exists(f"/proc/{p}")]
            while alive and time.monotonic() < deadline:
                time.sleep(0.1)
                alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
            for pid in alive:
                os.kill(pid, 9)


def walk(path: str) -> tuple[int, float]:
    """(#data files, MB) under an output dir, skipping checksums and markers."""
    n, size = 0, 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue
            n += 1
            size += os.path.getsize(os.path.join(root, f))
    return n, size / probes.MB


def source_digest(root: str) -> str:
    """sha256 of the engine's and the benchmark's Python sources, so runs
    of different code in the same working tree are told apart."""
    h = hashlib.sha256()
    for pkg in ("nadeefiler_spark", "perfbench"):
        for dirpath, dirs, files in os.walk(os.path.join(root, pkg)):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    path = os.path.join(dirpath, f)
                    h.update(os.path.relpath(path, root).encode())
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def record_history(results_dir: str, source: str, workload: str, n_clips: int,
                   wall_s: float) -> dict | None:
    """Append this run's wall to the checkout's history and return the
    two-size fit (fixed cost, marginal throughput) from the fixed_4k and
    bulk_32k medians of runs of the same ``source`` once both exist."""
    path = f"{results_dir}/history.jsonl"
    with open(path, "a") as fh:
        fh.write(json.dumps({"source": source, "workload": workload, "n_clips": n_clips,
                             "wall_s": wall_s}) + "\n")
    walls: dict[tuple[str, int], list[float]] = {}
    with open(path) as fh:
        for line in fh:
            r = json.loads(line)
            if r.get("source") == source:
                walls.setdefault((r["workload"], r["n_clips"]), []).append(r["wall_s"])
    small = [(n, median(w)) for (name, n), w in walls.items() if name == "fixed_4k"]
    large = [(n, median(w)) for (name, n), w in walls.items() if name == "bulk_32k"]
    if not small or not large:
        return None
    (n_s, w_s), (n_l, w_l) = max(small), max(large)
    if w_l <= w_s:
        return None
    marginal = (n_l - n_s) / (w_l - w_s)
    return {"fixed_s": w_s - n_s / marginal, "marginal_clips_per_s": marginal,
            "from": {"fixed_4k": w_s, "bulk_32k": w_l}}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--clips", type=int, default=0, help="override the workload's clip count (smoke tests)")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "nadeefiler_spark", "__init__.py")):
        print("perfbench: run from a checkout root that holds nadeefiler_spark/", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    host = probes.fit_host()
    work = os.path.join(root, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    results_dir = os.path.join(root, ".bench_results")
    os.makedirs(f"{work}/tmp", exist_ok=True)
    os.makedirs(results_dir, exist_ok=True)
    # keep every file Spark, the JVM and pyspark write inside the checkout
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    os.environ["SPARK_GRAFT_JVM_EXTRA"] = f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.chdir(work)

    watch = probes.CodegenWatch(f"{work}/stderr.log")
    bench = Bench(args, host, work, watch)
    try:
        bench.setup()
        with probes.RssSampler(bench.jvm_proc.pid) as rss:
            bench.measure()
        if args.trace:
            bench.layers()
            metrics = bench.per_layer()
        else:
            metrics = bench.end_to_end(rss.peak_mb)
        bench.peak_rss = rss.peak_detail
    except Exception:
        tail = watch.tail()
        watch.restore()
        watch = None
        traceback.print_exc()
        print(f"--- JVM stderr tail ---\n{tail}", file=sys.stderr)
        return 1
    finally:
        try:
            bench.close()
        finally:
            if watch is not None:
                watch.restore()
            os.chdir(root)
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass

    attempted = len(bench.records) + (len(CONSTRAINT_RULES) + 2 if args.trace else 0)
    failed = len(bench.errors)
    summary = {
        "workload": args.workload, "seed": args.seed, "n_clips": bench.n_clips,
        "host": host, "ops": len(bench.records),
        "wall_samples": len(bench.warm_walls(False)),
        "failed_frac": failed / attempted, "errors": bench.errors,
        "codegen_fallbacks": bench.watch.fallbacks,
        "peak_rss": bench.peak_rss,
    }
    print(json.dumps({"summary": summary}))
    if args.trace:
        with open(f"{results_dir}/spans-{args.workload}-{args.seed}.json", "w") as fh:
            json.dump(bench.tracer.dump(), fh)
    elif not failed and not args.clips:
        fit = record_history(results_dir, source_digest(root), args.workload, bench.n_clips,
                             metrics["wall_s"]["value"])
        if fit:
            print(json.dumps({"fit": fit}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
