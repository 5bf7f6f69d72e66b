"""REAL multi-JVM scaling evidence: Spark standalone cluster, N vs 4N
executors (north_rule: throughput scaling efficiency >= 0.8).

Round 1 evidenced scaling with local[8] vs local[32] and a 4-process
emulation; this script stands up an actual standalone cluster on the
sandbox host — a master daemon plus K worker daemons (K = 1 then 4),
each worker capped at SPARK_WORKER_CORES=8 and hosting ONE 8-core
executor JVM (-XX:ActiveProcessorCount=8 so GC/JIT pools size to the
executor's share, not the host's 32 cores) — and runs the IDENTICAL
engine job via spark-submit --py-files at both cluster sizes.

What a single host CANNOT reproduce: 4 workers here share ONE memory
bus, ONE page cache, and ONE OS. A real 4N cluster multiplies those
resources along with the cores; the measured efficiency on this box is
therefore a FLOOR (see BENCH/BASELINE.md's layered analysis — the
memory-streaming decode saturates the bus at ~10-12 cores).

Usage:
  python scripts/standalone_cluster_bench.py [n_clips] [trials] [dur_min_ms] [dur_max_ms]
Prints one JSON line; detailed logs under /tmp/ndf_cluster_*.

Env knobs (round-3 allocation-bottleneck A/B — the membw probe
fingerprinted concurrent large transient allocation, i.e. kernel
page-zeroing/mmap churn, as the only layer that collapses on this
shared-kernel host; these are the public JVM levers aimed at exactly
that):
  NDF_EXEC_JVM_EXTRA  extra executor JVM options appended to the
                      default set, e.g. "-Xms18g -XX:+AlwaysPreTouch
                      -XX:+UseTransparentHugePages"
  NDF_EXTRA_CONF      extra spark confs, ';'-separated k=v, e.g.
                      "spark.memory.offHeap.enabled=true;spark.memory.offHeap.size=6g"
  NDF_KS              comma-separated worker counts (default "1,4");
                      a single value (e.g. "4") runs one topology for
                      cheap variant sweeps
  NDF_DATA_DIR        reuse a pre-generated clips dir (skips datagen and
                      the per-variant regeneration noise)
  NDF_KEEP_DATA       "1": don't delete the generated data dir on exit
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_HOME = os.environ.get("SPARK_HOME", "/opt/spark")
MASTER_URL = "spark://127.0.0.1:7077"
# NDF_WORKER_CORES sizes each worker/executor. 8 (default) saturates the
# host's memory bus at 4 workers (32 cores); 4 keeps 1->4 executors at
# 4->16 cores, under the measured ~10-12-core membw saturation point —
# isolating executor-scaling behavior from the single-host bus ceiling.
WORKER_CORES = int(os.environ.get("NDF_WORKER_CORES", "8"))
WORKER_MEM = "26g"
# NDF_EXEC_MEM right-sizes the heap (e.g. "12g") so -XX:+AlwaysPreTouch
# variants don't pin 4x18g of always-resident heap on the shared host
EXECUTOR_MEM = os.environ.get("NDF_EXEC_MEM", "18g")


def _daemon(action: str, klass: str, instance: int, *args: str, env=None) -> None:
    subprocess.run(
        [f"{SPARK_HOME}/sbin/spark-daemon.sh", action, klass, str(instance), *args],
        check=(action == "start"), env=env,
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
    )


def start_master(env) -> None:
    _daemon("start", "org.apache.spark.deploy.master.Master", 1,
            "--host", "127.0.0.1", "--port", "7077", "--webui-port", "8080",
            env=env)


def stop_master(env) -> None:
    _daemon("stop", "org.apache.spark.deploy.master.Master", 1, env=env)


def start_workers(k: int, env, work_root: str) -> None:
    for i in range(1, k + 1):
        wenv = dict(env)
        wenv["SPARK_WORKER_DIR"] = f"{work_root}/worker{i}"
        # ActiveProcessorCount on the WORKER daemon is inherited into the
        # executor launch command environment sizing; the executor JVM
        # itself gets it via spark.executor.defaultJavaOptions below
        _daemon("start", "org.apache.spark.deploy.worker.Worker", i,
                "--cores", str(WORKER_CORES), "--memory", WORKER_MEM,
                "--port", str(40000 + i), "--webui-port", str(8081 + i),
                MASTER_URL, env=wenv)


def stop_workers(k: int, env) -> None:
    for i in range(1, k + 1):
        _daemon("stop", "org.apache.spark.deploy.worker.Worker", i, env=env)


CHILD = """
import json, sys, tempfile, time
from pyspark.sql import SparkSession

data_dir, n_clips, trials = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
from nadeefiler_spark.session import get_spark
spark = get_spark(app_name="cluster_bench")  # SPARK_GRAFT_MASTER=external
sc = spark.sparkContext
clips = spark.read.parquet(f"{data_dir}/clips")
refs = spark.read.parquet(f"{data_dir}/transcript_refs")

from nadeefiler_spark.engine import ValidationEngine
from nadeefiler_spark.presets import default_clip_rules
from nadeefiler_spark.profiler import default_clips_config
from nadeefiler_spark.rules.audio_rules import decode_facts

# getExecutorInfos includes a driver entry in client mode
n_exec = max(1, len(sc._jsc.sc().statusTracker().getExecutorInfos()) - 1)

for _ in range(2):  # warm JIT/GC/python workers/page cache
    warm = tempfile.mkdtemp(prefix="cl_warm_")
    ValidationEngine(spark, warm, rules=default_clip_rules(with_drift=True),
                     profile_cfg=default_clips_config()).run(clips, refs=refs, resume=False)

dec = []
for _ in range(trials):
    t0 = time.monotonic()
    decode_facts(clips).write.format("noop").mode("overwrite").save()
    dec.append(time.monotonic() - t0)

walls = []
stage_ms = {}
for _ in range(trials):
    out = tempfile.mkdtemp(prefix="cl_out_")
    eng = ValidationEngine(spark, out, rules=default_clip_rules(with_drift=True),
                           profile_cfg=default_clips_config())
    t0 = time.monotonic()
    eng.run(clips, refs=refs, resume=False)
    walls.append(time.monotonic() - t0)
    # per-stage wall from the manifest (one value per stage per run —
    # identifies WHICH stage eats the scaling loss; concurrent stages
    # overlap, so these sum to more than the trial wall)
    for r in eng.manifest().select("stage", "wall_ms").distinct().collect():
        stage_ms.setdefault(r["stage"], []).append(int(r["wall_ms"]))

wall = sorted(walls)[len(walls) // 2]
dwall = sorted(dec)[len(dec) // 2]
print("RESULT " + json.dumps({
    "executors": n_exec, "wall_s": round(wall, 3),
    "clips_per_sec": round(n_clips / wall, 1),
    "trials_s": [round(w, 3) for w in walls],
    "decode_wall_s": round(dwall, 3),
    "decode_clips_per_sec": round(n_clips / dwall, 1),
    "decode_trials_s": [round(w, 3) for w in dec],
    "stage_wall_ms": {k: sorted(v) for k, v in sorted(stage_ms.items())},
    "master": sc.master}))
"""


def submit(k: int, data_dir: str, n_clips: int, trials: int, env, log: str) -> dict:
    pyzip = subprocess.run(
        [sys.executable, "-c",
         f"import sys; sys.path.insert(0, {REPO!r}); "
         "from nadeefiler_spark.session import package_zip; print(package_zip())"],
        capture_output=True, text=True, check=True,
    ).stdout.strip().splitlines()[-1]
    child = os.path.join(tempfile.gettempdir(), "ndf_cluster_child.py")
    with open(child, "w") as f:
        f.write(CHILD)
    senv = dict(env)
    senv["SPARK_GRAFT_MASTER"] = "external"
    exec_jvm = ("-XX:+UseG1GC -XX:G1HeapRegionSize=32m "
                f"-XX:ActiveProcessorCount={WORKER_CORES} "
                + os.environ.get("NDF_EXEC_JVM_EXTRA", "")).strip()
    extra_conf: list[str] = []
    for kv in os.environ.get("NDF_EXTRA_CONF", "").split(";"):
        if kv.strip():
            extra_conf += ["--conf", kv.strip()]
    cmd = [
        f"{SPARK_HOME}/bin/spark-submit",
        "--master", MASTER_URL,
        "--deploy-mode", "client",
        "--py-files", pyzip,
        "--driver-memory", "8g",
        "--driver-java-options", "-XX:+UseG1GC -XX:G1HeapRegionSize=32m",
        "--conf", f"spark.executor.cores={WORKER_CORES}",
        "--conf", f"spark.executor.memory={EXECUTOR_MEM}",
        "--conf", f"spark.cores.max={k * WORKER_CORES}",
        "--conf", f"spark.executor.defaultJavaOptions={exec_jvm}",
        "--conf", f"spark.pyspark.python={sys.executable}",
        "--conf", f"spark.sql.shuffle.partitions={k * WORKER_CORES * 2}",
        "--conf", f"spark.default.parallelism={k * WORKER_CORES * 2}",
        *extra_conf,
        child, data_dir, str(n_clips), str(trials),
    ]
    with open(log, "w") as lf:
        p = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT,
                           text=True, env=senv)
    out = open(log).read()
    if p.returncode != 0:
        raise RuntimeError(f"spark-submit failed (see {log}):\n{out[-3000:]}")
    for line in out.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(f"no RESULT in {log}")


def gen_data(n_clips: int, dur_min_ms: int, dur_max_ms: int) -> str:
    """Generate a clips corpus in a fresh temp dir (child process, so the
    generator's local session never shares a JVM with the cluster)."""
    data_dir = tempfile.mkdtemp(prefix="scale_data_")
    code = (
        f"import sys; sys.path.insert(0, {REPO!r})\n"
        "from nadeefiler_spark.session import get_spark\n"
        "from nadeefiler_spark import datagen\n"
        f"spark = get_spark(app_name='gen', parallelism=32)\n"
        f"datagen.write_clips(spark, {data_dir!r}, datagen.GenConfig("
        f"n_rows={n_clips}, dur_min_ms={dur_min_ms}, dur_max_ms={dur_max_ms}))\n"
    )
    subprocess.run([sys.executable, "-c", code], check=True,
                   stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    return data_dir


def main() -> None:
    n_clips = int(sys.argv[1]) if len(sys.argv) > 1 else 96000
    trials = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    dur_min = int(sys.argv[3]) if len(sys.argv) > 3 else 1000
    dur_max = int(sys.argv[4]) if len(sys.argv) > 4 else 6000

    ks = [int(x) for x in os.environ.get("NDF_KS", "1,4").split(",") if x.strip()]
    data_dir = os.environ.get("NDF_DATA_DIR", "")
    own_data = not data_dir
    if own_data:
        print(f"generating {n_clips} clips ...", file=sys.stderr)
        data_dir = gen_data(n_clips, dur_min, dur_max)

    work_root = tempfile.mkdtemp(prefix="ndf_cluster_")
    env = dict(os.environ)
    env.update({
        "SPARK_HOME": SPARK_HOME,
        "SPARK_LOG_DIR": f"{work_root}/logs",
        "SPARK_PID_DIR": f"{work_root}/pids",
        "SPARK_MASTER_HOST": "127.0.0.1",
        "SPARK_IDENT_STRING": "ndfbench",
        "PYSPARK_PYTHON": sys.executable,
    })

    results = {}
    try:
        start_master(env)
        time.sleep(4)
        for k in ks:
            start_workers(k, env, work_root)
            time.sleep(5)
            print(f"running with {k} worker(s) x {WORKER_CORES} cores ...",
                  file=sys.stderr)
            results[k] = submit(k, data_dir, n_clips, trials, env,
                                f"{work_root}/submit_k{k}.log")
            stop_workers(k, env)
            time.sleep(2)
    finally:
        stop_workers(max(ks), env)
        stop_master(env)
        if own_data and os.environ.get("NDF_KEEP_DATA", "") != "1":
            shutil.rmtree(data_dir, ignore_errors=True)

    out = {
        "n_clips": n_clips, "dur_ms": [dur_min, dur_max],
        "worker_cores": WORKER_CORES,
        "exec_jvm_extra": os.environ.get("NDF_EXEC_JVM_EXTRA", ""),
        "extra_conf": os.environ.get("NDF_EXTRA_CONF", ""),
        **{f"exec{k}": results[k] for k in ks},
        "work_root": work_root,
    }
    if 1 in results and 4 in results:
        out["scaling_efficiency_N_to_4N"] = round(
            (results[4]["clips_per_sec"] / results[1]["clips_per_sec"]) / 4.0, 3)
        out["decode_scaling_efficiency_N_to_4N"] = round(
            (results[4]["decode_clips_per_sec"]
             / results[1]["decode_clips_per_sec"]) / 4.0, 3)
    print(json.dumps(out, indent=2))


if __name__ == "__main__":
    main()
