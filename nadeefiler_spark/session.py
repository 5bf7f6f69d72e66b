"""SparkSession factory tuned for the validation engine.

Local-mode knobs are sized for the sandbox (local[N], single JVM); on a
real cluster the same builder works with ``--master yarn/k8s`` via
``spark-submit --py-files`` (BASELINE.json north_rule). AQE is on so
skewed codec/duration partitions get runtime re-planned
(skew-join split + partition coalescing); Arrow is on for the pandas-UDF
audio rules.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


def _sources(pkg_dir: str) -> list[tuple[str, str]]:
    """(path, archive name) of every ``.py`` file under ``pkg_dir``,
    sorted by archive name."""
    out = []
    for root, _dirs, files in os.walk(pkg_dir):
        if "__pycache__" in root:
            continue
        for f in files:
            if f.endswith(".py"):
                full = os.path.join(root, f)
                out.append((full, os.path.relpath(full, os.path.dirname(pkg_dir))))
    return sorted(out, key=lambda s: s[1])


def _zip_path(sources: list[tuple[str, str]]) -> str:
    """``$TMPDIR`` zip path keyed by a digest of the sources' names and
    bytes: checkouts with different sources never share a zip."""
    h = hashlib.sha256()
    for full, rel in sources:
        with open(full, "rb") as f:
            h.update(rel.encode() + b"\0" + f.read() + b"\0")
    name = f"nadeefiler_spark_pyfiles-{h.hexdigest()[:16]}.zip"
    return os.path.join(tempfile.gettempdir(), name)


def package_zip() -> str:
    """Zip this package for executor shipping (the --py-files artifact).

    On a real cluster the job is launched with
    ``spark-submit --py-files nadeefiler_spark.zip job.py`` (north_rule);
    locally we build the same artifact and ``addPyFile`` it so pandas-UDF
    workers can import the package regardless of driver cwd.
    """
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    if not os.path.isdir(pkg_dir):
        # imported from a zip (spark-submit --py-files): the package IS
        # the artifact — walking the zipimport path would silently
        # produce an empty zip and clobber the real one
        zip_path = pkg_dir
        while zip_path and not os.path.isfile(zip_path):
            zip_path = os.path.dirname(zip_path)
        return zip_path
    sources = _sources(pkg_dir)
    out = _zip_path(sources)
    if os.path.isfile(out):  # same digest: same bytes (fixed entry dates)
        return out
    tmp = f"{out}.{os.getpid()}.tmp"  # per process: concurrent builders never share it
    with zipfile.ZipFile(tmp, "w") as zf:
        for full, rel in sources:
            with open(full, "rb") as f:
                zf.writestr(zipfile.ZipInfo(rel, date_time=(1980, 1, 1, 0, 0, 0)), f.read())
    os.replace(tmp, out)  # atomic: concurrent sessions never see a partial zip
    return out


def _driver_mem() -> str:
    """Driver heap: ``$SPARK_GRAFT_DRIVER_MEM`` when set, otherwise
    min(24g, 55% of physical RAM).

    A fixed 24g default overcommits small hosts: on a 15 GB machine with
    no swap the kernel OOM-kills the driver JVM partway through a long
    session. 55% leaves room for the Python workers and the page cache.
    """
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    except (ValueError, OSError, AttributeError):  # no sysconf: keep 24g
        return "24g"
    return f"{min(24 * 1024, int(phys_mb * 0.55))}m"


def _pretouch_opts() -> str:
    """Opt-in allocation-stability JVM options (SPARK_GRAFT_PRETOUCH=1).

    Round-3 cluster A/B (BENCH/BASELINE.md): `-Xms=<heap>
    -XX:+AlwaysPreTouch -XX:+UseTransparentHugePages` eliminated the
    catastrophic 3-20x slow trials on the shared-kernel host by moving
    heap page-zeroing out of steady state — the exact mechanism the
    round-2 membw probe isolated. Off by default locally because
    pre-touching a multi-GB driver heap costs seconds of startup per
    SparkSession (wrong trade for short-lived test sessions); turn it on
    for long-running local jobs. Cluster executors get the equivalent
    via spark.executor.defaultJavaOptions at submit time (see
    scripts/standalone_cluster_bench.py's V4 configuration).
    """
    if os.environ.get("SPARK_GRAFT_PRETOUCH", "") != "1":
        return ""
    return f"-Xms{_driver_mem()} -XX:+AlwaysPreTouch -XX:+UseTransparentHugePages "


def get_spark(
    app_name: str = "nadeefiler_spark",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    parallelism: local core count (``local[N]``). Defaults to
    ``$SPARK_GRAFT_CPUS`` or all cores. On a cluster this arg is ignored
    by spark-submit (master comes from the submit command).
    """
    cpus = parallelism or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    shuffle = shuffle_partitions or max(cpus * 2, 8)
    # SPARK_GRAFT_MASTER=external -> leave the master to spark-submit
    # (standalone/yarn/k8s clusters); any other value is used verbatim
    # (e.g. spark://host:7077); unset -> local[cpus] sandbox default
    master_env = os.environ.get("SPARK_GRAFT_MASTER", "")
    builder = SparkSession.builder
    if master_env != "external":
        builder = builder.master(master_env or f"local[{cpus}]")
    builder = (
        builder
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # small Arrow batches: decode workers stream ~200KB-2MB/clip of
        # binary; 64-clip batches (~20MB) keep per-worker working sets
        # cache-friendly — 2048-clip batches (~400MB) measurably thrash
        # at 32 workers (2.5x core-second inflation)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
        # vectorized parquet reader batches 4096 rows by default — with
        # multi-100KB binary audio cells that is >1 GB of column batch
        # per task and OOMs container-sized heaps; 256 rows ≈ 75MB
        .config("spark.sql.parquet.columnarReaderBatchSize", "256")
        # multi-MB binary cells allocate as G1 humongous objects; with the
        # default region size (heap/2048) every Arrow batch fragments the
        # heap and GC burns cores (measured: 32-core decode 29-67s ->
        # 11-18s with 32m regions). defaultJavaOptions prepends, so the
        # distribution's extraJavaOptions (--add-opens etc.) still apply.
        # SPARK_GRAFT_JVM_EXTRA lets a harness model container limits
        # (e.g. -XX:ActiveProcessorCount=8 for an 8-core executor — a
        # bare JVM sizes its GC/JIT thread pools off ALL host cores)
        .config("spark.driver.defaultJavaOptions",
                ("-XX:+UseG1GC -XX:G1HeapRegionSize=32m "
                 + _pretouch_opts()
                 + os.environ.get("SPARK_GRAFT_JVM_EXTRA", "")).strip())
        # idempotent per-partition overwrite (Iceberg overwritePartitions
        # analog for the sandbox parquet catalog)
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", _driver_mem())
    )
    if master_env != "external":
        # executors need the same G1 tuning (an executor JVM launches
        # AFTER these configs are read, so unlike the driver options this
        # applies even to a later-created context). Under spark-submit
        # (external master) the submitter owns this conf — setting it
        # here would CLOBBER e.g. -XX:ActiveProcessorCount passed via
        # --conf (builder configs win over submit-time properties).
        builder = builder.config(
            "spark.executor.defaultJavaOptions",
            "-XX:+UseG1GC -XX:G1HeapRegionSize=32m",
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Builder configs silently no-op when getOrCreate returns an
    # ALREADY-RUNNING session (and driver JVM options can never apply to
    # a JVM that spark-submit launched before Python ran). The G1
    # region-size fix above is load-bearing for binary audio columns —
    # surface the miss instead of silently running untuned. In cluster
    # deployments pass the equivalent via
    #   spark-submit --driver-java-options / spark.executor.defaultJavaOptions
    # (see scripts/standalone_cluster_bench.sh).
    want_jvm = "-XX:G1HeapRegionSize=32m"
    got_jvm = " ".join(
        spark.conf.get(k, "") or ""
        for k in ("spark.driver.defaultJavaOptions", "spark.driver.extraJavaOptions")
    )
    if want_jvm not in got_jvm:
        import warnings

        warnings.warn(
            "get_spark(): existing SparkSession/JVM does not carry the "
            f"requested driver JVM options ({want_jvm}); large-binary "
            "workloads may GC-thrash. When launching via spark-submit, "
            "pass --driver-java-options '-XX:+UseG1GC -XX:G1HeapRegionSize=32m' "
            "and spark.executor.defaultJavaOptions for executors.",
            RuntimeWarning,
            stacklevel=2,
        )
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addPyFile(package_zip())
    return spark
