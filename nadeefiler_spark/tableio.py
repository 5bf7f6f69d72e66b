"""Table IO backends: where the engine's output tables live.

The engine needs four operations: read a table, transactionally replace
a set of partitions (delete-before-write, the reference's per-task
``deleteMany`` + recompute, ``/root/reference/profilers/worker.js:97-100``),
append small commit batches, and compact a much-appended table.

Two backends:

- :class:`ParquetDirIO` — parquet directories under a base dir, with
  explicit partition-directory deletes + appends. No snapshot isolation:
  a reader racing a replace can see a partition mid-swap. This is the
  sandbox default (no Iceberg runtime jar ships in the container).
- :class:`IcebergTableIO` — Iceberg catalog tables; partition replace is
  a SINGLE ``writeTo().overwrite(condition)`` commit (atomic: delete +
  write in one snapshot), appends are table commits, so readers always
  see a consistent snapshot. Selected automatically by
  :func:`default_io` when a Spark catalog configured with an Iceberg
  implementation is present (spark.sql.catalog.<name> = ...iceberg...),
  with a per-out_dir namespace (:func:`namespace_for`).

Enabling Iceberg on a real cluster (public setup):
  spark-submit --packages org.apache.iceberg:iceberg-spark-runtime-3.5_2.12:<ver>
    --conf spark.sql.catalog.ndf=org.apache.iceberg.spark.SparkCatalog
    --conf spark.sql.catalog.ndf.type=hadoop
    --conf spark.sql.catalog.ndf.warehouse=hdfs://.../warehouse
then ``ValidationEngine(..., io=IcebergTableIO(spark, "ndf.db"))``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


def _hadoop_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath, hpath.getFileSystem(spark._jsc.hadoopConfiguration())


def _escape_part(spark: SparkSession, value) -> str:
    """Partition value -> directory-name form, using Spark's OWN escaping
    (ExternalCatalogUtils.escapePathName): a value like "it's" is written
    as ``part=it%27s``, so deleting the raw ``part=it's`` path would miss
    and a re-run would append duplicates."""
    return spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(
        str(value)
    )


def empty_frame(spark: SparkSession, schema: str) -> DataFrame:
    """An empty frame of DDL ``schema`` planned entirely in the JVM.

    ``createDataFrame([], schema)`` plans a Python RDD scan: collecting
    it starts a Python worker (0.5-0.75 s warm on a 4-vCPU host). Typed
    NULLs under a false filter optimize to an empty local relation, so
    a collect runs no job and a union drops the frame.
    ``StructType.fromDDL`` parses nested types."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    return spark.range(0).select(*[
        F.lit(None).cast(f.dataType).alias(f.name)
        for f in StructType.fromDDL(schema).fields
    ]).where(F.lit(False))


@dataclass
class ParquetDirIO:
    """Parquet-directory tables under ``base_dir`` (sandbox stand-in for
    Iceberg; identical layout to round-1's inline engine writes)."""

    spark: SparkSession
    base_dir: str

    def _path(self, table: str) -> str:
        return f"{self.base_dir}/{table}"

    def read(self, table: str, schema: str | None = None) -> DataFrame:
        """Read the table; empty DataFrame ONLY for table-doesn't-exist-yet.

        Corruption (garbage footer, half-written replace window) must
        PROPAGATE: an empty manifest silently re-runs everything and a
        verdicts query lies about history.
        """
        hpath, fs = _hadoop_path(self.spark, self._path(table))
        if not fs.exists(hpath):
            return empty_frame(self.spark, schema)
        r = self.spark.read
        if schema:
            r = r.schema(schema)
        return r.parquet(self._path(table))

    def replace_partitions(
        self,
        df: DataFrame,
        table: str,
        part_col: str,
        parts,
        fixed: dict[str, str] | None = None,
    ) -> None:
        """Delete-before-write for partitions ``parts`` of ``table``.

        ``fixed`` pins extra partition levels (e.g. stage=audio) — each
        fixed level gets its own directory root so concurrent writers of
        different stages never share a ``_temporary`` staging dir.
        ``df`` must carry ``part_col`` (NOT the fixed levels).
        """
        root = self._path(table)
        for k, v in (fixed or {}).items():
            root = f"{root}/{k}={_escape_part(self.spark, v)}"
        for p in parts:
            hpath, fs = _hadoop_path(
                self.spark, f"{root}/{part_col}={_escape_part(self.spark, p)}"
            )
            if fs.exists(hpath):
                fs.delete(hpath, True)
        df.write.mode("append").partitionBy(part_col).parquet(root)

    def append(self, df: DataFrame, table: str, coalesce: int | None = None) -> None:
        if coalesce:
            df = df.coalesce(coalesce)
        df.write.mode("append").parquet(self._path(table))

    def _swap_in(self, df: DataFrame, table: str,
                 partition_by: list[str] | None = None,
                 coalesce: int | None = None) -> None:
        """Write ``df`` to a sibling dir, then rename-swap it in.

        ``df`` may READ from ``table`` (the table is untouched until the
        sibling write has fully succeeded). Two renames instead of
        delete+rename: a crash mid-swap leaves the data recoverable in
        .bak/.compacting rather than destroying the table; the Iceberg
        backend makes this a snapshot commit with no window at all."""
        path = self._path(table)
        hpath, fs = _hadoop_path(self.spark, path)
        tmp, _ = _hadoop_path(self.spark, path + ".compacting")
        bak, _ = _hadoop_path(self.spark, path + ".bak")
        w = df.coalesce(coalesce) if coalesce else df
        writer = w.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(str(tmp))
        fs.delete(bak, True)
        fs.rename(hpath, bak)
        fs.rename(tmp, hpath)
        fs.delete(bak, True)

    def overwrite(self, df: DataFrame, table: str,
                  partition_by: list[str] | None = None) -> None:
        """Full-table replace via sibling write + rename swap; safe even
        when ``df`` is derived from the table itself (purge rewrites)."""
        self._swap_in(df, table, partition_by=partition_by)

    def delete_matching(self, table: str, condition_sql: str,
                        schema: str | None = None) -> int:
        """Delete rows matching a SQL predicate; returns rows removed.

        Parquet backend: read → filter → sibling-write + rename swap
        (same crash-recoverable mechanics as :meth:`compact`; safe for
        sketch-sized bookkeeping tables like the manifest, which is the
        intended use — invalidating completion rows so the engine
        re-runs specific (part, stage) units). The Iceberg backend is a
        single ``DELETE FROM`` commit with no swap window.
        """
        from pyspark.sql import functions as F

        df = self.read(table, schema)
        if df.isEmpty():
            return 0
        # NULL-predicate rows must be KEPT (and not counted as removed):
        # a bare ``~cond`` drops them silently because NULL fails both
        # cond and ~cond. coalesce(cond, false) pins NULL -> keep, and
        # the removed count is derived as total - kept so it agrees with
        # what the swap actually wrote.
        cond = F.coalesce(F.expr(condition_sql), F.lit(False))
        total = df.count()
        kept = df.where(~cond)
        removed = total - kept.count()
        if removed == 0:
            return 0
        self._swap_in(kept, table)
        return removed

    def compact(self, table: str, max_files: int, schema: str | None = None) -> None:
        """Rewrite the table as one file once its listing exceeds
        max_files (write-sibling + rename swap; see engine docstring for
        the race caveat the Iceberg backend removes)."""
        path = self._path(table)
        hpath, fs = _hadoop_path(self.spark, path)
        if not fs.exists(hpath):
            return
        n_files = sum(
            1 for st in fs.listStatus(hpath)
            if st.isFile() and not st.getPath().getName().startswith("_")
        )
        if n_files <= max_files:
            return
        r = self.spark.read
        if schema:
            r = r.schema(schema)
        self._swap_in(r.parquet(path), table, coalesce=1)


@dataclass
class IcebergTableIO:
    """Iceberg catalog tables: transactional replace + append.

    ``namespace`` is ``<catalog>.<database>``. Tables are created on
    first write (partitioned by the engine's partition column plus any
    fixed levels as ordinary partition columns — Iceberg handles
    concurrent stage writers transactionally, no per-stage roots
    needed).
    """

    spark: SparkSession
    namespace: str

    def _full(self, table: str) -> str:
        return f"{self.namespace}.{table}"

    def _exists(self, table: str) -> bool:
        try:
            return self.spark.catalog.tableExists(self._full(table))
        except Exception:
            return False

    def _ensure(self, df: DataFrame, table: str, partition_cols: list[str]) -> bool:
        """Create the table if missing; True when it already existed.

        Creation is IDEMPOTENT under concurrent stage threads (the
        engine's rule stages always overlap): two writers
        can both observe tableExists()==False; the loser of the create
        race catches already-exists and falls through to append.
        """
        if self._exists(table):
            return True
        writer = df.limit(0).writeTo(self._full(table)).using("iceberg")
        if partition_cols:
            from pyspark.sql import functions as F

            writer = writer.partitionedBy(*[F.col(c) for c in partition_cols])
        try:
            writer.create()
        except Exception as e:
            msg = str(e)
            if "ALREADY_EXISTS" in msg or "already exists" in msg.lower():
                return True
            raise
        return False

    def read(self, table: str, schema: str | None = None) -> DataFrame:
        try:
            return self.spark.table(self._full(table))
        except Exception as e:
            cond = getattr(
                e, "getCondition", getattr(e, "getErrorClass", lambda: None)
            )() or ""
            if "TABLE_OR_VIEW_NOT_FOUND" in cond or "cannot be found" in str(e):
                return empty_frame(self.spark, schema)
            raise

    def replace_partitions(
        self,
        df: DataFrame,
        table: str,
        part_col: str,
        parts,
        fixed: dict[str, str] | None = None,
    ) -> None:
        from pyspark.sql import functions as F

        for k, v in (fixed or {}).items():
            df = df.withColumn(k, F.lit(v))
        fixed_cols = list((fixed or {}).keys())
        existed = self._ensure(df, table, fixed_cols + [part_col])
        full = self._full(table)
        if existed:
            # SINGLE-COMMIT replace: writeTo().overwrite(condition)
            # atomically deletes every row matching the condition and
            # writes df in one Iceberg snapshot — no window where a
            # reader sees the partitions empty, no half-replaced state
            # after a crash. (overwritePartitions() would NOT clear a
            # partition whose new df has zero rows — e.g. a partition
            # whose violations all disappeared — so the explicit
            # condition form is required.)
            is_str = str(df.schema[part_col].dataType) in ("StringType", "StringType()")
            cond = F.col(part_col).isin(
                [str(p) for p in parts] if is_str else list(parts)
            )
            for k, v in (fixed or {}).items():
                cond = cond & (F.col(k) == F.lit(str(v)))
            df.writeTo(full).overwrite(cond)
        else:
            df.writeTo(full).append()

    def append(self, df: DataFrame, table: str, coalesce: int | None = None) -> None:
        if coalesce:
            df = df.coalesce(coalesce)
        self._ensure(df, table, [])
        df.writeTo(self._full(table)).append()

    def delete_matching(self, table: str, condition_sql: str,
                        schema: str | None = None) -> int:
        """Single-commit ``DELETE FROM`` of rows matching the predicate;
        returns rows removed.

        Atomicity caveat: the DELETE itself is one atomic Iceberg
        commit (no swap window), but the returned count comes from a
        separate read-then-delete — a concurrent writer committing
        matching rows between the count and the delete makes the COUNT
        stale even though the delete is correct. Exact counts under
        concurrency would need the delete snapshot's summary
        (``deleted-records``) via the catalog API; the engine only
        calls this from the single-writer job path, where the count is
        exact."""
        if not self._exists(table):
            return 0
        full = self._full(table)
        removed = self.spark.table(full).where(condition_sql).count()
        if removed:
            self.spark.sql(f"DELETE FROM {full} WHERE {condition_sql}")
        return removed

    def compact(self, table: str, max_files: int, schema: str | None = None) -> None:
        # Iceberg snapshots bound metadata growth; data-file compaction is
        # a maintenance procedure, not a correctness need:
        #   CALL <catalog>.system.rewrite_data_files(table => ...)
        pass


def iceberg_catalogs(spark: SparkSession) -> list[str]:
    """Names of configured Spark catalogs backed by Iceberg."""
    out = []
    for k, v in spark.sparkContext.getConf().getAll():
        if k.startswith("spark.sql.catalog.") and k.count(".") == 3 and "iceberg" in v:
            out.append(k.rsplit(".", 1)[1])
    return out


def namespace_for(base_dir: str, catalog: str) -> str:
    """Deterministic per-out_dir Iceberg namespace.

    Two ValidationEngine instances with different out_dirs MUST NOT share
    manifest/violations tables (a shared manifest makes resume skip the
    other engine's partitions), so the database name is derived from
    base_dir: a readable sanitized tail plus a short digest of the full
    path for uniqueness.
    """
    import hashlib
    import re

    tail = re.sub(r"[^A-Za-z0-9_]", "_", base_dir.rstrip("/").rsplit("/", 1)[-1])[:40]
    digest = hashlib.md5(base_dir.rstrip("/").encode()).hexdigest()[:8]
    return f"{catalog}.ndf_{tail}_{digest}"


def default_io(spark: SparkSession, base_dir: str, namespace: str | None = None):
    """IcebergTableIO when an Iceberg catalog is configured, else
    ParquetDirIO under base_dir. The Iceberg namespace is derived from
    base_dir (see :func:`namespace_for`) so distinct out_dirs map to
    distinct table sets; pass ``namespace`` to pin it explicitly."""
    cats = iceberg_catalogs(spark)
    if cats:
        ns = namespace or namespace_for(base_dir, cats[0])
        return IcebergTableIO(spark, ns)
    return ParquetDirIO(spark, base_dir)
