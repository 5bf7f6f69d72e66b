"""Table-IO backend contract: ParquetDirIO must implement the replace /
append / compact semantics the engine relies on (IcebergTableIO follows
the same contract; exercised only when an Iceberg catalog is configured
— no runtime jar ships in this sandbox)."""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from nadeefiler_spark import fd, od, profiler, ucc
from nadeefiler_spark.tableio import ParquetDirIO, default_io, iceberg_catalogs


def _df(spark, rows):
    return spark.createDataFrame(rows, "part string, v int")


def test_replace_partitions_is_per_partition(spark, tmp_path):
    io = ParquetDirIO(spark, str(tmp_path))
    io.replace_partitions(_df(spark, [("a", 1), ("b", 2)]), "t", "part", ["a", "b"])
    io.replace_partitions(_df(spark, [("a", 10)]), "t", "part", ["a"])
    got = {(r["part"], r["v"]) for r in io.read("t", "part string, v int").collect()}
    assert got == {("a", 10), ("b", 2)}  # b untouched, a replaced


def test_replace_partitions_clears_emptied_partition(spark, tmp_path):
    """A pending partition with zero output rows must still be cleared
    (re-run that fixed all violations)."""
    io = ParquetDirIO(spark, str(tmp_path))
    io.replace_partitions(_df(spark, [("a", 1)]), "t", "part", ["a"])
    empty = _df(spark, []).where(F.lit(False))
    io.replace_partitions(empty, "t", "part", ["a"])
    assert io.read("t", "part string, v int").count() == 0


def test_fixed_levels_give_separate_roots(spark, tmp_path):
    io = ParquetDirIO(spark, str(tmp_path))
    io.replace_partitions(_df(spark, [("a", 1)]), "t", "part", ["a"],
                          fixed={"stage": "s1"})
    io.replace_partitions(_df(spark, [("a", 2)]), "t", "part", ["a"],
                          fixed={"stage": "s2"})
    assert os.path.isdir(str(tmp_path / "t" / "stage=s1" / "part=a"))
    got = io.read("t", "part string, v int, stage string")
    assert {(r["stage"], r["v"]) for r in got.collect()} == {("s1", 1), ("s2", 2)}
    # replacing one stage's partition leaves the other stage intact
    io.replace_partitions(_df(spark, [("a", 3)]), "t", "part", ["a"],
                          fixed={"stage": "s1"})
    got2 = io.read("t", "part string, v int, stage string")
    assert {(r["stage"], r["v"]) for r in got2.collect()} == {("s1", 3), ("s2", 2)}


def test_append_and_compact(spark, tmp_path):
    io = ParquetDirIO(spark, str(tmp_path))
    for i in range(10):
        io.append(_df(spark, [("a", i)]), "m", coalesce=1)
    io.compact("m", max_files=4, schema="part string, v int")
    files = [f for f in os.listdir(str(tmp_path / "m"))
             if f.endswith(".parquet") and not f.startswith("_")]
    assert len(files) == 1
    assert io.read("m", "part string, v int").count() == 10


def test_default_io_is_parquet_without_iceberg_catalog(spark, tmp_path):
    assert iceberg_catalogs(spark) == []
    assert isinstance(default_io(spark, str(tmp_path)), ParquetDirIO)


def test_read_missing_table_is_empty(spark, tmp_path):
    io = ParquetDirIO(spark, str(tmp_path))
    df = io.read("nope", "part string, v int")
    assert df.count() == 0 and df.columns == ["part", "v"]


def test_missing_table_reads_back_in_the_jvm(spark, tmp_path):
    """A missing table comes back with its declared (nested) schema and
    no Python RDD scan in its plan, from both backends: collecting a
    Scan ExistingRDD frame starts a Python worker on every fresh run."""
    from nadeefiler_spark.tableio import IcebergTableIO

    schema = "part string, n bigint, tags array<string>, s struct<a: int, b: string>"
    for io in (ParquetDirIO(spark, str(tmp_path)),
               IcebergTableIO(spark, "spark_catalog.default")):
        df = io.read("nope", schema)
        assert df.schema == StructType.fromDDL(schema)
        assert "ExistingRDD" not in df._jdf.queryExecution().executedPlan().toString()
        assert df.select("part").distinct().collect() == []


_FD = "lhs string, rhs string, n_groups bigint, violating_groups bigint, holds boolean"
_OD = ("on_col string, ordered_col string, n_groups bigint, "
       "violating_pairs bigint, holds boolean")


@pytest.mark.parametrize("mine, schema", [
    (lambda df: fd.mine_fds(df, ["part", "v"], lhs_cols=[]), _FD),
    (lambda df: fd.mine_fds(df, ["v"], lhs_cols=[], part_col="part"),
     "part string, " + _FD),
    (lambda df: od.check_order_dependencies(df, []), _OD),
    (lambda df: od.check_order_dependencies(df, [], part_col="part"),
     "part string, " + _OD),
    (lambda df: profiler.mutual_info(df, []),
     "col_x string, col_y string, n_rows bigint, ndv_x bigint, ndv_y bigint, "
     "h_x double, h_y double, mi double, nmi double"),
    (lambda df: ucc.mine_keys(df, []),
     "tbl string, cols string, n_rows bigint, n_nulls bigint, n_groups bigint, "
     "dup_rows bigint, is_unique boolean, is_key boolean"),
], ids=["fd", "fd_part", "od", "od_part", "mutual_info", "ucc"])
def test_empty_miner_results_plan_in_the_jvm(spark, mine, schema):
    """The miners' no-candidate branches return their declared schema as
    an empty frame planned in the JVM, with no Python RDD scan."""
    out = mine(_df(spark, [("a", 1), ("b", 2)]))
    assert out.schema == StructType.fromDDL(schema)
    assert "ExistingRDD" not in out._jdf.queryExecution().executedPlan().toString()
    assert out.collect() == []


def test_default_io_selects_iceberg_when_catalog_configured():
    """Catalog sniffing is pure conf inspection — exercised with a fake
    session (no Iceberg jar ships in the sandbox)."""
    from nadeefiler_spark.tableio import IcebergTableIO, default_io

    class FakeConf:
        def getAll(self):
            return [
                ("spark.sql.catalog.ndf", "org.apache.iceberg.spark.SparkCatalog"),
                ("spark.master", "local[2]"),
            ]

    class FakeSC:
        def getConf(self):
            return FakeConf()

    class FakeSpark:
        sparkContext = type("SC", (), {"getConf": lambda self: FakeConf()})()

    io = default_io(FakeSpark(), "/tmp/x")
    assert isinstance(io, IcebergTableIO)
    # namespace derived from out_dir: distinct out_dirs -> distinct
    # table sets (two engines on one session must not share a manifest)
    assert io.namespace.startswith("ndf.ndf_x_")
    io2 = default_io(FakeSpark(), "/tmp/y")
    assert io2.namespace != io.namespace
    assert default_io(FakeSpark(), "/tmp/x").namespace == io.namespace  # deterministic
    io3 = default_io(FakeSpark(), "/tmp/x", namespace="ndf.pinned")
    assert io3.namespace == "ndf.pinned"


def test_namespace_for_sanitizes():
    from nadeefiler_spark.tableio import namespace_for

    ns = namespace_for("/data/out-dir with spaces!", "cat")
    db = ns.split(".", 1)[1]
    assert ns.startswith("cat.ndf_")
    assert all(c.isalnum() or c == "_" for c in db)


def test_read_corrupt_table_raises(spark, tmp_path):
    """A garbage file inside an existing table dir must RAISE, not read
    as empty — an empty manifest silently re-runs everything."""
    import pytest

    io = ParquetDirIO(spark, str(tmp_path))
    io.append(_df(spark, [("a", 1)]), "m", coalesce=1)
    (tmp_path / "m" / "part-garbage.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception):
        # schema inference reads footers eagerly; with an explicit schema
        # the failure surfaces at action time — exercise both
        io.read("m").count()
    with pytest.raises(Exception):
        io.read("m", "part string, v int").count()


def test_iceberg_ensure_create_race_falls_through():
    """Two concurrent stage threads can both see tableExists()==False;
    the create-race loser must treat already-exists as existed=True."""
    from nadeefiler_spark.tableio import IcebergTableIO

    class FakeWriter:
        def using(self, fmt):
            return self

        def partitionedBy(self, *cols):
            return self

        def create(self):
            raise Exception("[TABLE_OR_VIEW_ALREADY_EXISTS] Cannot create table")

    class FakeDF:
        def limit(self, n):
            return self

        def writeTo(self, name):
            return FakeWriter()

    io = IcebergTableIO(spark=None, namespace="c.db")
    io._exists = lambda table: False  # simulate the race window
    assert io._ensure(FakeDF(), "violations", []) is True  # fell through

    class FakeWriterOther(FakeWriter):
        def create(self):
            raise Exception("[INSUFFICIENT_PERMISSIONS] nope")

    class FakeDFOther(FakeDF):
        def writeTo(self, name):
            return FakeWriterOther()

    import pytest

    with pytest.raises(Exception, match="INSUFFICIENT"):
        io._ensure(FakeDFOther(), "violations", [])


def test_replace_partitions_with_special_characters(spark, tmp_path):
    """Spark escapes special chars in partition dir names (part=it%27s);
    the delete must target the ESCAPED path or re-runs duplicate."""
    io = ParquetDirIO(spark, str(tmp_path))
    parts = ["it's", "p#x", "a b", "q%z"]
    rows = [(p, 1) for p in parts]
    io.replace_partitions(_df(spark, rows), "t", "part", parts)
    io.replace_partitions(_df(spark, rows), "t", "part", parts)  # re-run
    got = io.read("t", "part string, v int").toPandas()
    assert len(got) == len(parts)  # no duplicates
    assert set(got["part"]) == set(parts)


def test_delete_matching_parquet(spark, tmp_path):
    io = ParquetDirIO(spark, str(tmp_path))
    schema = "part string, stage string, n bigint"
    df = spark.createDataFrame(
        [("a", "audio", 1), ("a", "profile", 2), ("it's", "audio", 3)], schema
    )
    io.append(df, "manifest")
    # quote-bearing partition value exercises the predicate escaping the
    # engine's invalidate() generates
    removed = io.delete_matching(
        "manifest", "part IN ('a', 'it''s') AND stage IN ('audio')", schema
    )
    assert removed == 2
    left = {(r["part"], r["stage"]) for r in io.read("manifest", schema).collect()}
    assert left == {("a", "profile")}
    # no-match and missing-table are clean no-ops
    assert io.delete_matching("manifest", "stage = 'nope'", schema) == 0
    assert io.delete_matching("ghost", "1=1", schema) == 0
