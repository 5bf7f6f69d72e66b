"""Tests for ingestion sources (SURVEY §2.1 S1/S8)."""

from __future__ import annotations

from pyspark.sql import types as T

from nadeefiler_spark import sources


CSV = """id,name,score
1,alpha,10
2,beta,
3,gamma,7.5
"""

TSV = (
    "<Alpha_Centauri>\twikicat_Stars\n"
    "<Alpha_Centauri>\twordnet_star\n"
    "<beta_test>\twikicat_Software_testing\n"
)


def test_read_tuples_csv_all_strings(spark, tmp_path):
    p = tmp_path / "up.csv"
    p.write_text(CSV)
    df = sources.read_tuples_csv(spark, str(p))
    assert df.columns == ["id", "name", "score"]
    assert all(isinstance(f.dataType, T.StringType) for f in df.schema.fields)
    rows = {r["id"]: r for r in df.collect()}
    assert rows["2"]["score"] is None  # empty cell -> null string
    assert rows["3"]["score"] == "7.5"


def test_read_tuples_csv_order(spark, tmp_path):
    p = tmp_path / "ordered.csv"
    p.write_text(CSV)
    df = sources.read_tuples_csv(spark, str(p), with_order=True)
    got = [r["id"] for r in df.orderBy("__order").collect()]
    assert got == ["1", "2", "3"]


def test_dataset_counts(spark, tmp_path):
    (tmp_path / "a.csv").write_text(CSV)
    (tmp_path / "b.csv").write_text("id,name,score\n9,zeta,1\n")
    df = sources.read_tuples_csv(spark, str(tmp_path))
    counts = {r["dataset"].rsplit("/", 1)[-1]: r["count"]
              for r in sources.dataset_counts(df).collect()}
    assert counts == {"a.csv": 3, "b.csv": 1}


def test_import_kb_tsv(spark, tmp_path):
    p = tmp_path / "kb.tsv"
    p.write_text(TSV)
    kb = {r["subject"]: r["objects"] for r in sources.import_kb_tsv(spark, str(p)).collect()}
    assert kb == {
        "alpha centauri": ["wikicat_Stars", "wordnet_star"],
        "beta test": ["wikicat_Software_testing"],
    }


def test_pretouch_opts_env_gated(monkeypatch):
    """SPARK_GRAFT_PRETOUCH=1 adds the measured allocation-stability JVM
    options (round-3 cluster A/B) sized to the driver heap; default off.
    The default heap fits the host."""
    import os

    from nadeefiler_spark.session import _driver_mem, _pretouch_opts

    monkeypatch.delenv("SPARK_GRAFT_PRETOUCH", raising=False)
    assert _pretouch_opts() == ""
    monkeypatch.setenv("SPARK_GRAFT_PRETOUCH", "1")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "8g")
    got = _pretouch_opts()
    assert "-Xms8g" in got and "-XX:+AlwaysPreTouch" in got
    assert "-XX:+UseTransparentHugePages" in got

    # the default heap (and the -Xms sized from it) never exceeds
    # physical RAM; SPARK_GRAFT_DRIVER_MEM overrides it
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    got = _driver_mem()
    assert got.endswith("m")
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    assert 0 < int(got[:-1]) <= min(24 * 1024, phys_mb)
    assert f"-Xms{got} " in _pretouch_opts()
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert _driver_mem() == "3g"
    assert "-Xms3g " in _pretouch_opts()


def test_sniff_header_detects_typed_body(spark, tmp_path):
    from nadeefiler_spark.sources import read_tuples_csv, sniff_header

    with_h = tmp_path / "with_header.csv"
    with_h.write_text("name,price,qty\nwidget,9.99,3\ngadget,12.50,7\n")
    no_h = tmp_path / "no_header.csv"
    no_h.write_text("widget,9.99,3\ngadget,12.50,7\nsprocket,1.25,9\n")
    all_str = tmp_path / "all_string.csv"
    all_str.write_text("name,color\nwidget,red\ngadget,blue\n")

    assert sniff_header(spark, str(with_h)) is True
    assert sniff_header(spark, str(no_h)) is False
    # all-string files are ambiguous -> conservative False
    assert sniff_header(spark, str(all_str)) is False

    auto = read_tuples_csv(spark, str(with_h), header="auto")
    assert auto.columns == ["name", "price", "qty"] and auto.count() == 2
    auto2 = read_tuples_csv(spark, str(no_h), header="auto")
    assert auto2.columns == ["_c0", "_c1", "_c2"] and auto2.count() == 3


def test_read_jsonl_triage(spark, tmp_path):
    from nadeefiler_spark.sources import read_jsonl

    p = tmp_path / "docs"
    p.mkdir()
    (p / "a.jsonl").write_text(
        '{"doc_id": 1, "text": "hello world"}\n'
        '{"doc_id": 2, "text": "ok"}\n'
        '{"doc_id": 3, "text": "trunc\n'      # truncated write
        "not json at all\n"
        '{"doc_id": "abc", "text": "bad type"}\n'
    )
    good, bad = read_jsonl(spark, str(p), "doc_id bigint, text string")
    assert sorted((r["doc_id"], r["text"]) for r in good.collect()) == [
        (1, "hello world"), (2, "ok"),
    ]
    assert good.columns == ["doc_id", "text"]  # corrupt col pruned
    bad_rows = bad.collect()
    assert sorted(r["raw_line"] for r in bad_rows) == sorted([
        '{"doc_id": 3, "text": "trunc',
        "not json at all",
        '{"doc_id": "abc", "text": "bad type"}',
    ])
    # every bad row carries its source file for the violation audit
    assert all(r["_src_file"].endswith("a.jsonl") for r in bad_rows)


def test_read_jsonl_all_good_and_all_bad(spark, tmp_path):
    from nadeefiler_spark.sources import read_jsonl

    p = tmp_path / "clean"
    p.mkdir()
    (p / "b.jsonl").write_text('{"doc_id": 7, "text": "x"}\n')
    good, bad = read_jsonl(spark, str(p), "doc_id bigint, text string")
    assert good.count() == 1 and bad.count() == 0

    q = tmp_path / "garbage"
    q.mkdir()
    (q / "c.jsonl").write_text("}{\nnope\n")
    good, bad = read_jsonl(spark, str(q), "doc_id bigint, text string")
    assert good.count() == 0 and bad.count() == 2


def test_package_zip_keyed_by_source_digest(tmp_path):
    """The executor zip's name follows the package sources: two
    checkouts with different sources never share one zip path."""
    import os

    from nadeefiler_spark import session

    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "a.py").write_text("x = 1\n")
    before = session._zip_path(session._sources(str(pkg)))
    assert session._zip_path(session._sources(str(pkg))) == before
    (pkg / "a.py").write_text("x = 2\n")
    assert session._zip_path(session._sources(str(pkg))) != before
    real = os.path.dirname(os.path.abspath(session.__file__))
    assert session.package_zip() == session._zip_path(session._sources(real))
