"""Driver-contract regression tests: a fast subset of the DuckDB-oracle
gate (full sweep: scripts/check_oracle.py), run at sf0.001."""

from __future__ import annotations

import sys

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entry

SF_DIR = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# fast, representative subset — one per operator family
SUBSET = [
    "profile_summary",
    "type_scores",
    "topk_per_group",
    "uniqueness_violations",
    "drift_metrics",
    "zscore_outliers",
    "semantic_scores",
    "exact_dup_groups",
    "ann_topk",
    "text_quality",
    "rollup_stats",
    "event_sessions",
    # SQL-built audio containers -> REAL decode operators, oracled
    "audio_qc",
    "audio_fp_dups",
    "clip_admission",
    "transcript_conflicts",
    "audio_vad",
    "audio_loudness",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


# the DTYPE-STRICT canonical rendering the full sweep uses — the local
# gate must see exactly what the driver's hash sees (r03 lesson:
# check_dtype=False passed two queries the driver hash-failed)
from scripts.check_oracle import canon as _canon  # noqa: E402


def test_queries_and_oracles_align():
    qs, oracles = entry.queries(), entry.oracle_sql()
    assert set(oracles) <= set(qs)
    # everything SQL-expressible has an oracle; known exceptions listed
    assert set(qs) - set(oracles) == {
        "minhash_pairs", "simhash_pairs", "audio_validate", "binary_meta",
        # decoded-synthetic-corpus variants: rendered-PCM inputs (and
        # the near tier's hamming math) are not SQL-derivable; each is
        # numpy-twin-pinned, and the SAME operators are DuckDB-oracled
        # over SQL-built containers as audio_qc / audio_fp_dups /
        # clip_admission (VERDICT r4 #1)
        "audio_fp_dups_corpus", "audio_feature_ann", "audio_embedding_dups",
        "audio_qc_corpus", "clip_admission_corpus",
        "transcript_conflicts_corpus",
        "audio_vad_corpus", "audio_loudness_corpus", "audio_bandwidth",
        # binary datagen input; exact row_spec twin in
        # test_headerprobe.py, and the probe's byte arithmetic IS
        # DuckDB-oracled via header_probe_sql / probe_stats_sql
        "header_triage",
    }


@pytest.mark.parametrize("name", SUBSET)
def test_query_matches_oracle(spark, duck, name):
    sdf = entry.queries()[name](spark, SF_DIR).toPandas()
    odf = duck.execute(entry.oracle_sql()[name]).df()
    assert len(sdf) == len(odf)
    assert sorted(sdf.columns) == sorted(odf.columns)
    pd.testing.assert_frame_equal(_canon(sdf), _canon(odf))


def test_entry_flagship(spark):
    df = entry.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"part", "n_rows", "n_violations", "passed"} <= set(df.columns)
