"""Sessionization (operators/sessions.py) + rollup profile
(profiler.rollup_summary) unit semantics; DuckDB parity is covered by
the contract gate (test_entry_contract: rollup_stats, event_sessions)."""

import datetime as dt

from pyspark.sql import functions as F

from nadeefiler_spark.operators.sessions import session_stats, sessionize
from nadeefiler_spark.profiler import rollup_summary


def _ts(minute: int, second: int = 0):
    return dt.datetime(2024, 1, 1, 0, minute, second)


def _events(spark):
    rows = [
        # user 1: two sessions split by a 31-min gap
        ("e1", 1, _ts(0)),
        ("e2", 1, _ts(10)),
        ("e3", 1, _ts(41, 1)),  # gap 31:01 > 30 min -> new session
        # user 2: one session, gap exactly == 1800 s stays in-session
        ("e4", 2, _ts(0)),
        ("e5", 2, _ts(30)),
        # user 3: single event
        ("e6", 3, _ts(5)),
    ]
    return spark.createDataFrame(rows, "event_id string, user_id int, ts timestamp")


def test_sessionize_boundaries(spark):
    s = sessionize(_events(spark), "user_id", "ts", gap_s=1800, tiebreak_col="event_id")
    got = {r["event_id"]: r["session_idx"] for r in s.collect()}
    assert got == {"e1": 1, "e2": 1, "e3": 2, "e4": 1, "e5": 1, "e6": 1}


def test_session_stats(spark):
    out = session_stats(
        _events(spark), "user_id", "ts", gap_s=1800, tiebreak_col="event_id"
    )
    rows = {(r["user"], r["session_idx"]): r for r in out.collect()}
    assert len(rows) == 4
    assert rows[(1, 1)]["n_events"] == 2 and rows[(1, 1)]["dur_s"] == 600
    assert rows[(1, 2)]["n_events"] == 1 and rows[(1, 2)]["dur_s"] == 0
    assert rows[(2, 1)]["n_events"] == 2 and rows[(2, 1)]["dur_s"] == 1800
    assert rows[(3, 1)]["n_events"] == 1


def test_session_single_shuffle_plan(spark):
    """The groupBy must reuse the window's hash partitioning: exactly one
    Exchange in the physical plan (the 100-TB invariant)."""
    out = session_stats(_events(spark), "user_id", "ts", gap_s=1800)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def test_rollup_levels(spark):
    df = spark.createDataFrame(
        [("a", "x", 1.0), ("a", "y", 2.0), ("b", "x", 4.0)],
        "d1 string, d2 string, v double",
    )
    out = rollup_summary(df, ("d1", "d2"), "v")
    rows = {(r["d1"], r["d2"], r["gid"]): r for r in out.collect()}
    # leaf + per-d1 + grand total = 3 + 2 + 1
    assert len(rows) == 6
    assert rows[("a", None, 1)]["sum_val"] == 3.0
    assert rows[(None, None, 3)]["n_rows"] == 3
    assert rows[("b", "x", 0)]["avg_val"] == 4.0


def test_rollup_single_scan(spark, tmp_path):
    """ROLLUP must not re-scan the input per level: one scan node."""
    p = str(tmp_path / "t")
    spark.createDataFrame(
        [("a", "x", 1.0)], "d1 string, d2 string, v double"
    ).write.parquet(p)
    out = rollup_summary(spark.read.parquet(p), ("d1", "d2"), "v")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan
    assert "Expand" in plan


def test_numeric_quantiles_approx_vs_exact(spark):
    """Production sketch path must stay within the sketch's rank-error
    bound of the exact path, and both fold everything into one agg."""
    import random

    from nadeefiler_spark.profiler import numeric_quantiles

    rng = random.Random(11)
    rows = [("g%d" % (i % 3), rng.gauss(0, 10)) for i in range(3000)]
    df = spark.createDataFrame(rows, "grp string, v double")
    ex = {
        (r["part"], r["q"]): r["val"]
        for r in numeric_quantiles(df, ("v",), part_col="grp", exact=True).collect()
    }
    ap = {
        (r["part"], r["q"]): r["val"]
        for r in numeric_quantiles(df, ("v",), part_col="grp").collect()
    }
    assert set(ex) == set(ap) and len(ex) == 12
    for k, v in ex.items():
        assert abs(ap[k] - v) < 1.0, (k, v, ap[k])


def test_numeric_quantiles_single_exchange(spark):
    from nadeefiler_spark.profiler import numeric_quantiles

    df = spark.createDataFrame([("a", 1.0)], "grp string, v double")
    plan = (
        numeric_quantiles(df, ("v",), part_col="grp")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 1, plan


def test_session_window_cross_impl_twin(spark):
    """Two independent sessionization formulations — native
    session_window vs the window/lag implementation — must produce the
    SAME sessions on the same input (start, membership count, user)."""
    from nadeefiler_spark.streaming import session_event_stats

    native = {
        (r["user"], str(r["session_start"]), r["n_events"])
        for r in session_event_stats(
            _events(spark), gap="30 minutes"
        ).collect()
    }
    lagged = {
        (r["user"], str(r["t_start"]), r["n_events"])
        for r in session_stats(
            _events(spark), "user_id", "ts", gap_s=1800, tiebreak_col="event_id"
        ).collect()
    }
    assert native == lagged and len(native) == 4


def test_session_window_stream_equals_batch(spark, tmp_path):
    """session_event_stats run as a real stream (file source, one file
    per micro-batch, complete mode) converges to the batch answer."""
    from nadeefiler_spark.streaming import session_event_stats

    src = str(tmp_path / "sess_ev")
    schema = "event_id string, user_id int, ts timestamp"
    rows = [r for r in _events(spark).collect()]
    half = len(rows) // 2
    for chunk in (rows[:half], rows[half:]):
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        session_event_stats(stream)
        .writeStream.format("memory")
        .queryName("sess_complete")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    def canon(df):
        return sorted(
            (r["user"], str(r["session_start"]), str(r["session_end"]), r["n_events"])
            for r in df.collect()
        )

    batch = session_event_stats(spark.read.parquet(src))
    assert canon(spark.table("sess_complete")) == canon(batch)
    assert len(canon(batch)) == 4


def test_speaking_rate_rule(spark):
    from nadeefiler_spark.rules.base import RuleContext
    from nadeefiler_spark.rules.constraints import SpeakingRateRule

    rows = [
        # 20 chars / 2 s = 10 cps -> plausible
        ("ok", "p", "twenty chars here ab", 2000),
        # 80 chars / 0.1 s = 800 cps -> implausible (paragraph on a blip)
        ("fast", "p", "x" * 80, 100),
        # 2 chars / 30 s = 0.07 cps -> implausible (near-empty label)
        ("slow", "p", "hi", 30000),
        # empty / null / zero-duration rows are out of scope here
        ("empty", "p", "", 1000),
        ("null", "p", None, 1000),
        ("nodur", "p", "some words", 0),
    ]
    df = spark.createDataFrame(
        rows, "clip_id string, part string, transcript string, dur_ms int"
    )
    ctx = RuleContext(spark=spark, clips=df, key_col="clip_id", part_col="part")
    rule = SpeakingRateRule()
    got = {r["clip_id"]: r["detail"] for r in rule.violations(ctx).collect()}
    assert set(got) == {"fast", "slow"}
    assert got["fast"] == "cps=800.0"
    # predicate fast path exists (folds into the shared constraint scan)
    assert rule.predicate(ctx) is not None


def test_numeric_corr_signs_and_support(spark):
    from nadeefiler_spark.profiler import numeric_corr

    # y = 2x (corr 1), z = -x (corr -1 with x), w has a null that
    # shrinks its pair support
    df = spark.createDataFrame(
        [(1.0, 2.0, -1.0, 5.0), (2.0, 4.0, -2.0, None),
         (3.0, 6.0, -3.0, 1.0), (4.0, 8.0, -4.0, 7.0)],
        "x double, y double, z double, w double",
    )
    out = {(r["col_a"], r["col_b"]): r
           for r in numeric_corr(df, ("x", "y", "z", "w")).collect()}
    assert abs(out[("x", "y")]["corr"] - 1.0) < 1e-9
    assert abs(out[("x", "z")]["corr"] + 1.0) < 1e-9
    assert out[("x", "w")]["n"] == 3  # null w row excluded from support
    assert out[("x", "y")]["n"] == 4
    assert all(r["part"] == "*" for r in out.values())
