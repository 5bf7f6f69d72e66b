"""KS/PSI drift math vs numpy/scipy-style references computed by hand."""

import math
import random

import numpy as np
import pytest

from nadeefiler_spark import drift


def _hist_df(spark, rows):
    return spark.createDataFrame(
        rows, "part string, key string, kind string, bin string, count bigint"
    )


def _baseline_df(spark, rows):
    return spark.createDataFrame(rows, "key string, kind string, bin string, count bigint")


def _psi_py(p_counts, q_counts, eps=drift.EPS):
    bins = sorted(set(p_counts) | set(q_counts))
    # totals floored at 1, as in drift.py, so an all-zero side is defined
    tp, tq = max(sum(p_counts.values()), 1), max(sum(q_counts.values()), 1)
    psi = 0.0
    for b in bins:
        p = max(p_counts.get(b, 0) / tp, eps)
        q = max(q_counts.get(b, 0) / tq, eps)
        psi += (p - q) * math.log(p / q)
    return psi


def _bin_order(b):
    """drift.py's ECDF order: numeric bins by value, then the rest, ties
    broken by the bin string."""
    try:
        return (0, float(b), b)
    except ValueError:
        return (1, 0.0, b)


def _ks_py(p_counts, q_counts):
    bins = sorted(set(p_counts) | set(q_counts), key=_bin_order)
    tp, tq = max(sum(p_counts.values()), 1), max(sum(q_counts.values()), 1)
    cp = cq = 0.0
    d = 0.0
    for b in bins:
        cp += p_counts.get(b, 0) / tp
        cq += q_counts.get(b, 0) / tq
        d = max(d, abs(cp - cq))
    return d


def test_drift_metrics_match_hand_math(spark):
    p_counts = {"0": 50, "100": 30, "200": 20}
    q_counts = {"0": 20, "100": 30, "200": 40, "300": 10}
    hist = _hist_df(spark, [("a", "dur_ms", "bucket", b, c) for b, c in p_counts.items()])
    base = _baseline_df(spark, [("dur_ms", "bucket", b, c) for b, c in q_counts.items()])
    got = drift.drift_metrics(hist, base).collect()[0]
    assert got["part"] == "a" and got["key"] == "dur_ms"
    assert got["psi"] == pytest.approx(_psi_py(p_counts, q_counts), rel=1e-9)
    assert got["ks_d"] == pytest.approx(_ks_py(p_counts, q_counts), rel=1e-9)


def test_identical_distributions_have_zero_drift(spark):
    counts = {"0": 10, "100": 20, "200": 30}
    hist = _hist_df(spark, [("a", "k", "bucket", b, c) for b, c in counts.items()])
    base = _baseline_df(spark, [("k", "bucket", b, c * 7) for b, c in counts.items()])
    got = drift.drift_metrics(hist, base).collect()[0]
    assert got["psi"] == pytest.approx(0.0, abs=1e-9)
    assert got["ks_d"] == pytest.approx(0.0, abs=1e-9)


def test_drift_rule_flags_shifted_partition(spark):
    rng = np.random.default_rng(7)
    bins = ["0", "100", "200", "300", "400"]
    clean = [0.30, 0.30, 0.20, 0.10, 0.10]
    shifted = [0.05, 0.10, 0.15, 0.30, 0.40]
    rows = []
    for part, probs in [("p1", clean), ("p2", clean), ("p3", shifted)]:
        cnts = rng.multinomial(4000, probs)
        rows += [(part, "dur_ms", "bucket", b, int(c)) for b, c in zip(bins, cnts)]
    hist = _hist_df(spark, rows)
    from nadeefiler_spark.rules.base import RuleContext

    rule = drift.DriftRule()
    ctx = RuleContext(spark=spark, clips=hist, profile_hist=hist)
    v = rule.violations(ctx).toPandas()
    assert "p3" in set(v["part"])          # shifted partition flagged
    assert set(v["part"]) <= {"p3"}        # unshifted ones are not


def test_drift_rule_with_external_baseline(spark):
    hist = _hist_df(spark, [("a", "k", "bucket", "0", 100), ("a", "k", "bucket", "100", 100)])
    # baseline with part column (a prior run's profile_hist) gets aggregated
    base = _hist_df(
        spark,
        [("x", "k", "bucket", "0", 10), ("y", "k", "bucket", "0", 10)],
    )
    from nadeefiler_spark.rules.base import RuleContext

    rule = drift.DriftRule()
    ctx = RuleContext(spark=spark, clips=hist, profile_hist=hist, baseline_hist=base)
    v = rule.violations(ctx).toPandas()
    assert list(v["part"]) == ["a"]  # 50/50 vs 100/0 drifts hard


def test_profile_diff_statuses_and_metrics(spark):
    from nadeefiler_spark.drift import profile_diff
    from nadeefiler_spark.profiler import SUMMARY_SCHEMA

    old = spark.createDataFrame(
        [
            ("*", "num", 100, 10, 50, "1.0", "9.0", 5.0, 2.0, None),
            ("*", "gone", 100, 0, 3, "a", "c", None, None, 1.0),
            ("*", "const", 100, 0, 1, "k", "k", 7.0, 0.0, None),
        ],
        SUMMARY_SCHEMA,
    )
    new = spark.createDataFrame(
        [
            ("*", "num", 200, 40, 150, "1.0", "12.0", 6.0, 3.0, None),
            ("*", "fresh", 200, 0, 2, "x", "y", None, None, 1.0),
            ("*", "const", 200, 0, 1, "k", "k", 9.0, 0.0, None),
        ],
        SUMMARY_SCHEMA,
    )
    got = {r["key"]: r for r in profile_diff(old, new).collect()}
    num = got["num"]
    assert num["status"] == "common"
    assert num["null_rate_delta"] == 0.1          # 0.2 - 0.1
    assert num["ndv_ratio"] == 3.0
    assert num["mean_shift"] == 0.5               # (6-5)/2
    assert num["minmax_changed"] is True          # max 9.0 -> 12.0
    assert got["gone"]["status"] == "dropped"
    assert got["gone"]["n_rows_new"] is None
    assert got["gone"]["minmax_changed"] is False  # nothing to compare
    assert got["fresh"]["status"] == "added"
    # zero old sigma -> mean shift undefined, not infinite
    const = got["const"]
    assert const["mean_shift"] is None and const["minmax_changed"] is False


def test_snapshot_diff_planted(spark):
    from nadeefiler_spark.drift import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", None), (2, "b", "x"), (3, "c", "y"), (4, None, "z")],
        "id long, v string, w string",
    )
    new = spark.createDataFrame(
        [(2, "b", "x"),          # unchanged -> omitted
         (3, "c2", "y"),         # changed value
         (4, "now", "z"),        # NULL -> value edit must be detected
         (5, "new", None)],      # added
        "id long, v string, w string",
    )
    got = {r["id"]: r["change"] for r in snapshot_diff(old, new, "id").collect()}
    assert got == {1: "removed", 3: "changed", 4: "changed", 5: "added"}


def test_snapshot_diff_compare_cols_subset(spark):
    from nadeefiler_spark.drift import snapshot_diff

    old = spark.createDataFrame([(1, "a", "meta1")], "id long, v string, m string")
    new = spark.createDataFrame([(1, "a", "meta2")], "id long, v string, m string")
    # metadata column excluded -> no diff
    assert snapshot_diff(old, new, "id", compare_cols=["v"]).count() == 0
    # included -> changed
    got = snapshot_diff(old, new, "id").collect()
    assert [(r["id"], r["change"]) for r in got] == [(1, "changed")]


def test_snapshot_diff_separator_ambiguity(spark):
    from nadeefiler_spark.drift import snapshot_diff

    # ("ab", "c") vs ("a", "bc"): naive concat would collide
    old = spark.createDataFrame([(1, "ab", "c")], "id long, v string, w string")
    new = spark.createDataFrame([(1, "a", "bc")], "id long, v string, w string")
    got = snapshot_diff(old, new, "id").collect()
    assert [(r["id"], r["change"]) for r in got] == [(1, "changed")]


def test_chi2_drift_known_table(spark):
    """Hand-computed 2x2 two-sample chi-square: part A = (30, 10),
    baseline = (20, 20): pooled p = (50/80, 30/80); X^2 by hand."""
    from nadeefiler_spark.drift import chi2_drift

    hist = spark.createDataFrame(
        [("A", "k", "value", "x", 30), ("A", "k", "value", "y", 10)],
        "part string, key string, kind string, bin string, count long",
    )
    base = spark.createDataFrame(
        [("k", "value", "x", 20), ("k", "value", "y", 20)],
        "key string, kind string, bin string, count long",
    )
    r = chi2_drift(hist, base).collect()[0]
    n_p, n_q = 40, 40
    expected = 0.0
    for o, q, tot in ((30, 20, 50), (10, 20, 30)):
        pool = tot / 80
        expected += (o - n_p * pool) ** 2 / (n_p * pool)
        expected += (q - n_q * pool) ** 2 / (n_q * pool)
    assert r["chi2"] == round(expected, 6)
    assert r["dof"] == 1
    assert (r["n_p"], r["n_q"]) == (40, 40)


def test_chi2_drift_identical_and_disjoint_bins(spark):
    from nadeefiler_spark.drift import chi2_drift

    # identical distributions -> chi2 == 0
    hist = spark.createDataFrame(
        [("A", "k", "value", "x", 10), ("A", "k", "value", "y", 30)],
        "part string, key string, kind string, bin string, count long",
    )
    base = spark.createDataFrame(
        [("k", "value", "x", 10), ("k", "value", "y", 30)],
        "key string, kind string, bin string, count long",
    )
    assert chi2_drift(hist, base).collect()[0]["chi2"] == 0.0
    # bin present only in the part (absent from baseline) still counts
    hist2 = spark.createDataFrame(
        [("A", "k", "value", "z", 5)],
        "part string, key string, kind string, bin string, count long",
    )
    r = chi2_drift(hist2, base).collect()[0]
    assert r["dof"] == 2 and r["chi2"] > 0


class TestEmbeddingDrift:
    """embedding_drift vs a numpy twin on a small planted corpus."""

    def _df(self, spark):
        rows = []
        # groups a and b cluster near two different base vectors; c is a
        # copy of a shifted by +2.0 on every dim (a centroid mover).
        for g, base, delta in (("a", 1.0, 0.0), ("b", -1.0, 0.0), ("c", 1.0, 2.0)):
            for i in range(5):
                vec = [float(base + delta + 0.01 * i * (d + 1)) for d in range(4)]
                rows.append((g, vec))
        rows.append(("a", None))  # null vector -> n_bad
        rows.append(("b", [1.0, 2.0]))  # truncated -> n_bad
        return spark.createDataFrame(rows, "grp string, v array<float>"), rows

    def test_matches_numpy_twin(self, spark):
        df, rows = self._df(spark)
        out = {
            r["grp"]: r
            for r in drift.embedding_drift(df, "v", "grp", dim=4).collect()
        }
        good = {}
        for g, vec in rows:
            if vec is not None and len(vec) == 4:
                good.setdefault(g, []).append(np.array(vec, dtype=np.float32))
        gmean = np.mean(
            np.stack([v for vs in good.values() for v in vs]).astype("float64"),
            axis=0,
        )
        for g, vs in good.items():
            cent = np.mean(np.stack(vs).astype("float64"), axis=0)
            r = out[g]
            assert r["n_vecs"] == len(vs)
            assert r["centroid_norm"] == pytest.approx(
                float(np.linalg.norm(cent)), abs=1e-6
            )
            cos = float(
                cent @ gmean / (np.linalg.norm(cent) * np.linalg.norm(gmean))
            )
            assert r["global_cos"] == pytest.approx(cos, abs=1e-6)
            assert r["centroid_shift"] == pytest.approx(
                float(np.linalg.norm(cent - gmean)), abs=1e-6
            )
        assert out["a"]["n_bad"] == 1 and out["b"]["n_bad"] == 1
        # b points away from the global centroid; a and c align with it
        assert out["b"]["global_cos"] < 0 < out["a"]["global_cos"]
        # the shifted copy of a sits farther from the global centroid than a
        assert out["c"]["centroid_shift"] > out["a"]["centroid_shift"]

    def test_all_bad_group_dropped(self, spark):
        df = spark.createDataFrame(
            [("x", None), ("y", [1.0, 0.0])], "grp string, v array<float>"
        )
        rows = drift.embedding_drift(df, "v", "grp", dim=2).collect()
        assert [r["grp"] for r in rows] == ["y"]


def _w1_py(p_counts, q_counts, width):
    bins = sorted(set(p_counts) | set(q_counts), key=float)
    tp, tq = sum(p_counts.values()), sum(q_counts.values())
    cp = cq = 0.0
    w1 = 0.0
    for b in bins:
        cp += p_counts.get(b, 0) / tp
        cq += q_counts.get(b, 0) / tq
        w1 += abs(cp - cq) * width
    return w1


def test_wasserstein_matches_hand_math(spark):
    p_counts = {"0": 50, "100": 30, "200": 20}
    q_counts = {"0": 20, "100": 30, "200": 40, "300": 10}
    hist = _hist_df(spark, [("a", "dur_ms", "bucket", b, c) for b, c in p_counts.items()])
    base = _baseline_df(spark, [("dur_ms", "bucket", b, c) for b, c in q_counts.items()])
    got = drift.wasserstein_drift(hist, base, bin_width=100.0).collect()[0]
    assert got["part"] == "a" and got["key"] == "dur_ms"
    assert got["w1"] == pytest.approx(_w1_py(p_counts, q_counts, 100.0), abs=1e-6)


def test_wasserstein_one_bin_shift_equals_width(spark):
    # shifting ALL mass exactly one bin right moves W1 by one bin width —
    # while KS saturates at 1.0 for any complete separation
    hist = _hist_df(spark, [("a", "k", "bucket", "100", 10)])
    base = _baseline_df(spark, [("k", "bucket", "0", 10)])
    got = drift.wasserstein_drift(hist, base, bin_width=5.0).collect()[0]
    assert got["w1"] == pytest.approx(5.0, abs=1e-9)


def test_wasserstein_zero_for_identical_and_skips_value_kind(spark):
    hist = _hist_df(
        spark,
        [("a", "k", "bucket", "0", 10), ("a", "k", "bucket", "100", 30),
         ("a", "cat", "value", "x", 5)],
    )
    base = _baseline_df(
        spark,
        [("k", "bucket", "0", 20), ("k", "bucket", "100", 60),
         ("cat", "value", "x", 5)],
    )
    rows = drift.wasserstein_drift(hist, base, bin_width=5.0).collect()
    # categorical 'value' kind excluded: W1 needs an ordered space
    assert [r["kind"] for r in rows] == ["bucket"]
    assert rows[0]["w1"] == pytest.approx(0.0, abs=1e-9)


def test_drift_explain_ranks_and_sums_to_psi(spark):
    p_counts = {"0": 50, "100": 30, "200": 20}
    q_counts = {"0": 20, "100": 30, "200": 40, "300": 10}
    hist = _hist_df(spark, [("a", "k", "bucket", b, c) for b, c in p_counts.items()])
    base = _baseline_df(spark, [("k", "bucket", b, c) for b, c in q_counts.items()])
    rows = drift.drift_explain(hist, base, k=4).collect()
    assert [r["rank"] for r in rows] == [1, 2, 3, 4]
    # contributions are DESC and sum to the PSI drift_metrics reports
    contribs = [r["psi_contrib"] for r in rows]
    assert contribs == sorted(contribs, reverse=True)
    psi = drift.drift_metrics(hist, base).collect()[0]["psi"]
    assert sum(contribs) == pytest.approx(psi, abs=5e-6)
    # the top contributor is the VANISHED bin: '300' fell 10% -> EPS,
    # (1e-4 - 0.1)·ln(1e-4/0.1) ≈ 0.690 — bigger than the grown bin
    # '0' (20% -> 50%, (0.5-0.2)·ln(2.5) ≈ 0.275), which ranks second
    assert rows[0]["bin"] == "300"
    assert rows[0]["c_p"] == 0 and rows[0]["p"] == pytest.approx(drift.EPS)
    assert rows[0]["psi_contrib"] == pytest.approx(
        (drift.EPS - 0.1) * math.log(drift.EPS / 0.1), abs=1e-6
    )
    assert rows[1]["bin"] == "0"
    assert rows[1]["psi_contrib"] == pytest.approx(
        (0.5 - 0.2) * math.log(0.5 / 0.2), abs=1e-6
    )


def test_drift_explain_k_truncates(spark):
    counts = {"0": 10, "100": 20, "200": 30}
    hist = _hist_df(spark, [("a", "k", "bucket", b, c) for b, c in counts.items()])
    base = _baseline_df(spark, [("k", "bucket", b, c) for b, c in counts.items()])
    rows = drift.drift_explain(hist, base, k=2).collect()
    # no drift: still returns k rows, near-zero contributions
    assert len(rows) == 2
    assert all(abs(r["psi_contrib"]) < 1e-9 for r in rows)


def _drift_family_cases(seed=9):
    """Seeded-random drift-family cases, one key each: key -> (kind,
    {part: {bin: count}}, {bin: count} external baseline)."""
    rng = random.Random(seed)
    num = [str(100 * i) for i in range(10)]

    def sample(bins, lo=0, hi=60, keep=0.7):
        # bins missing from a part: each kept with probability ``keep``
        return {b: rng.randint(lo, hi) for b in bins if rng.random() < keep}

    cases = {
        # numeric bucket bins, bins missing per part, and baseline bins
        # ("1000", "1100") that no part has
        "num_missing": ("bucket", {f"p{i}": sample(num) for i in range(4)},
                        {b: rng.randint(1, 50) for b in num + ["1000", "1100"]}),
        # string bins of the value kind; "zz" only in the baseline
        "str_value": ("value", {f"p{i}": sample("abcdefgh") for i in range(3)},
                      {**sample("abcdefgh", lo=1, keep=0.8), "zz": 7}),
        # numeric value bins whose numeric order is not their string order
        "num_value": ("value",
                      {f"p{i}": sample(["8000", "16000", "22050", "44100", "96000"])
                       for i in range(3)},
                      {"8000": 10, "16000": 40, "44100": 25}),
        # an all-zero part side next to ordinary parts
        "zero_part": ("bucket",
                      {"p0": {b: 0 for b in num[:5]}, "p1": sample(num[:5], lo=1),
                       "p2": sample(num[:6], lo=1)},
                      {b: rng.randint(1, 30) for b in num[:5]}),
        # an all-zero baseline side
        "zero_base": ("bucket", {f"p{i}": sample(num[:4], lo=1) for i in range(3)},
                      {b: 0 for b in num[:4]}),
        # tied per-bin contributions: x and y have equal (p, q)
        "ties": ("value",
                 {"p0": {"x": 10, "y": 10, "z": 5}, "p1": {"x": 3, "y": 3, "w": 9},
                  "p2": {"v": 4}},
                 {"x": 5, "y": 5, "z": 20, "u": 2}),
    }
    return cases


def _ref_grid(cases):
    """The aligned grid drift.py builds: every part of a key sees the
    union of the baseline's bins and all that key's parts' bins."""
    for key, (kind, parts, base) in cases.items():
        bins = set(base).union(*parts.values())
        for part, counts in parts.items():
            yield (part, key, kind,
                   {b: counts.get(b, 0) for b in bins}, {b: base.get(b, 0) for b in bins})


def test_drift_family_matches_python_reference(spark):
    """PSI, KS-D, drift_explain, W1 and chi-square over the aligned grid
    against pure-Python twins, all cases in one hist and one baseline."""
    cases = _drift_family_cases()
    hist = _hist_df(spark, [
        (part, key, kind, b, c)
        for key, (kind, parts, _) in cases.items()
        for part, counts in parts.items() for b, c in counts.items()
    ])
    base = _baseline_df(spark, [
        (key, kind, b, c) for key, (kind, _, counts) in cases.items()
        for b, c in counts.items()
    ])
    by_pk = lambda rows: {(r["part"], r["key"]): r for r in rows}  # noqa: E731
    grid = list(_ref_grid(cases))
    width = 100.0
    metrics = by_pk(drift.drift_metrics(hist, base).collect())
    chi2 = by_pk(drift.chi2_drift(hist, base).collect())
    w1 = by_pk(drift.wasserstein_drift(hist, base, bin_width=width).collect())
    explain = {}
    for r in drift.drift_explain(hist, base, k=20).collect():
        explain.setdefault((r["part"], r["key"]), []).append(r)
    assert set(metrics) == set(chi2) == set(explain) == {(g[0], g[1]) for g in grid}
    assert set(w1) == {(g[0], g[1]) for g in grid if g[2] == "bucket"}

    for part, key, kind, cp, cq in grid:
        psi = _psi_py(cp, cq)
        m = metrics[(part, key)]
        assert m["kind"] == kind
        assert m["psi"] == pytest.approx(psi, rel=1e-9, abs=1e-12)
        assert m["ks_d"] == pytest.approx(_ks_py(cp, cq), rel=1e-9, abs=1e-12)

        # drift_explain: every grid bin ranked by contribution DESC, ties
        # by bin; contributions sum to the PSI
        tp, tq = max(sum(cp.values()), 1), max(sum(cq.values()), 1)
        ref = {}
        for b in cp:
            p, q = max(cp[b] / tp, drift.EPS), max(cq[b] / tq, drift.EPS)
            ref[b] = (p, q, (p - q) * math.log(p / q))
        order = sorted(ref, key=lambda b: (-ref[b][2], b))
        rows = sorted(explain[(part, key)], key=lambda r: r["rank"])
        assert [r["rank"] for r in rows] == list(range(1, len(order) + 1))
        assert [r["bin"] for r in rows] == order
        for r in rows:
            p, q, contrib = ref[r["bin"]]
            assert (r["c_p"], r["c_q"]) == (cp[r["bin"]], cq[r["bin"]])
            assert r["p"] == pytest.approx(p, abs=1e-6)
            assert r["q"] == pytest.approx(q, abs=1e-6)
            assert r["psi_contrib"] == pytest.approx(contrib, abs=1e-6)
        assert sum(r["psi_contrib"] for r in rows) == pytest.approx(psi, abs=1e-5)

        # W1 = bin_width x sum |cdf gap| over the numerically ordered grid
        if kind == "bucket":
            gap = f_p = f_q = 0.0
            for b in sorted(cp, key=_bin_order):
                f_p += cp[b] / tp
                f_q += cq[b] / tq
                gap += abs(f_p - f_q)
            assert w1[(part, key)]["w1"] == pytest.approx(width * gap, abs=1e-6)

        # pooled two-sample chi-square; dof = bins live on either side - 1
        n_p, n_q = sum(cp.values()), sum(cq.values())
        x2 = 0.0
        for b in cp:
            pool = (cp[b] + cq[b]) / max(n_p + n_q, 1)
            for o, e in ((cp[b], n_p * pool), (cq[b], n_q * pool)):
                x2 += (o - e) ** 2 / e if e > 0 else 0.0
        c = chi2[(part, key)]
        assert c["chi2"] == pytest.approx(x2, abs=1e-6)
        assert c["dof"] == sum(1 for b in cp if cp[b] + cq[b] > 0) - 1
        assert (c["n_p"], c["n_q"]) == (n_p, n_q)

    # the planted cases really occur
    ties = {r["bin"]: r for r in explain[("p0", "ties")]}
    assert ties["x"]["psi_contrib"] == ties["y"]["psi_contrib"]
    assert ties["x"]["rank"] + 1 == ties["y"]["rank"]
    assert metrics[("p0", "zero_part")]["psi"] > 0


def test_changepoint_scan_finds_planted_step(spark):
    from nadeefiler_spark.drift import changepoint_scan

    rows = []
    # series A: clean step 10 -> 30 after t=12 (split at t=12)
    for t in range(1, 25):
        rows.append(("A", t, 10.0 if t <= 12 else 30.0))
    # series B: constant — low score, split is the noise argmax
    for t in range(1, 25):
        rows.append(("B", t, 5.0))
    # series C: too short for any split (n <= 2*min_seg guard)
    rows += [("C", 1, 1.0), ("C", 2, 9.0), ("C", 3, 1.0)]
    df = spark.createDataFrame(rows, "k string, t int, v double")
    out = {
        r["k"]: r
        for r in changepoint_scan(df, "v", "t", ("k",), min_seg=2).collect()
    }
    a = out["A"]
    assert a["split_at"] == 12
    assert a["mean_before"] == 10.0 and a["mean_after"] == 30.0
    assert a["score"] > 100  # near-zero pooled sd -> huge score
    assert out["B"]["score"] < 1e-6  # constant series scores ~0
    assert "C" not in out  # n=3 < 2*min_seg: no admissible split


def test_changepoint_scan_over_engine_metric_history(spark):
    """the operational composition: the manifest's per-(part, stage)
    n_violations series is exactly the input shape."""
    from nadeefiler_spark.drift import changepoint_scan

    hist = [
        ("flac", "audio", run, 3 if run < 6 else 40) for run in range(10)
    ] + [
        ("opus", "audio", run, 7) for run in range(10)
    ]
    df = spark.createDataFrame(
        hist, "part string, stage string, run int, n_violations int"
    )
    out = {
        (r["part"], r["stage"]): r
        for r in changepoint_scan(
            df, "n_violations", "run", ("part", "stage")
        ).collect()
    }
    assert out[("flac", "audio")]["split_at"] == 5
    assert out[("flac", "audio")]["score"] > out[("opus", "audio")]["score"] * 100
