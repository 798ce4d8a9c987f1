"""Data-quality operators (operators/dq.py)."""

from bdtopo2refhydro_spark.operators.dq import (
    check_constraints,
    check_unique,
    profile_columns,
)


def test_profile_columns_counts_nulls_and_distincts(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, None), (4, "b")],
        "id long, v string")
    got = {r.column: (r.n, r.n_null, r.n_distinct, r.min_str, r.max_str)
           for r in profile_columns(df).collect()}
    assert got["id"] == (4, 0, 4, "1", "4")
    assert got["v"] == (4, 1, 2, "a", "b")


def test_profile_columns_lexicographic_minmax_documented(spark):
    # 10 < 9 lexicographically — the profile is on the STRING form by
    # contract (both engines codepoint-order), not numeric order
    df = spark.createDataFrame([(10,), (9,)], "x long")
    [r] = profile_columns(df, ["x"]).collect()
    assert (r.min_str, r.max_str) == ("10", "9")


def test_check_constraints_single_pass_and_null_is_violation(spark):
    df = spark.createDataFrame(
        [(1, "en", 5), (2, "xx", -3), (3, None, 7)],
        "id long, lang string, n long")
    got = {r.rule: (r.n_checked, r.n_violations, r.passed)
           for r in check_constraints(df, [
               ("lang_known", "lang in ('en','fr','de')"),
               ("n_nonneg", "n >= 0"),
               ("id_notnull", "id is not null"),
           ]).collect()}
    # 'xx' fails; NULL lang is also a violation (unknown != ok)
    assert got["lang_known"] == (3, 2, False)
    assert got["n_nonneg"] == (3, 1, False)
    assert got["id_notnull"] == (3, 0, True)


def test_check_unique_counts_extra_copies(spark):
    df = spark.createDataFrame(
        [(1, "x"), (1, "y"), (1, "z"), (2, "w")], "k long, p string")
    [r] = check_unique(df, ["k"]).collect()
    assert (r.rule, r.n_checked, r.n_violations, r.passed) == \
        ("unique:k", 4, 2, False)

    [ok] = check_unique(df, ["k", "p"]).collect()
    assert ok.passed is True and ok.n_violations == 0


# ---------------------------------------------------------------------------
# pearson_pairs
# ---------------------------------------------------------------------------

def test_pearson_pairs_matches_numpy(spark):
    import numpy as np

    xs = [1, 2, 3, 4, 5, 6, 7, 9]
    ys = [2, 1, 4, 3, 7, 5, 9, 8]
    zs = [5, 5, 4, 4, 3, 3, 2, 1]
    df = spark.createDataFrame(
        list(zip(xs, ys, zs)), "x long, y long, z long")
    from bdtopo2refhydro_spark.operators.dq import pearson_pairs

    got = {(r["x_name"], r["y_name"]): r
           for r in pearson_pairs(df, ["x", "y", "z"]).collect()}
    assert set(got) == {("x", "y"), ("x", "z"), ("y", "z")}
    for (a, b), row in got.items():
        vals = {"x": xs, "y": ys, "z": zs}
        want = np.corrcoef(vals[a], vals[b])[0, 1]
        assert row["n"] == len(xs)
        assert abs(row["r"] - want) < 1e-12


def test_pearson_pairs_exact_extremes(spark):
    from bdtopo2refhydro_spark.operators.dq import pearson_pairs

    df = spark.createDataFrame(
        [(i, 3 * i + 7, -2 * i) for i in range(1, 9)],
        "x long, y long, z long")
    got = {(r["x_name"], r["y_name"]): r["r"]
           for r in pearson_pairs(df, ["x", "y", "z"]).collect()}
    assert got[("x", "y")] == 1.0
    assert got[("x", "z")] == -1.0
    assert got[("y", "z")] == -1.0


def test_welch_t_matches_reference_formula(spark):
    """welch_t_stats == the textbook Welch computation done in python
    floats on the same integer sums (and the sign of the planted
    effect comes out right)."""
    import math

    rows = []
    for g in ("a", "b"):
        for i in range(40):
            v = i % 7 + (3 if (g == "a" and i % 2 == 0) else 0)
            rows.append((g, i % 2, v))
    df = spark.createDataFrame(rows, "grp string, variant int, v long")
    from bdtopo2refhydro_spark.operators.dq import welch_t_stats

    got = {r["grp"]: r for r in welch_t_stats(
        df, group_col="grp", variant_col="variant",
        value_col="v").collect()}
    for g in ("a", "b"):
        xa = [v for gg, var, v in rows if gg == g and var == 0]
        xb = [v for gg, var, v in rows if gg == g and var == 1]
        na, nb = float(len(xa)), float(len(xb))
        ma, mb = sum(xa) / na, sum(xb) / nb
        va = (sum(x * x for x in xa) - sum(xa) * ma) / (na - 1.0)
        vb = (sum(x * x for x in xb) - sum(xb) * mb) / (nb - 1.0)
        se2 = va / na + vb / nb
        want_t = (ma - mb) / math.sqrt(se2)
        r = got[g]
        assert r["na"] == 20 and r["nb"] == 20
        assert abs(r["t_stat"] - want_t) < 1e-12
        assert abs(r["welch_df"]
                   - se2 * se2 / ((va / na) ** 2 / (na - 1.0)
                                  + (vb / nb) ** 2 / (nb - 1.0))) < 1e-9
    # planted +3 on variant 0 of group a only
    assert got["a"]["t_stat"] > 2.0
    assert abs(got["b"]["t_stat"]) < 1.0


def test_ewma_half_equals_direct_recursion(spark):
    """The closed-form power-of-two formulation equals the direct
    s_t = (s_{t-1} + x_t)/2 recursion BIT-exactly (both are exact
    rationals with power-of-two denominators below 2^53)."""
    xs = [913, 4, 777, 1000, 1, 0, 512, 255, 999, 3, 18, 731]
    rows = [(1, i, x) for i, x in enumerate(xs)]
    df = spark.createDataFrame(rows, "k int, i int, v long")
    from bdtopo2refhydro_spark.operators.dq import ewma_half

    got = [r["ewma"] for r in ewma_half(
        df, key_col="k", order_col="i",
        value_col="v").orderBy("i").collect()]
    s = None
    for i, x in enumerate(xs):
        s = float(x) if s is None else (s + x) / 2.0
        assert got[i] == s, (i, got[i], s)


def test_ewma_half_caps_rows_per_key(spark):
    rows = [(7, i, i) for i in range(40)]
    df = spark.createDataFrame(rows, "k int, i int, v long")
    from bdtopo2refhydro_spark.operators.dq import ewma_half

    out = ewma_half(df, key_col="k", order_col="i", value_col="v",
                    max_n=24).collect()
    assert len(out) == 24
