"""linreg_groups / nb_train_predict vs exact python references
(integer arithmetic, Fraction argmax)."""

import random
from fractions import Fraction

from bdtopo2refhydro_spark.operators.ml import (
    linreg_groups, nb_train_predict)


def test_linreg_groups_exact(spark):
    rng = random.Random(2)
    rows = []
    for g in range(5):
        for _ in range(120):
            x = rng.randrange(0, 100)
            rows.append((g, x, 3 * x + rng.randrange(-7, 8) + g))
    df = spark.createDataFrame(rows, "g long, x long, y long")
    got = {r["g"]: (r["n"], r["slope"], r["intercept"])
           for r in linreg_groups(df).collect()}
    for g in range(5):
        pts = [(x, y) for gg, x, y in rows if gg == g]
        n = len(pts)
        sx = sum(x for x, _ in pts)
        sy = sum(y for _, y in pts)
        sxy = sum(x * y for x, y in pts)
        sxx = sum(x * x for x, _ in pts)
        N = n * sxy - sx * sy
        D = n * sxx - sx * sx
        assert got[g] == (n, N / D, (sy * D - sx * N) / (n * D))


def test_nb_train_predict_matches_fraction_argmax(spark):
    rng = random.Random(4)
    V = 10
    train = [(rng.randrange(0, 2), rng.randrange(0, V))
             for _ in range(400)]
    probes = [(p, [rng.randrange(0, V) for _ in range(4)])
              for p in range(30)]
    tdf = spark.createDataFrame(train, "label long, token long")
    pdf = spark.createDataFrame(probes, "pid long, toks array<long>")
    got = {r["pid"]: (r["p1"], r["p0"], r["pred"])
           for r in nb_train_predict(tdf, pdf, V).collect()}
    from collections import Counter
    cnt = Counter(train)
    n1 = sum(1 for lab, _ in train if lab == 1)
    n0 = len(train) - n1
    for pid, toks in probes:
        p1 = p0 = 1
        for t in toks:
            p1 *= cnt[(1, t)] + 1
            p0 *= cnt[(0, t)] + 1
        s1 = Fraction(n1, n1 + len(train)) * Fraction(p1, (n1 + V) ** 4)
        s0 = Fraction(n0, n0 + len(train)) * Fraction(p0, (n0 + V) ** 4)
        # same argmax as the cross-multiplied integer comparison
        pred = 1 if n1 * p1 * (n0 + V) ** 4 > n0 * p0 * (n1 + V) ** 4 else 0
        assert s1 > s0 if pred == 1 else s1 <= s0
        assert got[pid] == (p1, p0, pred)
