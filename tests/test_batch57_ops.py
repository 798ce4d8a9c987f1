"""pareto_skyline vs brute dominance; mg_heavy_hitters exactness
across partitionings; irv_rounds vs a python simulation."""

import random

from bdtopo2refhydro_spark.operators.corpus import (
    mg_heavy_hitters, pareto_skyline)


def test_skyline_vs_brute(spark):
    rng = random.Random(3)
    rows = [(g, rng.randrange(0, 100), rng.randrange(0, 100))
            for g in range(3) for _ in range(150)]
    df = spark.createDataFrame(rows, "g long, x long, y long")
    got = {(r["g"], r["x"], r["y"])
           for r in pareto_skyline(df, "x", "y").collect()}
    pts = {}
    for g, x, y in rows:
        pts.setdefault(g, set()).add((x, y))
    expected = set()
    for g, s in pts.items():
        for p in s:
            if not any(q[0] <= p[0] and q[1] <= p[1] and q != p
                       and (q[0] < p[0] or q[1] < p[1]) for q in s):
                expected.add((g, *p))
    # engine pre-collapses x ties to min y; brute must too
    collapsed = set()
    for g, x, y in expected:
        ymin = min(yy for gg, xx, yy in expected
                   if gg == g and xx == x)
        if y == ymin:
            collapsed.add((g, x, y))
    assert got == collapsed


def test_mg_heavy_hitters_exact_any_partitioning(spark):
    rng = random.Random(7)
    items = (["hot_a"] * 300 + ["hot_b"] * 200
             + [f"cold{rng.randrange(0, 400)}" for _ in range(500)])
    rng.shuffle(items)
    expected = {}
    n = len(items)
    from collections import Counter
    for it, c in Counter(items).items():
        if c * 8 > n:
            expected[it] = c
    for parts in (1, 7, 32):
        df = spark.createDataFrame([(i,) for i in items],
                                   "item string").repartition(parts)
        got = {r["item"]: r["cnt"]
               for r in mg_heavy_hitters(df, "item", 8).collect()}
        assert got == expected, parts
    assert expected  # fixture actually has heavy hitters


def test_irv_rounds_vs_python_simulation(spark):
    import random

    from bdtopo2refhydro_spark.operators.aggregate import irv_rounds

    rng = random.Random(77)
    n_ballots, cands = 60, list(range(5))
    ballots = []
    for b in range(n_ballots):
        perm = cands[:]
        rng.shuffle(perm)
        ballots.append(perm)
    rows = [(b, c, r + 1) for b, perm in enumerate(ballots)
            for r, c in enumerate(perm)]
    df = spark.createDataFrame(rows, "ballot long, cand long, rnk long")
    got = {(r["round"], r["cand"]): r["votes"]
           for r in irv_rounds(df).collect()}

    elim, want = [], {}
    for rnd in range(1, len(cands)):
        alive = [c for c in cands if c not in elim]
        counts = {c: 0 for c in alive}
        for perm in ballots:
            counts[next(c for c in perm if c in alive)] += 1
        for c in alive:
            want[(rnd, c)] = counts[c]
        elim.append(min(alive, key=lambda c: (counts[c], c)))
    assert got == want
