"""Computational-geometry operators (operators/geometry.py) vs
independent brute-force references."""

import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from bdtopo2refhydro_spark.operators.geometry import (
    convex_hull, rect_overlap_join, segment_intersections)


def _extreme_points_brute(pts):
    """Independent reference: p is a hull vertex iff some directed line
    through p and a witness q has every other point strictly left.
    Requires general position (no 3 collinear) — callers filter."""
    out = set()
    for p in pts:
        for q in pts:
            if q == p:
                continue
            if all((q[0] - p[0]) * (r[1] - p[1])
                   - (q[1] - p[1]) * (r[0] - p[0]) > 0
                   for r in pts if r != p and r != q):
                out.add(p)
                break
    return out


def _no_collinear(pts):
    n = len(pts)
    for i in range(n):
        for j in range(i + 1, n):
            for k in range(j + 1, n):
                (ax, ay), (bx, by), (cx, cy) = pts[i], pts[j], pts[k]
                if (bx - ax) * (cy - ay) - (by - ay) * (cx - ax) == 0:
                    return False
    return True


def test_convex_hull_random_vs_brute(spark):
    rng = random.Random(7)
    rows, expected = [], {}
    g = 0
    while g < 6:
        pts = list({(rng.randrange(-500, 500), rng.randrange(-500, 500))
                    for _ in range(25)})
        if not _no_collinear(pts):
            continue
        expected[g] = _extreme_points_brute(pts)
        rows += [(g, x, y) for x, y in pts]
        g += 1
    df = spark.createDataFrame(rows, "g long, x long, y long")
    got = convex_hull(df, "g", "x", "y").collect()
    by_g = {}
    for r in got:
        by_g.setdefault(r["g"], set()).add((r["x"], r["y"]))
    assert by_g == expected


def test_convex_hull_collinear_and_duplicates(spark):
    # square + edge midpoints + center + duplicates -> 4 corners only
    pts = [(0, 0), (4, 0), (4, 4), (0, 4),
           (2, 0), (4, 2), (2, 4), (0, 2), (2, 2), (0, 0), (4, 4)]
    df = spark.createDataFrame([(1, x, y) for x, y in pts],
                               "g long, x long, y long")
    got = convex_hull(df, "g", "x", "y").collect()
    assert {(r["x"], r["y"]) for r in got} == {(0, 0), (4, 0), (4, 4), (0, 4)}
    # CCW order from the lexicographic minimum
    order = [(r["x"], r["y"]) for r in
             sorted(got, key=lambda r: r["hull_pos"])]
    assert order == [(0, 0), (4, 0), (4, 4), (0, 4)]


def test_convex_hull_two_level_matches_single_bucket(spark):
    rng = random.Random(3)
    pts = [(rng.randrange(0, 10**6), rng.randrange(0, 10**6))
           for _ in range(400)]
    df = spark.createDataFrame([(1, x, y) for x, y in pts],
                               "g long, x long, y long")
    multi = {(r["x"], r["y"], r["hull_pos"])
             for r in convex_hull(df, n_buckets=64).collect()}
    single = {(r["x"], r["y"], r["hull_pos"])
              for r in convex_hull(df, n_buckets=1).collect()}
    assert multi == single and len(multi) >= 3


def _proper_cross(a, b):
    (px, py, qx, qy), (rx, ry, sx, sy) = a, b

    def o(ax, ay, bx, by, cx, cy):
        v = (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)
        return (v > 0) - (v < 0)

    return (o(px, py, qx, qy, rx, ry) * o(px, py, qx, qy, sx, sy) < 0
            and o(rx, ry, sx, sy, px, py) * o(rx, ry, sx, sy, qx, qy) < 0)


def test_segment_intersections_vs_brute(spark):
    rng = random.Random(5)
    segs = []
    for i in range(120):
        x0, y0 = rng.randrange(0, 800), rng.randrange(0, 800)
        segs.append((i, x0, y0, x0 + rng.randrange(-150, 151),
                     y0 + rng.randrange(-150, 151)))
    expected = {(a[0], b[0]) for ai, a in enumerate(segs)
                for b in segs[ai + 1:]
                if _proper_cross(a[1:], b[1:])}
    df = spark.createDataFrame(segs, "sid long, x0 long, y0 long, "
                                     "x1 long, y1 long")
    got = {(r["a"], r["b"]) for r in
           segment_intersections(df, cell=64).collect()}
    assert got == expected and len(expected) > 10


def test_segment_touch_is_not_proper(spark):
    # shared endpoint and T-touch: excluded; true crossing: included
    segs = [(0, 0, 0, 10, 0), (1, 10, 0, 10, 10),   # shared endpoint
            (2, 5, -5, 5, 0),                        # T-touch onto seg 0
            (3, 3, -1, 4, 1)]                        # crosses seg 0
    df = spark.createDataFrame(segs, "sid long, x0 long, y0 long, "
                                     "x1 long, y1 long")
    got = {(r["a"], r["b"]) for r in
           segment_intersections(df, cell=4).collect()}
    assert got == {(0, 3)}


def test_rect_overlap_join_vs_brute_no_dupes(spark):
    rng = random.Random(9)
    def rects(n, w):
        out = []
        for i in range(n):
            x0, y0 = rng.randrange(0, 1000), rng.randrange(0, 1000)
            out.append((i, x0, y0, x0 + rng.randrange(0, w),
                        y0 + rng.randrange(0, w)))
        return out

    A, B = rects(60, 400), rects(50, 300)
    expected = {(i, j) for (i, ax0, ay0, ax1, ay1) in A
                for (j, bx0, by0, bx1, by1) in B
                if ax0 <= bx1 and bx0 <= ax1 and ay0 <= by1 and by0 <= ay1}
    da = spark.createDataFrame(A, "aid long, ax0 long, ay0 long, "
                                  "ax1 long, ay1 long")
    db = spark.createDataFrame(B, "bid long, bx0 long, by0 long, "
                                  "bx1 long, by1 long")
    rows = rect_overlap_join(da, db, cell=128).collect()
    got = [(r["aid"], r["bid"]) for r in rows]
    assert len(got) == len(set(got)), "responsibility-cell dedup failed"
    assert set(got) == expected and len(expected) > 50


def test_pair_join_plans_have_no_cartesian_or_distinct(spark):
    da = spark.range(10).select(
        F.col("id").alias("aid"), (F.col("id") * 7 % 100).alias("ax0"),
        (F.col("id") * 13 % 100).alias("ay0"),
        (F.col("id") * 7 % 100 + 5).alias("ax1"),
        (F.col("id") * 13 % 100 + 5).alias("ay1"))
    db = da.select(F.col("aid").alias("bid"), F.col("ax0").alias("bx0"),
                   F.col("ay0").alias("by0"), F.col("ax1").alias("bx1"),
                   F.col("ay1").alias("by1"))
    plan = rect_overlap_join(da, db, cell=32)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "Distinct" not in plan and "HashAggregate" not in plan
