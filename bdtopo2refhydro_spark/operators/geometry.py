"""Computational-geometry operators, Spark-shaped.

The reference's geometry work (buffering, endpoint snapping, zonal
clipping — create_exutoire.py / create_5m_width_hydro_network.py) is
per-feature; these are the set-level geometric primitives a web-scale
geoparsed corpus needs on top: convex hulls of point clouds (coverage
footprints), segment intersection joins and rectangle overlap joins
(layout/bbox analytics).

Scale posture (the same discipline as operators/spatial.py):

- NO all-pairs stage anywhere. Pair generation is cell-bucketed
  (3x3 neighbor join, or bbox cover equi-join on cells); the only wide
  ops are equi-joins/groupBys on integer keys, AQE splits hot cells.
- Pair dedup WITHOUT DISTINCT: a candidate pair seen in k shared cells
  is emitted only from its *responsibility cell* (the cell containing
  the lexicographic-min corner of the bbox intersection) — a pure
  filter, zero extra shuffle.
- Convex hull reduces two-level: per-bucket partial hulls (tiny
  pandas groups) -> union of partial hull vertices -> final hull.
  hull(A u B) = hull(hull(A) u hull(B)), so the reduction is exact and
  the final group is ~O(buckets * hull size), not O(n).
- All predicates are integer arithmetic (orientation tests use sign()
  products so int64 never overflows under ANSI mode) -> bit-exact
  against a DuckDB brute-force oracle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# convex hull
# ---------------------------------------------------------------------------


def _chain_half(pts: np.ndarray) -> list[np.ndarray]:
    """One monotone-chain half; strict turns (cross <= 0 pops), so
    collinear edge-interior points are excluded -> minimal vertex set."""
    h: list[np.ndarray] = []
    for p in pts:
        while len(h) >= 2:
            ox, oy = h[-2]
            ax, ay = h[-1]
            if (ax - ox) * (p[1] - oy) - (ay - oy) * (p[0] - ox) <= 0:
                h.pop()
            else:
                break
        h.append(p)
    return h


def _hull_points(xs: np.ndarray, ys: np.ndarray) -> np.ndarray:
    """Andrew monotone chain over int64 coords; returns the hull
    vertices in CCW order starting at the lexicographic minimum.
    Handles duplicates (deduped first) and n <= 2 degenerate sets."""
    pts = np.unique(np.stack([xs, ys], axis=1), axis=0)  # lex-sorted
    if len(pts) <= 2:
        return pts
    lower = _chain_half(pts)
    upper = _chain_half(pts[::-1])
    if len(lower) + len(upper) == 2:  # all collinear: keep extremes
        return np.stack([pts[0], pts[-1]])
    return np.stack(lower[:-1] + upper[:-1])


def convex_hull(points: DataFrame, group_col: str = "g",
                x_col: str = "x", y_col: str = "y",
                n_buckets: int = 64) -> DataFrame:
    """Exact convex hull per group, two-level.

    Level 1 buckets each group's points by a hash (n_buckets ways) and
    computes a partial hull per (group, bucket) — bounded pandas
    groups even when one group holds billions of points. Level 2 runs
    the chain once per group over the surviving partial-hull vertices
    (per bucket that is O(hull size), typically tiny). Exact because
    hull(A u B) = hull(hull(A) u hull(B)).

    Returns (group, x, y) hull vertices plus ``hull_pos`` — the CCW
    position starting at the lexicographic-min vertex.
    """
    p = points.select(
        F.col(group_col).alias("g"),
        F.col(x_col).cast("long").alias("x"),
        F.col(y_col).cast("long").alias("y"),
        F.pmod(F.xxhash64(x_col, y_col), F.lit(n_buckets)).alias("b"),
    )

    def _partial(pdf: pd.DataFrame) -> pd.DataFrame:
        h = _hull_points(pdf["x"].to_numpy(np.int64),
                         pdf["y"].to_numpy(np.int64))
        return pd.DataFrame({"g": pdf["g"].iloc[0],
                             "x": h[:, 0], "y": h[:, 1]})

    partial = p.groupBy("g", "b").applyInPandas(
        _partial, "g long, x long, y long")

    def _final(pdf: pd.DataFrame) -> pd.DataFrame:
        h = _hull_points(pdf["x"].to_numpy(np.int64),
                         pdf["y"].to_numpy(np.int64))
        return pd.DataFrame({
            "g": pdf["g"].iloc[0], "x": h[:, 0], "y": h[:, 1],
            "hull_pos": np.arange(len(h), dtype=np.int64)})

    return partial.groupBy("g").applyInPandas(
        _final, "g long, x long, y long, hull_pos long")


# ---------------------------------------------------------------------------
# cell-cover pair joins (segments, rectangles)
# ---------------------------------------------------------------------------


def _bbox_cover(df: DataFrame, x0, y0, x1, y1, cell: int) -> DataFrame:
    """Explode each row into the cells its bbox touches (JVM sequence
    explode, fully codegen). x0<=x1, y0<=y1 required."""
    c = F.lit(int(cell))
    return (df
            .withColumn("cx", F.explode(F.sequence(
                F.floor(x0 / c).cast("long"), F.floor(x1 / c).cast("long"))))
            .withColumn("cy", F.explode(F.sequence(
                F.floor(y0 / c).cast("long"), F.floor(y1 / c).cast("long")))))


def segment_intersections(segs: DataFrame, id_col: str = "sid",
                          cols=("x0", "y0", "x1", "y1"),
                          cell: int = 128) -> DataFrame:
    """All PROPERLY crossing segment pairs (a < b): integer orientation
    tests sign(d1)*sign(d2) < 0 on both segments (touching endpoints /
    collinear overlap excluded — the closed predicates belong to the
    snapping family, operators/graph.py:snap_knn).

    Candidates come from a bbox-cover equi-join on cells (a crossing
    point lies in a cell covered by BOTH bboxes, so the cover join is a
    superset). A pair sharing k cells is emitted once, from its
    responsibility cell = cell of the intersection bbox's min corner —
    a filter, not a DISTINCT, so no second shuffle of pair keys.
    """
    x0, y0, x1, y1 = cols
    s = segs.select(
        F.col(id_col).cast("long").alias("sid"),
        F.least(x0, x1).cast("long").alias("bx0"),
        F.least(y0, y1).cast("long").alias("by0"),
        F.greatest(x0, x1).cast("long").alias("bx1"),
        F.greatest(y0, y1).cast("long").alias("by1"),
        F.col(x0).cast("long").alias("px"), F.col(y0).cast("long").alias("py"),
        F.col(x1).cast("long").alias("qx"), F.col(y1).cast("long").alias("qy"))
    cov = _bbox_cover(s, F.col("bx0"), F.col("by0"),
                      F.col("bx1"), F.col("by1"), cell)
    a = cov.select(*[F.col(c).alias("a_" + c) for c in
                     ("sid", "bx0", "by0", "px", "py", "qx", "qy")],
                   "cx", "cy")
    b = cov.select(*[F.col(c).alias("b_" + c) for c in
                     ("sid", "bx0", "by0", "px", "py", "qx", "qy")],
                   "cx", "cy")
    j = a.join(b, ["cx", "cy"]).filter(F.col("a_sid") < F.col("b_sid"))
    c = F.lit(int(cell))
    resp = ((F.floor(F.greatest("a_bx0", "b_bx0") / c) == F.col("cx"))
            & (F.floor(F.greatest("a_by0", "b_by0") / c) == F.col("cy")))

    def _orient(ox, oy, dx_, dy_, px_, py_):
        return F.signum(((F.col(dx_) - F.col(ox)) * (F.col(py_) - F.col(oy))
                         - (F.col(dy_) - F.col(oy))
                         * (F.col(px_) - F.col(ox))).cast("double"))

    d1 = _orient("a_px", "a_py", "a_qx", "a_qy", "b_px", "b_py")
    d2 = _orient("a_px", "a_py", "a_qx", "a_qy", "b_qx", "b_qy")
    d3 = _orient("b_px", "b_py", "b_qx", "b_qy", "a_px", "a_py")
    d4 = _orient("b_px", "b_py", "b_qx", "b_qy", "a_qx", "a_qy")
    return (j.filter(resp & (d1 * d2 < 0) & (d3 * d4 < 0))
            .select(F.col("a_sid").alias("a"), F.col("b_sid").alias("b")))


def rect_overlap_join(a: DataFrame, b: DataFrame,
                      a_id: str = "aid", b_id: str = "bid",
                      a_cols=("ax0", "ay0", "ax1", "ay1"),
                      b_cols=("bx0", "by0", "bx1", "by1"),
                      cell: int = 256) -> DataFrame:
    """Rectangle (closed-interval) overlap join: bbox-cover equi-join
    on cells, overlap = ax0<=bx1 AND bx0<=ax1 (both axes), each pair
    emitted once from the responsibility cell of the intersection's
    min corner. Zero DISTINCT; the big sides shuffle once on integer
    cell keys and AQE splits hot cells."""
    ax0, ay0, ax1, ay1 = a_cols
    bx0, by0, bx1, by1 = b_cols
    al = a.select(F.col(a_id).cast("long").alias("aid"),
                  F.col(ax0).cast("long").alias("ax0"),
                  F.col(ay0).cast("long").alias("ay0"),
                  F.col(ax1).cast("long").alias("ax1"),
                  F.col(ay1).cast("long").alias("ay1"))
    bl = b.select(F.col(b_id).cast("long").alias("bid"),
                  F.col(bx0).cast("long").alias("bx0"),
                  F.col(by0).cast("long").alias("by0"),
                  F.col(bx1).cast("long").alias("bx1"),
                  F.col(by1).cast("long").alias("by1"))
    ac = _bbox_cover(al, F.col("ax0"), F.col("ay0"),
                     F.col("ax1"), F.col("ay1"), cell)
    bc = _bbox_cover(bl, F.col("bx0"), F.col("by0"),
                     F.col("bx1"), F.col("by1"), cell)
    c = F.lit(int(cell))
    overlap = ((F.col("ax0") <= F.col("bx1")) & (F.col("bx0") <= F.col("ax1"))
               & (F.col("ay0") <= F.col("by1"))
               & (F.col("by0") <= F.col("ay1")))
    resp = ((F.floor(F.greatest("ax0", "bx0") / c) == F.col("cx"))
            & (F.floor(F.greatest("ay0", "by0") / c) == F.col("cy")))
    return (ac.join(bc, ["cx", "cy"])
            .filter(overlap & resp)
            .select("aid", "bid"))


def rect_union_area(rects: DataFrame, *, g: str = "g", x1: str = "x1",
                    x2: str = "x2", y1: str = "y1", y2: str = "y2"
                    ) -> DataFrame:
    """Exact union area of axis-aligned half-open integer rectangles
    per group — the classic sweep, Spark-shaped with NO sequential
    scan: (1) distinct x boundaries per group become SLABS via one
    lead() window; (2) each rectangle joins the slabs it spans (at
    scale this is the bucketed interval join, range_join_buckets);
    (3) within each (group, slab) the y-interval union length is one
    running-max window pass — contribution = max(0, y2 − max(y1,
    running-max-of-previous-y2)) — all windows partitioned by
    (group, slab), so nothing global; (4) area = Σ slab_width ×
    y_union. Integer-exact. Returns (g, area)."""
    r = rects.select(F.col(g).alias("g"),
                     F.col(x1).cast("long").alias("x1"),
                     F.col(x2).cast("long").alias("x2"),
                     F.col(y1).cast("long").alias("y1"),
                     F.col(y2).cast("long").alias("y2")) \
        .where((F.col("x1") < F.col("x2")) & (F.col("y1") < F.col("y2"))) \
        .localCheckpoint(eager=False)
    xs = (r.select("g", F.col("x1").alias("x"))
          .union(r.select("g", F.col("x2").alias("x"))).distinct())
    w_next = Window.partitionBy("g").orderBy("x")
    slabs = (xs.withColumn("sx2", F.lead("x").over(w_next))
             .where(F.col("sx2").isNotNull())
             .select("g", F.col("x").alias("sx1"), "sx2"))
    cand = slabs.join(r, "g").where(
        (F.col("x1") <= F.col("sx1")) & (F.col("sx2") <= F.col("x2")))
    w_run = Window.partitionBy("g", "sx1").orderBy("y1", "y2") \
        .rowsBetween(Window.unboundedPreceding, -1)
    seg = cand.withColumn("pmax", F.max("y2").over(w_run)) \
        .withColumn("contrib",
                    F.greatest(F.lit(0),
                               F.col("y2")
                               - F.greatest(F.col("y1"),
                                            F.coalesce("pmax",
                                                       F.col("y1")))))
    return (seg.groupBy("g", "sx1", "sx2")
            .agg(F.sum("contrib").alias("ylen"))
            .groupBy("g")
            .agg(F.sum((F.col("sx2") - F.col("sx1")) * F.col("ylen"))
                 .alias("area")))
