"""AHU tree-isomorphism classes (batch 82)."""
import random

import pytest

from bdtopo2refhydro_spark.operators.graph import ahu_tree_classes


def _ahu_ref(children, node):
    codes = sorted(_ahu_ref(children, c) for c in children.get(node, ()))
    return "(" + "".join(codes) + ")"


def _collect(spark, rows):
    df = spark.createDataFrame(rows, "tid long, node long, parent long")
    return {r["tid"]: r["iso"] for r in ahu_tree_classes(df).collect()}


def test_permuted_path_is_isomorphic_star_is_not(spark):
    rows = []
    # tree 0: path 0-1-2-3; tree 1: same path, relabeled 0-3-1-2;
    # tree 2: star centered at 0
    for c, p in [(1, 0), (2, 1), (3, 2)]:
        rows.append((0, c, p))
    for c, p in [(3, 0), (1, 3), (2, 1)]:
        rows.append((1, 100 + c, 100 + p))
    for c in (1, 2, 3):
        rows.append((2, 200 + c, 200 + 0))
    rows += [(0, 0, None), (1, 100, None), (2, 200, None)]
    got = _collect(spark, rows)
    assert got[0] == got[1]
    assert got[0] != got[2]


@pytest.mark.parametrize("seed", [5, 17])
def test_random_forest_vs_reference(spark, seed):
    rng = random.Random(seed)
    rows, want = [], {}
    for tid in range(8):
        n = rng.randrange(2, 14)
        children = {}
        for v in range(1, n):
            p = rng.randrange(v)
            children.setdefault(p, []).append(v)
            rows.append((tid, tid * 1000 + v, tid * 1000 + p))
        rows.append((tid, tid * 1000, None))
        want[tid] = _ahu_ref(children, 0)
    got = _collect(spark, rows)
    assert got == want
