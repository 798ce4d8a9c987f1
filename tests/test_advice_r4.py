"""Regression tests for the round-4 ADVICE items: silent cap-exhaustion
truncation now raises, jp_coloring enforces its id-range contract,
count_four_cycles stays integer-exact, and the degenerate-input crashes
in irv_rounds / entity_clusters are handled."""

import pytest
from pyspark.sql import functions as F


# --- ADVICE #1 (medium): cap exhaustion must raise, not truncate -------

def test_ahu_tree_classes_raises_on_height_cap(spark):
    from bdtopo2refhydro_spark.operators.graph import ahu_tree_classes
    # a depth-5 path tree: needs 5 labeling rounds, cap at 2
    rows = [(1, 0, None)] + [(1, i, i - 1) for i in range(1, 6)]
    df = spark.createDataFrame(rows, "tid long, node long, parent long")
    with pytest.raises(RuntimeError, match="max_height"):
        ahu_tree_classes(df, max_height=2)
    # and the uncapped default still converges
    assert ahu_tree_classes(df).count() == 1


def test_bom_rollup_raises_on_cap(spark):
    from bdtopo2refhydro_spark.operators.graph import bom_rollup
    e = spark.createDataFrame(
        [(i, i + 1, 2) for i in range(6)], "u long, v long, m long")
    with pytest.raises(RuntimeError, match="max_rounds"):
        bom_rollup(e, max_rounds=2)
    got = {r["part"]: r["qty"] for r in bom_rollup(e).collect()}
    assert got == {i + 1: 2 ** (i + 1) for i in range(6)}


def test_earliest_arrival_raises_on_cap(spark):
    from bdtopo2refhydro_spark.operators.graph import earliest_arrival
    e = spark.createDataFrame(
        [(i, i + 1, i, i + 1) for i in range(8)],
        "u long, v long, dep long, arr long")
    with pytest.raises(RuntimeError, match="max_rounds"):
        earliest_arrival(e, 0, max_rounds=2)


# --- ADVICE #2: jp_coloring id-range contract --------------------------

def test_jp_coloring_rejects_ids_beyond_2_31(spark):
    from bdtopo2refhydro_spark.operators.graph import jp_coloring
    big = 1 << 31
    df = spark.createDataFrame([(big, big + 1)], "u long, v long")
    with pytest.raises(ValueError, match="2\\^31"):
        jp_coloring(df)


# --- ADVICE #3: count_four_cycles integer exactness --------------------

def test_count_four_cycles_integer_type_and_value(spark):
    from bdtopo2refhydro_spark.operators.graph import count_four_cycles
    # K4 has 3 four-cycles
    edges = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    df = spark.createDataFrame(edges, "u long, v long")
    out = count_four_cycles(df)
    assert dict(out.dtypes)["n_c4"] == "bigint"
    assert out.first()["n_c4"] == 3


# --- ADVICE #4: irv_rounds degenerate candidate sets -------------------

def test_irv_rounds_single_candidate(spark):
    from bdtopo2refhydro_spark.operators.aggregate import irv_rounds
    df = spark.createDataFrame([(1, 7, 1), (2, 7, 1)],
                               "ballot long, cand long, rnk long")
    rows = irv_rounds(df).collect()
    assert [(r["round"], r["cand"], r["votes"]) for r in rows] \
        == [(1, 7, 2)]


# --- ADVICE #5: entity_clusters empty key_cols -------------------------

def test_entity_clusters_empty_keys_raises(spark):
    from bdtopo2refhydro_spark.operators.cdc import entity_clusters
    df = spark.createDataFrame([(1, "a@x")], "rid long, em string")
    with pytest.raises(ValueError, match="key_cols"):
        entity_clusters(df, "rid", [])
