"""Connected components: propagation correctness + imputer integration."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import Row

from epiteam_network_etl_functions_spark.constants import SENTINEL_AGEB_13
from epiteam_network_etl_functions_spark.operators.components import (
    components_as_arrays,
    connected_components,
    connected_components_star,
)


def test_components_two_clusters_and_chain(spark):
    # component {1,2,3,4} as a chain (diameter 3) + {10,11} + {20,21,22} star
    edges = spark.createDataFrame(
        [Row(a_id=1, b_id=2), Row(a_id=2, b_id=3), Row(a_id=3, b_id=4),
         Row(a_id=10, b_id=11),
         Row(a_id=20, b_id=21), Row(a_id=20, b_id=22)]
    )
    labels = {r["node_id"]: r["component_id"] for r in connected_components(edges).collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_components_feed_imputer(spark):
    from epiteam_network_etl_functions_spark.plans.mobility import (
        impute_neighbour_frequency,
    )

    edges = spark.createDataFrame(
        [Row(a_id="A", b_id="B"), Row(a_id="B", b_id="D"), Row(a_id="A", b_id="C")]
    )
    comps = components_as_arrays(connected_components(edges))
    got = comps.collect()
    assert sorted(got[0]["connected_component"]) == ["A", "B", "C", "D"]

    homes = spark.createDataFrame(
        [Row(caid="A", home_ageb="0901200010010"),
         Row(caid="B", home_ageb="0901200010010"),
         Row(caid="C", home_ageb="1501200010020"),
         Row(caid="D", home_ageb=SENTINEL_AGEB_13)]
    )
    out = {r["caid"]: r["home_ageb"]
           for r in impute_neighbour_frequency(homes, comps, rounds=2).collect()}
    assert out["D"] == "0901200010010"


def test_star_components_match_min_label(spark):
    edges = spark.createDataFrame(
        [Row(a_id=1, b_id=2), Row(a_id=2, b_id=3), Row(a_id=3, b_id=4),
         Row(a_id=10, b_id=11),
         Row(a_id=20, b_id=21), Row(a_id=20, b_id=22)]
    )
    star = {r["node_id"]: r["component_id"]
            for r in connected_components_star(edges).collect()}
    assert star == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_star_components_random_graph_equivalence(spark):
    import random

    rng = random.Random(7)
    n = 400
    edges_py = [(rng.randrange(n), rng.randrange(n)) for _ in range(300)]
    edges_py = [(a, b) for a, b in edges_py if a != b]
    edges = spark.createDataFrame(edges_py, ["a_id", "b_id"])
    star = {r["node_id"]: r["component_id"]
            for r in connected_components_star(edges).collect()}
    ml = {r["node_id"]: r["component_id"]
          for r in connected_components(edges, max_iterations=100).collect()}
    assert star == ml


def test_star_components_path_graph_log_rounds(spark):
    # 10k-node path: diameter 9999 — min-label propagation would need 10k
    # rounds (its default 50-round cap raises); the star variant converges
    # in O(log n) rounds within its 40-round default cap.
    n = 10_000
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["a_id", "b_id"]
    )
    labels = connected_components_star(edges)
    from pyspark.sql import functions as F

    agg = labels.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("component_id").alias("ncomp"),
        F.min("component_id").alias("minc"),
        F.max("component_id").alias("maxc"),
    ).collect()[0]
    assert (agg["n"], agg["ncomp"], agg["minc"], agg["maxc"]) == (n, 1, 0, 0)


def _labels(df) -> dict:
    return {r["node_id"]: r["component_id"] for r in df.collect()}


@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)), min_size=1, max_size=40
    )
)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_star_components_equal_min_label_property(spark, pairs):
    """The window/observe star kernel labels every node exactly as
    min-label propagation does, duplicate and reversed edges included
    (self-loops are dropped: the star kernel leaves loop-only nodes out)."""
    edges = spark.createDataFrame(
        [(a, b) for a, b in pairs if a != b], "a_id long, b_id long"
    )
    assert _labels(connected_components_star(edges)) == _labels(
        connected_components(edges, max_iterations=60)
    )


def test_star_components_equal_min_label_on_scrambled_path(spark):
    # a 40-node path whose ids are shuffled, so the component minimum sits
    # mid-path and both kernels need more than a single round
    import random

    ids = list(range(100, 140))
    random.Random(3).shuffle(ids)
    edges = spark.createDataFrame(list(zip(ids, ids[1:])), ["a_id", "b_id"])
    star = _labels(connected_components_star(edges))
    assert star == _labels(connected_components(edges, max_iterations=60))
    assert set(star.values()) == {100}
