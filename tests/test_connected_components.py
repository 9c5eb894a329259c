"""Connected components on adversarial graphs, checked on both physical
paths (driver labelling and the distributed star loop, each after the
per-partition spanning-forest contraction) against a plain union-find kept
here as the reference; plus the loop's iteration cap and the driver path's
Spark job budget."""

from __future__ import annotations

import pytest

from mashing_pumpkins_spark.operators.connected_components import (
    connected_components,
    connected_components_auto,
)

EDGES = "url_a string, url_b string"
PATHS = {"distributed": 0, "driver": 10**9}


def _reference(edges: list[tuple[str, str]]) -> dict[str, str]:
    """url -> min url of its component; self-loops carry no connectivity."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a == b:
            continue
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _chain(n: int) -> list[tuple[str, str]]:
    # urls descend along the chain: the worst case for label propagation
    return [(f"c{n - i:05d}", f"c{n - i - 1:05d}") for i in range(n - 1)]


def _clique(prefix: str, k: int) -> list[tuple[str, str]]:
    return [(f"{prefix}{i:03d}", f"{prefix}{j:03d}") for i in range(k) for j in range(i + 1, k)]


GRAPHS = {
    "descending_chain": _chain(2000),
    "split_clique": _clique("k", 40),
    "dups_and_self_loops": [
        ("b", "a"), ("a", "b"), ("a", "b"), ("b", "c"), ("c", "c"),
        ("z", "z"), ("y", "x"), ("x", "y"), ("y", "y"),
    ],
    "single_edge": [("q", "p")],
}


@pytest.mark.parametrize("path", sorted(PATHS))
@pytest.mark.parametrize("graph", sorted(GRAPHS))
def test_cc_matches_reference_union_find(spark, graph, path):
    edges = GRAPHS[graph]
    df = spark.createDataFrame(edges, EDGES).repartition(4)
    clusters, iters = connected_components_auto(df, driver_threshold=PATHS[path])
    got = {r["url"]: r["cluster_id"] for r in clusters.collect()}
    assert got == _reference(edges)
    assert clusters.count() == len(got)  # one row per url
    assert (iters > 0) == (path == "distributed")


@pytest.mark.parametrize("path", sorted(PATHS))
def test_cc_empty_edges_keep_schema(spark, path):
    df = spark.createDataFrame([], EDGES)
    clusters, _ = connected_components_auto(df, driver_threshold=PATHS[path])
    assert clusters.schema.simpleString() == "struct<url:string,cluster_id:string>"
    assert clusters.collect() == []


def test_cc_raises_at_iteration_cap(spark):
    df = spark.createDataFrame(_chain(2000), EDGES).repartition(4)
    with pytest.raises(RuntimeError, match="not converged after 1 rounds"):
        connected_components(df, max_iterations=1)


def test_cc_driver_path_job_budget(spark):
    """The driver path costs exactly two Spark jobs: the forest row count
    (which also fills its cache) and the one toArrow collect. A return to
    per-round jobs, or to DataFrame.count()'s extra stage jobs, fails."""
    sc = spark.sparkContext
    edges = _clique("m", 30) + _clique("n", 20)
    df = spark.createDataFrame(edges, EDGES)
    df.collect()  # any set-up job of the input happens outside the group
    sc.setJobGroup("cc_job_budget", "cc_job_budget")
    try:
        clusters, iters = connected_components_auto(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup("cc_job_budget")) == 2
    assert iters == 0
    assert {r["cluster_id"] for r in clusters.collect()} == {"m000", "n000"}
