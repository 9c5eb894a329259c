"""Connected components over the verified-edge graph.

Every call first contracts the graph to a spanning forest (HERO, SIGMOD'24:
reduce inside each partition, then do the global work on what remains). One
mapInArrow pass labels each partition's edges and emits one edge (node,
local root) per non-root node, the root being the partition-local minimum
url. Connectivity, hence cluster_id = min url, is unchanged. A partition
emits fewer edges than it has distinct urls, so the forest holds at most
min(edges, partitions x urls) edges; a k-clique shrinks from O(k^2) to k-1.

The forest edge count -- exactly what the driver would collect -- picks the
path. Up to `driver_threshold`: one toArrow collect, labelled by the same
numpy `_min_labels`. Above it: alternating large-star / small-star (Kiveris
et al., "Connected Components in MapReduce and Beyond", SoCC'14 -- public
algorithm), O(log^2 n) rounds of groupBy-min + join, each ending in
localCheckpoint() so the plan doesn't grow with the loop. It stops on an
exact test, one aggregate per round: the edges are disjoint stars (no node
has two parents, no parent has one). It raises at `max_iterations`.

Node ids are the url strings. A url seen only in self-loops is not output.
The reference has no clustering at all (notebook "Sketches..." cell 11 is
an O(n^2) user-side loop); this stage is the north star's addition.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _min_labels(a: np.ndarray, b: np.ndarray, n: int) -> np.ndarray:
    """Per id in [0, n): the minimum id of its component under edges
    (a[i], b[i]). Each round hooks every root to the smallest root across
    its edges, then pointer-jumps to stars; a round that hooks nothing ends
    the loop. Pointers only ever decrease, so it terminates."""
    label = np.arange(n)
    while True:
        la, lb = label[a], label[b]
        lo = np.minimum(la, lb)
        nxt = label.copy()
        np.minimum.at(nxt, la, lo)
        np.minimum.at(nxt, lb, lo)
        while not np.array_equal(jumped := nxt[nxt], nxt):
            nxt = jumped
        if np.array_equal(nxt, label):
            return label
        label = nxt


def _label_urls(url_a: pa.ChunkedArray, url_b: pa.ChunkedArray) -> tuple[pa.Array, pa.Array]:
    """(urls, component minimum url per url) over the edges. Ids are
    assigned in sorted (bytewise, Spark's string order) url order, so the
    minimum id is the minimum url."""
    enc = pa.chunked_array(url_a.chunks + url_b.chunks, url_a.type).combine_chunks()
    enc = enc.dictionary_encode()
    order = pc.sort_indices(enc.dictionary)
    rank = np.empty(len(order), dtype=np.int64)
    rank[order.to_numpy()] = np.arange(len(order))
    ids = rank[enc.indices.to_numpy()]
    urls = enc.dictionary.take(order)
    m = len(url_a)
    return urls, urls.take(_min_labels(ids[:m], ids[m:], len(urls)))


def _contract(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    batches = list(batches)
    if not batches:
        return
    tbl = pa.Table.from_batches(batches)
    urls, roots = _label_urls(tbl.column(0), tbl.column(1))
    child = pc.not_equal(urls, roots)
    yield pa.RecordBatch.from_arrays(
        [urls.filter(child), roots.filter(child)], names=["url_a", "url_b"]
    )


def _is_star_forest(edges: DataFrame) -> bool:
    """Exact stop test: no node has two parents and no parent has one."""
    ends = edges.select(F.col("u").alias("n"), F.lit(1).alias("out")).union(
        edges.select(F.col("v").alias("n"), F.lit(0).alias("out"))
    )
    per_node = ends.groupBy("n").agg(F.sum("out").alias("outs"), F.count("*").alias("ends"))
    return per_node.where("outs > 1 OR (outs = 1 AND ends > 1)").isEmpty()


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect every neighbor v > u to min(N(u) ∪ {u})."""
    sym = edges.select("u", "v").union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
    mins = mins.select("u", F.least("mn", "u").alias("m"))
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Canonicalize edges big->small; connect each small neighbor (and the
    center) to the minimum neighbor."""
    d = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    mins = d.groupBy("u").agg(F.min("v").alias("m"))
    nbr_edges = (
        d.join(mins, "u")
        .where(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    center_edges = mins.select(F.col("u"), F.col("m").alias("v"))
    return (
        nbr_edges.union(center_edges)
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components_auto(
    edges: DataFrame, driver_threshold: int = 500_000
) -> tuple[DataFrame, int]:
    """edges(url_a, url_b) -> (clusters(url, cluster_id), n_iterations),
    after the per-partition spanning-forest contraction. A forest of at most
    `driver_threshold` edges is labelled on the driver (one collect beats
    the loop's per-round shuffle jobs; n_iterations = 0); a larger one runs
    the distributed loop. Identical outputs either way."""
    # one contraction task per core: each Python task has a fixed start-up
    # cost, and larger partitions contract further
    forest = (
        edges.select("url_a", "url_b")
        .where(F.col("url_a") != F.col("url_b"))
        .coalesce(edges.sparkSession.sparkContext.defaultParallelism)
        .mapInArrow(_contract, "url_a string, url_b string")
        .persist()
    )
    try:
        # JVM-side count, one job: DataFrame.count() plans a shuffle that
        # adaptive execution runs as more jobs, plus one to fill the cache
        if forest._jdf.queryExecution().toRdd().count() > driver_threshold:
            return connected_components(forest)
        tbl = forest.toArrow()
        urls, roots = _label_urls(tbl.column("url_a"), tbl.column("url_b"))
        labelled = pa.table([urls, roots], names=["url", "cluster_id"])
        # a driver-side table: one partition, one output file
        clusters = edges.sparkSession.createDataFrame(labelled, "url string, cluster_id string")
        return clusters.coalesce(1), 0
    finally:
        forest.unpersist()


def connected_components(
    edges: DataFrame, max_iterations: int = 25
) -> tuple[DataFrame, int]:
    """edges(url_a, url_b) -> (clusters(url, cluster_id), n_iterations) by
    the distributed loop; raises RuntimeError if the edges are not stars
    after `max_iterations` rounds.

    cluster_id is the lexicographic minimum url of the component —
    deterministic, so resume/re-runs are stable.
    """
    e = (
        edges.select(F.col("url_a").alias("u"), F.col("url_b").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    for iterations in range(1, max_iterations + 1):
        # lazy checkpoint: the star test right after materializes it,
        # truncating lineage without an extra job per round
        e = _small_star(_large_star(e)).localCheckpoint(eager=False)
        if _is_star_forest(e):
            break
    else:
        raise RuntimeError(
            f"connected components not converged after {max_iterations} rounds"
        )
    # stars u -> root(=v, the component minimum): each url appears once
    members = e.select(F.col("u").alias("url"), F.col("v").alias("cluster_id"))
    roots = e.select(F.col("v").alias("url"), F.col("v").alias("cluster_id")).distinct()
    return members.union(roots), iterations
