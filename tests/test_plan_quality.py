"""Physical-plan regression guards: the pipeline must never degenerate into
cartesian products or unpruned scans (the 100TB failure modes)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mashing_pumpkins_spark.config import PipelineConfig
from mashing_pumpkins_spark.operators.banding import band_table
from mashing_pumpkins_spark.operators.candidates import candidate_pairs, cross_label_pairs
from mashing_pumpkins_spark.operators.connected_components import connected_components_auto
from mashing_pumpkins_spark.operators.incremental import streaming_near_dup_matches
from mashing_pumpkins_spark.operators.signature import sketch_table
from mashing_pumpkins_spark.operators.verify import verified_edges
from mashing_pumpkins_spark.sources.synthetic import generate_pages


@pytest.fixture(scope="module")
def plan_frames(spark):
    pages_pd, _ = generate_pages(200, seed=9)
    pages = spark.createDataFrame(pages_pd)
    cfg = PipelineConfig()
    sigs = sketch_table(pages, cfg.sketch)
    bands = band_table(sigs, cfg)
    pairs, _ = candidate_pairs(bands, cfg)
    edges = verified_edges(pairs, sigs, cfg, broadcast_cap_bytes=0)
    labels, _ = connected_components_auto(edges)
    round2 = cross_label_pairs(bands, labels, cfg)
    matches = streaming_near_dup_matches(pages, sigs, bands, cfg)
    return {
        "bands": bands,
        "pairs": pairs,
        "edges": edges,
        "round2": round2,
        "matches": matches,
    }


@pytest.mark.parametrize("name", ["bands", "pairs", "edges", "round2", "matches"])
def test_no_cartesian_product(plan_frames, name):
    plan = plan_frames[name]._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, name
    assert "BroadcastNestedLoopJoin" not in plan, name


def test_forced_verify_join_path_never_broadcasts(plan_frames):
    """broadcast_cap_bytes=0 forces the join path; both sort-merge joins of
    each pass carry a merge hint, so none may plan as a broadcast (an
    unbounded pair table whose size estimate reads small)."""
    edges = plan_frames["edges"]
    plan = edges._jdf.queryExecution().executedPlan().toString()
    assert plan.count("SortMergeJoin") == 4, plan
    assert "BroadcastHashJoin" not in plan, plan
    edges.collect()  # the adaptive re-plan must keep the strategy too
    plan = edges._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan, plan


@pytest.mark.parametrize("name, passes", [("edges", 2), ("matches", 1)])
def test_jaccard_udf_scores_each_pair_once_per_pass(plan_frames, name, passes):
    """One Jaccard evaluation per scoring pass: the forced join path has
    two (prefilter and exact), the incremental matcher one. A filter on
    the score pushed below the projection that computes it would evaluate
    the UDF again. An executed adaptive plan also prints its initial
    plan, so only the final one is counted."""
    plan = plan_frames[name]._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("ArrowEvalPython [_jaccard_udf(") == passes, plan


def test_band_pairing_is_bucket_keyed_and_memory_bounded(plan_frames):
    # Round 1 (the candidates stage): the size/hub annotation is a
    # spill-safe Window keyed by (band_id, band_key), and every member
    # links to the window hub row by row, so no list materializes at all.
    # The old within-bucket SELF-JOIN (two further exchanges of the band
    # table) must not come back in either round.
    plan = plan_frames["pairs"]._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning(band_id" in plan
    assert "Window" in plan
    assert "collect_list" not in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # Round 2: the cross-label pairing is a collect_list + double explode
    # on under-cap, non-hub rows only, reusing the window's partitioning
    # and sort (no exchange between them, every list bounded by
    # band_group_cap); the labels join in on the driver-built table as a
    # broadcast.
    plan = plan_frames["round2"]._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning(band_id" in plan
    assert "Window" in plan
    assert "collect_list" in plan
    assert "Generate explode" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # partitioning reuse: no exchange between the pairing aggregation and
    # the window feeding it
    agg_pos = plan.find("partial_collect_list")
    win_pos = plan.find("Window", agg_pos)
    assert agg_pos != -1 and win_pos != -1
    assert "Exchange" not in plan[agg_pos:win_pos]


def test_word_ngram_jaccard_plan_has_no_joins(spark):
    """The pair-count table is UNBOUNDED (O(n^2) on duplicate-heavy
    corpora) while Catalyst's post-aggregate size estimate reads tiny —
    the round-8 join-shaped chain got its pair side BROADCAST by the
    static planner and OOMed on a 10x dup-heavy probe. The fixed chain
    carries the per-doc size through the pairing as a struct, so the
    plan must contain NO join (and therefore no broadcast decision to
    misplan); values are pinned by the brute-force check below and the
    driver's SQL oracle."""
    import pandas as pd

    from mashing_pumpkins_spark.operators.dedup import word_ngram_jaccard_pairs

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy cat",
        "completely different text with no overlap here at all",
        "the quick brown fox jumps over the lazy dog",  # exact dup of 0
        "another unrelated document body entirely",
    ]
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )
    out = word_ngram_jaccard_pairs(docs, threshold=0.3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert "BroadcastExchange" not in plan, plan

    # brute-force value reference (distinct word 3-gram sets, df cap
    # irrelevant at 5 docs)
    def gset(t):
        w = t.lower().split()
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    import itertools

    expected = []
    for a, b in itertools.combinations(range(len(texts)), 2):
        ga, gb = gset(texts[a]), gset(texts[b])
        inter = len(ga & gb)
        if inter:
            j = round(inter / len(ga | gb), 6)
            if j >= 0.3:
                expected.append((a, b, j))
    got = sorted(
        (r["id_a"], r["id_b"], r["jaccard"]) for r in out.collect()
    )
    assert got == sorted(expected), (got, expected)


def test_substring_dedup_plan_is_equi_join(spark):
    """Anchor matching must be a hash/SMJ equi-join on anchor_hash — never
    a cartesian/BNLJ over documents or anchors."""
    import pandas as pd

    from mashing_pumpkins_spark.operators.substring import (
        substring_duplicate_pairs,
    )

    docs = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": range(6), "text": ["x" * 200 + f"tail{i}" for i in range(6)]}
        )
    )
    out = substring_duplicate_pairs(docs, min_len=64, k=32)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "anchor_hash" in plan


def test_ann_rerank_has_no_interpreted_vector_lambdas(spark):
    """The ANN re-rank must score candidates with numpy matmul inside
    mapInPandas, never Catalyst's interpreted zip_with/aggregate over the
    vector arrays (round-1 verdict item 5: candidates are the big side)."""
    import numpy as np
    import pandas as pd

    from mashing_pumpkins_spark.operators.ann import (
        ivf_cosine_topk,
        lsh_cosine_topk,
    )

    rng = np.random.default_rng(5)
    vecs = rng.standard_normal((80, 16))
    pdf = pd.DataFrame(
        {
            "vec_id": range(80),
            "embedding": [v.astype(np.float32).tolist() for v in vecs],
        }
    )
    df = spark.createDataFrame(pdf)
    queries = df.where(F.col("vec_id") < 4)
    for out in (
        lsh_cosine_topk(df, queries, k=3, n_planes=64),
        ivf_cosine_topk(df, queries, k=3, n_cells=4, n_probe=2),
    ):
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "zip_with" not in plan and "aggregate(" not in plan, plan
        assert "CartesianProduct" not in plan


def test_rollup_and_sharded_merge_stay_jvm_side(spark):
    """Round-3 regression guard: the grouped sketch merges must not fall
    back to per-group Python (FlatMapGroupsInPandas) or the pandas scalar
    UDF path (ArrowEvalPython) — one Arrow kernel stage, JVM aggregation."""
    from mashing_pumpkins_spark.config import SketchConfig
    from mashing_pumpkins_spark.operators.rollup import group_sketch_rollup
    from mashing_pumpkins_spark.operators.sharding import sketch_table_sharded
    from mashing_pumpkins_spark.sources.synthetic import generate_pages

    pages_pd, _ = generate_pages(50, seed=3)
    pages = spark.createDataFrame(pages_pd)
    cfg = SketchConfig(nsize=21, maxsize=64, hash_name="xxh64", seed=0)

    rolled = group_sketch_rollup(pages, cfg, "url")
    plan = rolled._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan
    assert "ArrowEvalPython" not in plan
    assert plan.count("MapInArrow") == 1

    sharded = sketch_table_sharded(pages, cfg, chunk_bytes=4096)
    plan = sharded._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan
    assert "ArrowEvalPython" not in plan
    assert plan.count("MapInArrow") == 1  # the sketch kernel
    assert plan.count("MapInPandas") == 1  # the chunk splitter


def test_star_schema_queries_broadcast_dims_and_push_filters(spark):
    """TPC-H-analog queries: dimension joins must be broadcast (no
    shuffle of the fact table for 5-row dims), the date predicate must
    reach the parquet scan, and the fact scan must prune to the columns
    the query needs."""
    import __spark_entry__ as E

    sf_dir = "/root/testdata/sf0.001"
    rev = E.queries()["revenue_by_nation"](spark, sf_dir)
    plan = rev._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan

    summary = E.queries()["pricing_summary"](spark, sf_dir)
    splan = summary._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in splan
    # column pruning: the scan must not read unused l_partkey/l_comment
    read_schema = [l for l in splan.splitlines() if "ReadSchema" in l][0]
    assert "l_partkey" not in read_schema and "l_orderkey" not in read_schema


def test_pagerank_plan_stays_flat_across_iterations(spark):
    """The per-iteration localCheckpoint must keep the returned plan at
    CONSTANT depth — without it the lineage (and Catalyst analysis time)
    grows linearly with n_iter and a 50-iteration crawl ranking dies in
    the optimizer. Guard: the executed-plan string for 6 iterations may
    not be materially longer than for 2, and no Window/cartesian appears
    anywhere in it (the iteration is one dst-keyed shuffle + aggregates)."""
    from mashing_pumpkins_spark.operators.graph import pagerank

    nodes = spark.createDataFrame([(i,) for i in range(30)], "id long")
    edges = spark.createDataFrame(
        [(i, (i * 7 + 3) % 30) for i in range(30)] +
        [(i, (i * 11 + 5) % 30) for i in range(30)],
        "src long, dst long",
    )
    plans = {}
    for n_iter in (2, 6):
        out = pagerank(nodes, edges, n_iter=n_iter)
        plans[n_iter] = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plans[6]
    assert "CartesianProduct" not in plans[6]
    assert "BroadcastNestedLoopJoin" not in plans[6]
    # flat lineage: a checkpoint scan, not 6 chained join trees
    assert len(plans[6]) < 2 * len(plans[2]), (len(plans[2]), len(plans[6]))


def test_container_export_writers_have_no_shuffle(spark):
    """write_wet_files / write_warc_files stream each input partition
    straight into its own container file: ONE mapInPandas over the
    pruned column set, no Exchange anywhere — a shuffle before the
    writer would re-partition 100 TB of page bytes just to write them
    out. File count/size is the caller's job (repartition upstream)."""
    import datetime

    from mashing_pumpkins_spark.sources.warc import (
        write_warc_files,
        write_wet_files,
    )

    ts = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
    pages = spark.createDataFrame(
        [(f"http://h/{i}", ts, b"<p>x</p>", f"t{i}", i) for i in range(8)],
        "url string, warc_ts timestamp, html binary, text string, extra long",
    )
    for out in (
        write_wet_files(pages, "/tmp/_plan_guard_wet"),
        write_warc_files(pages, "/tmp/_plan_guard_warc"),
    ):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "Window" not in plan and "CartesianProduct" not in plan
        assert plan.count("MapInPandas") == 1
        # column pruning: the writer must not drag unused columns along
        assert "extra" not in plan.split("MapInPandas")[0]


def test_robots_lookup_winner_is_aggregate_not_window(spark):
    """robots_allowed resolves the longest-match winner with a
    max(struct) AGGREGATE (map-side combinable) keyed by (host, path) —
    a Window over the frontier would single-task hot hosts at crawl
    scale. parse_robots legitimately windows over per-host robots LINES
    (KB-sized); the frontier-scaled lookup path must not."""
    from mashing_pumpkins_spark.sources.robots import robots_allowed

    rules = spark.createDataFrame(
        [("h", "*", "disallow", "/x", 1), ("h", "*", "allow", "/x/y", 2)],
        "host string, agent string, directive string, value string, rule_pos long",
    )
    frontier = spark.createDataFrame(
        [("h", f"/x/{i}") for i in range(50)], "host string, path string"
    )
    out = robots_allowed(frontier, rules, "bot")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan
    assert "Aggregate" in plan


def test_hashed_embedding_is_single_stage_jvm_projection(spark):
    """The signed hashed-TF embedder must fold into the scan: no
    Exchange, no Python worker, no Generate (an explode+groupBy
    formulation would shuffle token-level rows — ~10x the doc bytes at
    crawl scale), and the scan must prune to (id, text)."""
    from mashing_pumpkins_spark.functions.embed import hashed_doc_embedding

    docs = spark.createDataFrame(
        [(1, "a b c", "x", 5)], "doc_id long, text string, extra string, n long"
    )
    out = docs.select(
        "doc_id", hashed_doc_embedding(F.col("text"), dim=32).alias("e")
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "Python" not in plan and "Generate" not in plan


def test_cdx_dedup_index_winner_is_aggregate_not_window(spark):
    """dedup_index collapses captures with two map-side-combinable
    aggregates and a keyed join — no Window over raw captures (a hot
    URL recrawled millions of times would single-task its sort)."""
    from mashing_pumpkins_spark.sources.cdx import dedup_index

    cdx = spark.createDataFrame(
        [("s", "20260101000000", "d")], "surt string, ts_raw string, digest string"
    )
    plan = dedup_index(cdx)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan
