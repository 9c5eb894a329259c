"""sf1 soak: the first run that actually ENTERS the scale paths.

VERDICT r4 item #3: the sandbox corpus (sf0.1 / 100k pages) never
triggers star-linking on real over-cap buckets, never exceeds the 500k
driver union-find edge threshold, and never makes AQE split a skewed
partition — the code paths the 100-TB story depends on were only
unit-tested with planted fixtures. This script runs the FULL checkpointed
pipeline on a ~1M-page synthetic corpus (10% of docs share the planted
boilerplate footer -> genuinely over-cap LSH buckets) and reports:

  - docs/s and per-stage wall/rows (production checkpointed path)
  - star_buckets / star_members  (must be > 0: real star-linking)
  - the CC dispatch taken, plus an EXPLICIT distributed large/small-star
    run over the same committed edges stage, equality-checked against
    the driver labelling on the same edge set
  - planted-oracle recall on a sampled subset of truth pairs

Usage:  python scripts/sf1_soak.py [--pages 1000000] [--cpus 16]
        [--workdir /tmp/sf1_soak]
Writes one JSON line at the end; record it in BENCH/BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=1_000_000)
    ap.add_argument("--cpus", type=int, default=16)
    ap.add_argument("--workdir", default="/tmp/sf1_soak")
    ap.add_argument("--sample-pairs", type=int, default=2000)
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from mashing_pumpkins_spark.config import PipelineConfig
    from mashing_pumpkins_spark.functions.sketch_np import signature as np_signature
    from mashing_pumpkins_spark.operators.connected_components import (
        connected_components,
        connected_components_auto,
    )
    from mashing_pumpkins_spark.plans.checkpoint import ParquetCheckpointStore
    from mashing_pumpkins_spark.plans.pipeline import run_pipeline
    from mashing_pumpkins_spark.sources.synthetic import write_pages_parquet

    workdir = args.workdir
    corpus_dir = os.path.join(workdir, f"pages_{args.pages}")
    ckpt_dir = os.path.join(workdir, "ckpt")
    if os.path.exists(ckpt_dir):
        shutil.rmtree(ckpt_dir)

    t0 = time.monotonic()
    if not os.path.exists(os.path.join(corpus_dir, "pages.parquet")):
        print(f"generating {args.pages} pages ...", flush=True)
        write_pages_parquet(corpus_dir, args.pages, seed=42)
    gen_sec = time.monotonic() - t0

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .config("spark.sql.shuffle.partitions", str(4 * args.cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "4m")
        .config("spark.driver.memory", "48g")
        .config("spark.driver.maxResultSize", "8g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    pages = spark.read.parquet(os.path.join(corpus_dir, "pages.parquet")).select(
        "url", "text"
    )
    cfg = PipelineConfig()
    t1 = time.monotonic()
    clusters, report = run_pipeline(spark, pages, cfg, checkpoint_dir=ckpt_dir)
    n_clustered = clusters.count()
    pipe_sec = time.monotonic() - t1
    docs_per_sec = args.pages / pipe_sec

    store = ParquetCheckpointStore(ckpt_dir, cfg.config_hash())
    n_edges = store.manifest("edges")["rows"]
    exact_rows = store.manifest("exact")["rows"]

    # ---- explicit distributed CC over the REAL committed edge set
    near_edges = store.read(spark, "edges").select("url_a", "url_b")
    exact_edges = (
        store.read(spark, "exact")
        .where(F.col("kind") == "edge")
        .select(F.col("url").alias("url_a"), "url_b")
    )
    all_edges = near_edges.union(exact_edges)
    total_edges = all_edges.count()
    t2 = time.monotonic()
    dist_clusters, dist_iters = connected_components(all_edges)
    dist_n = dist_clusters.count()
    dist_sec = time.monotonic() - t2
    dispatch_taken = "distributed" if report.cc_iterations else "driver"
    # equality vs the driver labelling ON THE SAME EDGES (the auto
    # dispatch's other branch) — only if it fits the driver comfortably
    equal_vs_driver = None
    if total_edges <= 3_000_000:
        drv_clusters, _ = connected_components_auto(
            all_edges, driver_threshold=10**12
        )
        joined = (
            dist_clusters.withColumnRenamed("cluster_id", "cid_a")
            .join(drv_clusters.withColumnRenamed("cluster_id", "cid_b"), "url")
        )
        mismatch = joined.where(F.col("cid_a") != F.col("cid_b")).count()
        equal_vs_driver = mismatch == 0

    # ---- planted-oracle recall on sampled truth pairs
    oracle = spark.read.parquet(os.path.join(corpus_dir, "oracle_clusters.parquet"))
    multi = (
        oracle.groupBy("oracle_cluster_id")
        .agg(F.collect_list("url").alias("urls"))
        .where(F.size("urls") >= 2)
    )
    rng = random.Random(7)
    cand_pairs = []
    for row in multi.sample(0.05, seed=7).limit(4 * args.sample_pairs).collect():
        urls = row["urls"]
        for _ in range(min(3, len(urls))):
            a, b = rng.sample(urls, 2)
            if a != b:
                cand_pairs.append((min(a, b), max(a, b)))
    cand_pairs = list(dict.fromkeys(cand_pairs))[: 2 * args.sample_pairs]
    urls_needed = sorted({u for p in cand_pairs for u in p})
    texts = {
        r["url"]: r["text"]
        for r in pages.join(
            spark.createDataFrame([(u,) for u in urls_needed], "url string"),
            "url",
        ).collect()
    }
    sigs = {
        u: set(np_signature(t.encode("utf-8"), cfg.sketch)[0].tolist())
        for u, t in texts.items()
    }
    truth = []
    for a, b in cand_pairs:
        sa, sb = sigs.get(a), sigs.get(b)
        if not sa or not sb:
            continue
        inter = len(sa & sb)
        if inter and inter / (len(sa) + len(sb) - inter) >= cfg.jaccard_threshold:
            truth.append((a, b))
    truth = truth[: args.sample_pairs]
    assign = {
        r["url"]: r["cluster_id"]
        for r in clusters.join(
            spark.createDataFrame(
                [(u,) for p in truth for u in p], "url string"
            ).distinct(),
            "url",
        ).collect()
    }
    found = sum(
        1
        for a, b in truth
        if assign.get(a) is not None and assign.get(a) == assign.get(b)
    )
    recall = found / len(truth) if truth else None

    out = {
        "pages": args.pages,
        "gen_sec": round(gen_sec, 1),
        "pipeline_sec": round(pipe_sec, 1),
        "docs_per_sec": round(docs_per_sec, 1),
        "stages": report.to_dict()["stages"],
        "cc_iterations_pipeline": report.cc_iterations,
        "star_buckets": report.star_buckets,
        "star_members": report.star_members,
        "near_edges": n_edges,
        "exact_stage_rows": exact_rows,
        "total_edges": total_edges,
        "auto_dispatch": dispatch_taken,
        "distributed_cc": {
            "iterations": dist_iters,
            "clustered_urls": dist_n,
            "wall_sec": round(dist_sec, 1),
            "equal_vs_driver_union_find": equal_vs_driver,
        },
        "clustered_urls": n_clustered,
        "truth_pairs_sampled": len(truth),
        "sampled_recall": round(recall, 4) if recall is not None else None,
    }
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
