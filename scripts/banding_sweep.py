"""Recall/precision vs (bands, rows) sweep — data-driven LSH tuning.

For the planted-oracle corpus (sources/synthetic.generate_pages), computes
per banding config (b, r):

  p_tau        theoretical S-curve hit probability at tau: 1-(1-tau^r)^b
  candidates   round-1 candidate pairs (cost proxy: verify work)
  cand_recall  truth pairs sharing a band bucket / truth pairs (banding recall)
  cand_prec    truth pairs sharing a bucket / pairs sharing a bucket
               (banding precision)
  edge_recall  truth pairs inside one cluster of the verified edges of
               both rounds / truth pairs (end-to-end)

Truth = all pairs with exact sketch Jaccard >= tau under the bit-compat
numpy engine (the same oracle as tests/test_pipeline.py::_truth_pairs).
The production default (32 bands x 8 rows at tau 0.8 — set BY this sweep
in round 5; the old 16x16 default's implied threshold sat above tau)
should show ~1.0 banding recall at moderate candidate volume. Run:

    python scripts/banding_sweep.py [--pages 800] [--tau 0.8] \
        [--grid 8x32,16x16,32x8,64x4,32x4]

Prints a markdown table and one JSON line. Referenced from README
("Tuning the banding stage").
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=800)
    ap.add_argument("--tau", type=float, default=0.8)
    ap.add_argument("--grid", default="8x32,16x16,32x8,64x4,32x4")
    ap.add_argument("--cpus", type=int, default=8)
    args = ap.parse_args()
    grid = []
    for part in args.grid.split(","):
        b, r = part.lower().split("x")
        grid.append((int(b), int(r)))

    from pyspark.sql import SparkSession

    from mashing_pumpkins_spark.config import PipelineConfig
    from mashing_pumpkins_spark.operators.banding import band_table
    from mashing_pumpkins_spark.operators.candidates import candidate_pairs
    from mashing_pumpkins_spark.operators.connected_components import (
        connected_components_auto,
    )
    from mashing_pumpkins_spark.operators.signature import sketch_table
    from mashing_pumpkins_spark.plans.pipeline import verified_rounds
    from mashing_pumpkins_spark.functions.sketch_np import signature
    from mashing_pumpkins_spark.sources.synthetic import generate_pages

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .config("spark.sql.shuffle.partitions", str(2 * args.cpus))
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    pages_pd, _oracle = generate_pages(args.pages, seed=42)
    base_cfg = PipelineConfig(jaccard_threshold=args.tau)

    # exact-Jaccard truth pairs under the engine's own sketch semantics
    sigs = {}
    for url, text in zip(pages_pd["url"], pages_pd["text"]):
        s, _ = signature(text.encode("utf-8"), base_cfg.sketch)
        sigs[url] = set(s.tolist())
    truth = set()
    for a, b in itertools.combinations(sorted(sigs), 2):
        sa, sb = sigs[a], sigs[b]
        if not sa or not sb:
            continue
        inter = len(sa & sb)
        if inter and inter / (len(sa) + len(sb) - inter) >= args.tau:
            truth.add((a, b))
    if not truth:
        raise SystemExit("no truth pairs planted — increase --pages")

    pages = spark.createDataFrame(pages_pd[["url", "text"]])
    signatures = sketch_table(pages, base_cfg.sketch).persist()
    signatures.count()

    results = []
    for b, r in grid:
        import dataclasses

        cfg = dataclasses.replace(base_cfg, n_bands=b, rows_per_band=r)
        if b * r > cfg.band_input_k:
            print(f"skip {b}x{r}: b*r exceeds band_input_k={cfg.band_input_k}")
            continue
        bands = band_table(signatures, cfg)
        buckets: dict = {}
        for url, band_id, band_key in bands.collect():
            buckets.setdefault((band_id, band_key), []).append(url)
        cand = {
            pair
            for members in buckets.values()
            for pair in itertools.combinations(sorted(members), 2)
        }
        pairs, _stars = candidate_pairs(bands, cfg)
        n_pairs = pairs.count()
        edges, round1 = verified_rounds(pairs, bands, signatures, cfg)
        clusters, _ = connected_components_auto(edges)
        cluster_of = dict(clusters.select("url", "cluster_id").collect())
        round1.unpersist()
        linked = [
            (u, v) for u, v in truth if u in cluster_of and cluster_of[u] == cluster_of.get(v)
        ]
        p_tau = 1.0 - (1.0 - args.tau**r) ** b
        results.append(
            {
                "bands": b,
                "rows": r,
                "p_tau": round(p_tau, 4),
                "candidates": n_pairs,
                "cand_recall": round(len(cand & truth) / len(truth), 4),
                "cand_prec": round(len(cand & truth) / max(len(cand), 1), 4),
                "edge_recall": round(len(linked) / len(truth), 4),
            }
        )
    spark.stop()

    print(f"\ntruth pairs (exact J >= {args.tau}): {len(truth)} "
          f"on {args.pages} pages\n")
    print("| b x r | p_hit(tau) | candidates | cand recall | cand prec | edge recall |")
    print("|---|---|---|---|---|---|")
    for row in results:
        print(
            f"| {row['bands']}x{row['rows']} | {row['p_tau']} | "
            f"{row['candidates']} | {row['cand_recall']} | "
            f"{row['cand_prec']} | {row['edge_recall']} |"
        )
    print()
    print(json.dumps({"tau": args.tau, "pages": args.pages,
                      "truth_pairs": len(truth), "sweep": results}))


if __name__ == "__main__":
    main()
