#!/usr/bin/env python
"""Regenerate PLANS.md: the physical-plan audit of the headline operators.

Run: python scripts/dump_plans.py  (writes PLANS.md at the repo root).
Each section shows the executed/optimized plan of a stage with the scale
properties a reviewer should check (pruned scans, equi-joins only, Arrow
stages, no interpreted lambdas in hot paths).
"""

from __future__ import annotations

import pathlib
import re
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

# Exchange plan ids and CollectMetrics names change on every run; fixed
# placeholders keep a regenerated PLANS.md diff down to real plan changes.
_RUN_IDS = [
    (re.compile(r"\[plan_id=\d+\]"), "[plan_id=N]"),
    (
        re.compile(r"CollectMetrics [0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}"),
        "CollectMetrics <uuid>",
    ),
]
# Expression ids come from one JVM-wide counter whose value at a given plan
# varies between runs, so each plan's ids are renumbered by first appearance.
_EXPR_ID = re.compile(r"(?<=[\w)])#(\d+)")


def _fmt(df) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    for pattern, placeholder in _RUN_IDS:
        plan = pattern.sub(placeholder, plan)
    ids: dict[str, int] = {}
    return _EXPR_ID.sub(lambda m: f"#{ids.setdefault(m[1], len(ids))}", plan)


def main() -> None:
    from pyspark.sql import SparkSession, functions as F

    from mashing_pumpkins_spark.config import PipelineConfig, SketchConfig
    from mashing_pumpkins_spark.functions.classifier import demo_weight_table
    from mashing_pumpkins_spark.operators.banding import band_table
    from mashing_pumpkins_spark.operators.candidates import candidate_pairs, cross_label_pairs
    from mashing_pumpkins_spark.operators.connected_components import (
        connected_components_auto,
    )
    from mashing_pumpkins_spark.operators.signature import sketch_table
    from mashing_pumpkins_spark.operators.corpus import (
        decontaminate,
        passage_dedup_stats,
    )
    from mashing_pumpkins_spark.operators.incremental import (
        incremental_near_dup,
        index_tables,
    )
    from mashing_pumpkins_spark.operators.substring import substring_duplicate_pairs
    from mashing_pumpkins_spark.operators.verify import verified_edges

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    cfg = PipelineConfig(sketch=SketchConfig(maxsize=256), n_bands=32, rows_per_band=8)
    pages = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        F.col("doc_id").cast("string").alias("url"), "text", "lang", "source"
    )
    sigs = sketch_table(pages, cfg.sketch)
    bands = band_table(sigs, cfg)
    pairs, _ = candidate_pairs(bands, cfg)
    edges = verified_edges(pairs, sigs, cfg, broadcast_cap_bytes=0)
    round1_labels, _ = connected_components_auto(edges)
    round2 = cross_label_pairs(bands, round1_labels, cfg)
    sub = substring_duplicate_pairs(pages, min_len=64, k=32, id_col="url", text_col="text")
    passages = passage_dedup_stats(pages, id_col="url", text_col="text")
    c_sigs, c_bands = index_tables(
        pages.where(F.crc32(F.col("url")) % 2 == 0), cfg
    )
    inc_matches, _inc_fresh = incremental_near_dup(
        pages.where(F.crc32(F.col("url")) % 2 == 1),
        c_sigs,
        c_bands,
        cfg,
        intra_batch=False,
    )
    decon = decontaminate(
        pages,
        pages.where(F.crc32(F.col("url")) % 10 == 0),
        id_col="url",
        text_col="text",
    )
    from mashing_pumpkins_spark.functions.simhash import simhash_pairs_from_values
    from mashing_pumpkins_spark.operators.ann import embedding_near_dup_pairs_lsh
    from mashing_pumpkins_spark.operators.corpus import line_dedup
    from mashing_pumpkins_spark.operators.graph import degree_stats, extract_links

    ld = line_dedup(pages, id_col="url", min_len=10)
    html_pages = pages.select(
        "url",
        F.concat(
            F.lit('<a href="http://x/'), F.col("url"), F.lit('">l</a>')
        ).alias("html"),
    )
    links = extract_links(html_pages)
    degrees = degree_stats(links, html_pages, id_col="url")

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb_lsh = embedding_near_dup_pairs_lsh(
        emb, threshold=0.7, n_tables=16, bits_per_table=8, bucket_cap=10000
    )
    sim_vals = pages.select(
        F.col("url").alias("id"), F.xxhash64("text").alias("sh")
    )
    sim_pairs = simhash_pairs_from_values(sim_vals, max_hamming=8, index="pair")

    from mashing_pumpkins_spark.operators.curation import curation_funnel
    from mashing_pumpkins_spark.sources.robots import parse_robots

    robots = parse_robots(
        spark.createDataFrame(
            [("h.example", "User-agent: *\nDisallow: /no\n")],
            "host string, body string",
        )
    )
    gated_docs = pages.select(
        "url",
        "text",
        F.concat(F.lit("http://h.example/"), F.col("url")).alias("page_url"),
    )
    g_funnel, _g_surv = curation_funnel(
        gated_docs,
        None,
        id_col="url",
        text_col="text",
        url_col="page_url",
        blocked_hosts=["bad.example"],
        blocked_path_terms=["casino"],
        robots_rules=robots,
        agent="trainbot",
        classifier_weights=demo_weight_table(256),
        classifier_min=0,
    )

    from mashing_pumpkins_spark.operators.dsir import dsir_top_k
    from mashing_pumpkins_spark.operators.lm import fit_bigram_lm, lm_perplexity

    lm_ref = pages.where(F.crc32(F.col("url")) % 10 == 0)
    lm_scores = lm_perplexity(
        pages.where(F.crc32(F.col("url")) % 10 != 0),
        fit_bigram_lm(lm_ref),
        id_col="url",
    )
    dsir_sel = dsir_top_k(
        pages.where(F.crc32(F.col("url")) % 10 != 0),
        lm_ref,
        k=20,
        n_buckets=512,
        id_col="url",
    )

    from mashing_pumpkins_spark.operators.bpe import (
        _pair_counts,
        apply_merge,
        fit_bpe,
        pretoken_words,
        token_counts,
    )

    bpe_words = pretoken_words(pages).withColumn("syms", F.split("word", ""))
    bpe_pairs = _pair_counts(
        bpe_words.withColumn("syms", apply_merge(F.col("syms"), "t", "h"))
    )
    bpe_model = fit_bpe(pages, n_merges=2)
    bpe_enc = token_counts(pages, bpe_model, id_cols=("url",))

    from mashing_pumpkins_spark.operators.cms import (
        cms_estimate,
        token_counter_table,
    )
    from mashing_pumpkins_spark.operators.hll import hll_registers

    cms_counters = token_counter_table(pages, depth=4, width=1024)
    cms_est = cms_estimate(
        cms_counters,
        pages.select(F.lit("the").alias("token")).limit(1),
        depth=4,
        width=1024,
    )
    hll_regs = hll_registers(
        pages.select(F.col("text").alias("key")), m=64
    )

    sections = [
        (
            "sketch stage (mapInArrow)",
            sigs,
            "Check: scan ReadSchema carries ONLY (doc_id,text) — lang/source "
            "pruned despite being selected upstream; one MapInArrow node, no "
            "ArrowEvalPython round-trip, no shuffle (sketch is per-row).",
        ),
        (
            "banding stage (mapInArrow, pre-exploded)",
            bands,
            "Check: single MapInArrow emits exploded (url,band_id,band_key) "
            "— no Generate/posexplode node, no array column materialized.",
        ),
        (
            "candidate pairs, round 1 (hub star per bucket)",
            pairs,
            "Check: ONE shuffle of the band table feeds the spill-safe "
            "window (bucket size + hub); every member links to its bucket's "
            "hub row by row, so no list materializes whatever the bucket "
            "size; the over-cap lineage is a CollectMetrics node on the "
            "window output (observed, no extra job); the pairs are deduped "
            "across bands by one hash aggregate. No self-join, no "
            "CartesianProduct/BroadcastNestedLoopJoin.",
        ),
        (
            "candidate pairs, round 2 (cross-label pairing)",
            round2,
            "Check: the band table's window (bucket size + hub) keeps only "
            "non-hub rows of under-cap buckets of >= 3 members; the round-1 "
            "labels join in as a broadcast of the driver-built table; the "
            "pairing is a collect_list + double explode that reuses the "
            "window's (band_id,band_key) partitioning (no exchange between "
            "Window and the pairing aggregate, every list bounded by "
            "band_group_cap) and keeps only buckets whose members carry "
            "more than one label, and only pairs across labels.",
        ),
        (
            "verify (two-phase exact, join path forced; round-1 pairs)",
            edges,
            "Check: the same scorer, decided once, scores both rounds' "
            "pairs. Prefilter joins carry slice(sig,1,64) — 512B/side, not "
            "the full signature; the exact pass joins full sigs only for "
            "survivors; Jaccard runs in ArrowEvalPython, one node per pass "
            "(the _jaccard_udf Arrow UDF: both signature columns read "
            "zero-copy, one C sorted-merge call per Arrow batch, numpy fallback "
            "bit-identical), never Catalyst array_intersect. (Round-8: "
            "when the candidate slice fits the 160MB broadcast cap — by "
            "the maxsize bound, the counted url set, or the actual-bytes "
            "probe for untruncated configs — verify instead runs as ONE "
            "flat-buffer broadcast + mapInPandas pass with zero join "
            "shuffles; this dump forces the join path with "
            "broadcast_cap_bytes=0 to audit the large-scale shape.)",
        ),
        (
            "substring dedup (minimizer anchors)",
            sub,
            "Check: anchor match is an equi-join on anchor_hash + window "
            "bytes equality; text attaches to candidate SEEDS only (ids-"
            "first); extension verify is one mapInPandas.",
        ),
        (
            "passage dedup (fixed word windows)",
            passages,
            "Check: pure JVM (no Python eval nodes); the global-count "
            "groupBy and the count join shuffle md5(passage) — 32 hex chars "
            "— never passage text; partial aggregation before the exchange.",
        ),
        (
            "decontamination (benchmark n-gram overlap)",
            decon,
            "Check: benchmark gram set sits behind a BroadcastHashJoin "
            "(eval suites are small) so the training-side gram scan never "
            "shuffles; pure JVM throughout.",
        ),
        (
            "incremental near-dup admission (batch vs committed index)",
            inc_matches,
            "Check: the batch is sketched and banded by the pipeline's "
            "MapInArrow operators (the signature rides through banding in "
            "the struct id); committed side enters ONLY through the "
            "(band_id, band_key) equi-join and the per-candidate signature "
            "join — no scan of committed text, no cartesian; one "
            "_jaccard_udf node; batch cost scales with the batch, not the "
            "corpus.",
        ),
        (
            "embedding threshold-pair LSH (production 8x16 index)",
            emb_lsh,
            "Check: the bucket table (ArrowEvalPython + explode) is "
            "persisted and shows as InMemoryTableScan at every consumer — "
            "the bucketing UDF runs ONCE (the first dump of this plan "
            "caught Catalyst re-running it 4x, once per consumer; round-4 "
            "fix). bucket_cap is a map-side-combined HashAggregate whose "
            "tiny surviving-bucket set comes back as a BroadcastHashJoin "
            "— deliberately NOT a window over the bucket key, which would "
            "funnel a degenerate mega-bucket into one task (round-4 "
            "review fix). Candidates travel ids-only through the bucket "
            "equi-self-join + distinct; vectors re-attach via two "
            "equi-joins; exact cosine is one mapInPandas einsum; no "
            "cartesian anywhere.",
        ),
        (
            "simhash block-pair multi-index (the scale branch of the "
            "round-4 cost-based auto pick)",
            sim_pairs,
            "Check: only DISTINCT sh values enter the blocking join "
            "(Aggregate before the explode); C(d+2,2) keys explode from a "
            "pure-JVM array of structs; value-pair join and both member "
            "joins are hash equi-joins; exact hamming (bit_count of xor) "
            "verifies JVM-side — no Python anywhere in this operator.",
        ),
        (
            "C4 line dedup (corpus-wide first-occurrence winners)",
            ld,
            "Check: NO Window operator anywhere — the winner per line is "
            "min(struct(id,pos)) through paired partial/final "
            "HashAggregates, so a boilerplate line occurring 10^9 times "
            "combines map-side instead of funneling into one task; "
            "reassembly is one groupBy on the doc id; no Python.",
        ),
        (
            "gated curation funnel (round-6: url_filter + robots + classifier in ONE scan)",
            g_funnel,
            "Check: the whole 7-stage report is ONE aggregate over a "
            "single base scan carrying cumulative flags — the url_filter "
            "and classifier gates are pure Column expressions inside the "
            "projection (no extra scan, no Python); robots admission and "
            "passage stats attach as broadcast/equi-join side inputs that "
            "read the filtered base once; no Window over documents except "
            "the exact-dedup content-key window (one shuffle); the "
            "classifier weight table is a plan literal (no weight join).",
        ),
        (
            "CCNet-style LM perplexity filter (round-7)",
            lm_scores,
            "Check: both model tables arrive through BroadcastHashJoin "
            "(the LM is bounded by the reference corpus, not the crawl) "
            "with the bigram table behind InMemoryTableScan (persisted at "
            "fit — unpersisted, the context derivation and the scoring "
            "join each re-ran the reference explode); the crawl side is "
            "explode -> joins -> ONE doc-keyed HashAggregate pair "
            "(partial before the Exchange); no Window, no Python.",
        ),
        (
            "DSIR importance-resampling selection (round-7)",
            dsir_sel,
            "Check: both hashed-feature models broadcast (B-row count "
            "tables, persisted at fit); scoring is pure JVM md5 bucket "
            "arithmetic inside the projection; selection is "
            "TakeOrderedAndProject — only k rows leave each partition, "
            "never a global sort materialization.",
        ),
        (
            "BPE trainer iteration (round-7: pair counts after one applied merge)",
            bpe_pairs,
            "Check: the whole iteration is JVM Column algebra — the greedy "
            "merge fold (F.aggregate) and the zip_with pair explode sit "
            "inside the projection with NO Python eval node; the only "
            "Exchange is the pair-count groupBy over the vocabulary-sized "
            "word table (the corpus appears solely under the initial "
            "word-count aggregate, which partial-aggregates before its "
            "Exchange); the per-step winner is a one-row max(struct) "
            "aggregate, never a sort.",
        ),
        (
            "BPE encode (token_counts broadcast join)",
            bpe_enc,
            "Check: the trained word table enters through a "
            "BroadcastHashJoin (vocabulary-sized side), so encoding never "
            "re-applies merges to the corpus; the per-doc aggregate is the "
            "single corpus shuffle with partial aggregation before the "
            "Exchange.",
        ),
        (
            "CMS point query (round-7: bounded counter table + broadcast probe)",
            cms_est,
            "Check: the corpus-side counter build partial-aggregates to at "
            "most depth*width rows per task before its single Exchange "
            "(state is fixed no matter the corpus); the probe side joins "
            "the counters through a BroadcastHashJoin (the sketch is tiny "
            "by construction); min-of-rows is one HashAggregate; no Python "
            "anywhere.",
        ),
        (
            "HLL registers (round-7: distinct count without a distinct shuffle)",
            hll_regs,
            "Check: ONE groupBy(bucket).max(rho) with partial aggregation "
            "before the Exchange — at most m rows leave each task, the "
            "keys themselves never shuffle; bucket and rank are pure md5/"
            "bin() Column arithmetic inside the scan projection.",
        ),
        (
            "link extraction + degree stats (raw html, scan speed)",
            degrees,
            "Check: extraction is regexp_extract_all+explode inside "
            "WholeStageCodegen on the scan — no Python, no shuffle until "
            "the distinct; degree aggregation is two single-key "
            "HashAggregate pairs (partial before each Exchange) plus two "
            "left joins on the node id.",
        ),
    ]
    out = [
        "# PLANS — physical-plan audit (generated by scripts/dump_plans.py)",
        "",
        "Executed plans of the headline operators at sf0.001, with the scale",
        "properties each plan is expected to show. Regenerate after plan-",
        "affecting changes; tests/test_plan_quality.py enforces the hard",
        "invariants (no cartesian joins, no interpreted vector lambdas).",
        "",
    ]
    for title, df, notes in sections:
        out += [f"## {title}", "", notes, "", "```", _fmt(df).rstrip(), "```", ""]
    pathlib.Path(__file__).resolve().parent.parent.joinpath("PLANS.md").write_text(
        "\n".join(out)
    )
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
