"""End-to-end pipeline tests: recall vs oracle, CC correctness, resume, skew."""

from __future__ import annotations

import itertools

import numpy as np
import pytest
from pyspark.sql import functions as F

from mashing_pumpkins_spark.config import PipelineConfig, SketchConfig
from mashing_pumpkins_spark.functions.sketch_np import signature
from mashing_pumpkins_spark.operators.connected_components import (
    connected_components,
    connected_components_auto,
)
from mashing_pumpkins_spark.plans.pipeline import run_pipeline, run_pipeline_flow
from mashing_pumpkins_spark.sources.synthetic import generate_pages

CFG = PipelineConfig(
    sketch=SketchConfig(nsize=21, maxsize=256, hash_name="xxh64", seed=0),
    n_bands=32,
    rows_per_band=8,
    jaccard_threshold=0.8,
)


def _truth_pairs(pages, cfg: PipelineConfig) -> set[tuple[str, str]]:
    """All url pairs whose exact sketch Jaccard >= tau, via the (bit-compat
    verified) numpy engine — the reference-semantics oracle."""
    sigs = {}
    for url, text in zip(pages["url"], pages["text"]):
        s, _ = signature(text.encode("utf-8"), cfg.sketch)
        sigs[url] = set(s.tolist())
    truth = set()
    urls = sorted(sigs)
    for a, b in itertools.combinations(urls, 2):
        sa, sb = sigs[a], sigs[b]
        if not sa or not sb:
            continue
        inter = len(sa & sb)
        if inter and inter / (len(sa) + len(sb) - inter) >= cfg.jaccard_threshold:
            truth.add((a, b))
    return truth


def test_connected_components_known_graphs(spark):
    edges = spark.createDataFrame(
        [
            # chain a-b-c-d-e
            ("b", "a"), ("c", "b"), ("d", "c"), ("e", "d"),
            # triangle x-y-z
            ("x", "y"), ("y", "z"), ("z", "x"),
            # pair
            ("q", "p"),
        ],
        "url_a string, url_b string",
    )
    clusters, iters = connected_components(edges)
    got = {r["url"]: r["cluster_id"] for r in clusters.collect()}
    assert got == {
        "a": "a", "b": "a", "c": "a", "d": "a", "e": "a",
        "x": "x", "y": "x", "z": "x",
        "p": "p", "q": "p",
    }
    assert iters <= 6


def test_connected_components_two_cliques_with_bridge(spark):
    c1 = [(f"n{i}", f"n{j}") for i in range(5) for j in range(i + 1, 5)]
    c2 = [(f"m{i}", f"m{j}") for i in range(4) for j in range(i + 1, 4)]
    bridge = [("n4", "m0")]
    edges = spark.createDataFrame(c1 + c2 + bridge, "url_a string, url_b string")
    clusters, _ = connected_components(edges)
    ids = {r["cluster_id"] for r in clusters.collect()}
    assert ids == {"m0"}  # single component, min node id is m0


def test_cc_driver_and_distributed_strategies_agree(spark):
    import random

    rng = random.Random(3)
    edges = [
        (f"n{rng.randrange(60):03d}", f"n{rng.randrange(60):03d}") for _ in range(120)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "url_a string, url_b string")
    via_driver, it0 = connected_components_auto(df, driver_threshold=10**9)
    via_dist, _ = connected_components_auto(df, driver_threshold=0)
    assert it0 == 0
    d1 = {r["url"]: r["cluster_id"] for r in via_driver.collect()}
    d2 = {r["url"]: r["cluster_id"] for r in via_dist.collect()}
    assert d1 == d2


@pytest.fixture(scope="module")
def corpus():
    return generate_pages(800, seed=42)


def test_pipeline_recall_and_precision(spark, corpus, tmp_path_factory):
    pages_pd, _oracle = corpus
    pages = spark.createDataFrame(pages_pd)
    ckpt = str(tmp_path_factory.mktemp("ckpt_recall"))
    clusters, report = run_pipeline(spark, pages, CFG, ckpt)
    assign = {r["url"]: r["cluster_id"] for r in clusters.collect()}

    truth = _truth_pairs(pages_pd, CFG)
    assert len(truth) > 50, "fixture must plant enough >=tau pairs"
    found = sum(
        1 for a, b in truth if assign.get(a) is not None and assign.get(a) == assign.get(b)
    )
    recall = found / len(truth)
    assert recall >= 0.99, f"recall {recall:.4f} on {len(truth)} truth pairs"

    # precision proxy: every clustered pair that our pipeline links must be
    # genuinely similar — spot-check co-clustered pairs against numpy jaccard
    by_cluster: dict[str, list[str]] = {}
    for url, cid in assign.items():
        by_cluster.setdefault(cid, []).append(url)
    sigs = {
        url: set(signature(t.encode("utf-8"), CFG.sketch)[0].tolist())
        for url, t in zip(pages_pd["url"], pages_pd["text"])
    }
    for cid, members in by_cluster.items():
        # connectivity is through >=tau edges; direct pair jaccard can be
        # lower (transitive closure), but each member must have at least one
        # >=tau partner in its cluster
        if len(members) < 2:
            continue
        for m in members:
            best = max(
                (
                    len(sigs[m] & sigs[o]) / len(sigs[m] | sigs[o])
                    for o in members
                    if o != m and sigs[o]
                ),
                default=0.0,
            )
            assert best >= CFG.jaccard_threshold - 1e-9, (m, best)


def test_flow_mode_matches_checkpointed(spark, corpus, tmp_path_factory):
    pages_pd, _ = corpus
    pages = spark.createDataFrame(pages_pd.head(300))
    ckpt = str(tmp_path_factory.mktemp("ckpt_flow_cmp"))
    c1, _ = run_pipeline(spark, pages, CFG, ckpt)
    c2, _ = run_pipeline_flow(spark, pages, CFG)
    a1 = sorted((r["url"], r["cluster_id"]) for r in c1.collect())
    a2 = sorted((r["url"], r["cluster_id"]) for r in c2.collect())
    assert a1 == a2


def _persistent_rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_flow_releases_its_persisted_stages(spark, corpus):
    """The flow persists its stages and releases them before returning:
    on a driver-path corpus no cached RDD outlives the call (the persisted
    round-1 edges included), the returned clusters still read, and the
    report counts no stages but reads the observed skew lineage."""
    pages_pd, _ = corpus
    pages = spark.createDataFrame(pages_pd.head(200))
    before = _persistent_rdd_ids(spark)
    clusters, report = run_pipeline_flow(spark, pages, CFG)
    assert report.cc_iterations == 0  # the driver clustering path
    assert _persistent_rdd_ids(spark) - before == set()
    assert clusters.count() > 0
    d = report.to_dict()
    assert [s["name"] for s in d["stages"]] == [
        "extract", "exact", "signatures", "bands", "candidates", "edges", "clusters"
    ]
    assert all(s["rows"] is None for s in d["stages"])
    # observed, not skipped: no bucket of 200 pages exceeds the 2000 cap
    assert d["star_buckets"] == 0 and d["star_members"] == 0


def test_sketch_stage_partitions_without_a_job(spark, corpus, tmp_path):
    """The sketch stage sizes its input without running a job: a persisted
    exact stage is always repartitioned to 2 x defaultParallelism, and a
    snapshot is repartitioned only when it plans fewer splits than that."""
    from mashing_pumpkins_spark.operators.exact import collapse_exact_duplicates
    from mashing_pumpkins_spark.plans.pipeline import _sketch_stage

    sc = spark.sparkContext
    par = 2 * sc.defaultParallelism
    pages_pd, _ = corpus
    exact = collapse_exact_duplicates(spark.createDataFrame(pages_pd.head(100)))
    exact.repartition(par).write.parquet(str(tmp_path / "exact"))
    snapshot = spark.read.parquet(str(tmp_path / "exact"))
    persisted = exact.persist()
    group = "sketch_stage_planning"
    sc.setJobGroup(group, group)
    try:
        from_cache = _sketch_stage(persisted, CFG)
        from_snapshot = _sketch_stage(snapshot, CFG)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        persisted.unpersist()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0

    def plan(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    assert f"Repartition {par}, true" in plan(from_cache)
    splits = snapshot.where(F.col("kind") == "rep").rdd.getNumPartitions()
    assert ("Repartition" in plan(from_snapshot)) == (splits < par)


def test_pipeline_resume_skips_committed_stages(spark, corpus, tmp_path_factory):
    pages_pd, _ = corpus
    pages = spark.createDataFrame(pages_pd.head(200))
    ckpt = str(tmp_path_factory.mktemp("ckpt_resume"))
    clusters1, report1 = run_pipeline(spark, pages, CFG, ckpt)
    out1 = sorted((r["url"], r["cluster_id"]) for r in clusters1.collect())
    assert not any(s.skipped for s in report1.stages)

    # rerun: everything resumes from checkpoints, output identical
    clusters2, report2 = run_pipeline(spark, pages, CFG, ckpt)
    out2 = sorted((r["url"], r["cluster_id"]) for r in clusters2.collect())
    assert all(s.skipped for s in report2.stages)
    assert out1 == out2
    # a resumed candidates stage measured no skew: None, not a made-up 0
    assert report2.star_buckets is None and report2.star_members is None

    # kill-after-stage-commit simulation: drop the last two stages, rerun —
    # earlier stages stay committed, later ones recompute, output identical
    import pathlib, shutil

    for stage in ("edges", "clusters"):
        shutil.rmtree(pathlib.Path(ckpt) / f"{stage}.parquet")
        (pathlib.Path(ckpt) / f"{stage}.manifest.json").unlink()
    clusters3, report3 = run_pipeline(spark, pages, CFG, ckpt)
    out3 = sorted((r["url"], r["cluster_id"]) for r in clusters3.collect())
    skipped = {s.name: s.skipped for s in report3.stages}
    assert skipped["extract"] and skipped["signatures"] and skipped["bands"]
    assert not skipped["edges"] and not skipped["clusters"]
    assert out1 == out3

    # config change invalidates resume
    other = PipelineConfig(
        sketch=SketchConfig(nsize=21, maxsize=128, hash_name="xxh64", seed=0),
        n_bands=32,
        rows_per_band=8,
    )
    _, report4 = run_pipeline(spark, pages, other, ckpt)
    assert not any(s.skipped for s in report4.stages)


def test_config_hash_covers_all_output_affecting_fields():
    """Resume must recompute when ANY semantic knob changes — band_input_k
    changes every band key, band_group_cap changes the candidate pairs,
    min_doc_bytes changes extract (round-1 verdict bug: these were omitted
    and a resume silently reused stale checkpoints)."""
    base = PipelineConfig()
    variants = [
        PipelineConfig(band_input_k=64),
        PipelineConfig(band_group_cap=500),
        PipelineConfig(min_doc_bytes=100),
        PipelineConfig(n_bands=16, rows_per_band=16),  # non-default since r5
        PipelineConfig(jaccard_threshold=0.7),
        PipelineConfig(sketch=SketchConfig(maxsize=128)),
        PipelineConfig(shard_chunk_bytes=1 << 20),
        PipelineConfig(text_source="html"),
        PipelineConfig(normalize="nfc"),
        PipelineConfig(line_dedup_min_len=10),
    ]
    hashes = {base.config_hash()} | {v.config_hash() for v in variants}
    assert len(hashes) == 1 + len(variants), "every field must feed config_hash"
    # and a changed band_input_k actually invalidates a resume end-to-end
    assert PipelineConfig(band_input_k=64).config_hash() != base.config_hash()


def test_pipeline_resume_recomputes_on_band_input_k_change(
    spark, corpus, tmp_path_factory
):
    pages_pd, _ = corpus
    pages = spark.createDataFrame(pages_pd.head(120))
    ckpt = str(tmp_path_factory.mktemp("ckpt_bik"))
    cfg_a = PipelineConfig(sketch=CFG.sketch, n_bands=32, rows_per_band=8)
    _, r1 = run_pipeline(spark, pages, cfg_a, ckpt)
    assert not any(s.skipped for s in r1.stages)
    cfg_b = PipelineConfig(
        sketch=CFG.sketch, n_bands=32, rows_per_band=8, band_input_k=64
    )
    _, r2 = run_pipeline(spark, pages, cfg_b, ckpt)
    assert not any(s.skipped for s in r2.stages), (
        "band_input_k change must invalidate every checkpointed stage"
    )


def test_checkpoint_read_fails_on_corrupted_nonempty_stage(spark, tmp_path):
    """A snapshot whose manifest says rows>0 but whose parquet is unreadable
    must raise, not silently resume as an empty stage."""
    import pathlib
    import shutil

    from mashing_pumpkins_spark.plans.checkpoint import ParquetCheckpointStore

    store = ParquetCheckpointStore(str(tmp_path), "deadbeef")
    df = spark.createDataFrame([("u1", "t1")], "url string, text string")
    store.write(spark, "extract", df)
    # corrupt: delete every part file but keep the directory + manifest
    data_dir = pathlib.Path(tmp_path) / "extract.parquet"
    shutil.rmtree(data_dir)
    data_dir.mkdir()
    assert store.has("extract")  # manifest still claims complete
    with pytest.raises(Exception):
        store.read(spark, "extract").collect()
    # an honestly-empty stage (rows==0) still reconstructs from the manifest
    empty = spark.createDataFrame([], "url string, text string")
    store.write(spark, "empty_stage", empty)
    got = store.read(spark, "empty_stage")
    assert got.count() == 0 and set(got.columns) == {"url", "text"}


def test_pipeline_skew_star_linking(spark, tmp_path_factory):
    """300 near-identical docs (mass-template plant) with a tiny bucket cap:
    star linking must keep them in ONE cluster and report the skew."""
    import pandas as pd

    base = " ".join(f"w{i}" for i in range(300))
    rows = {
        "url": [f"https://hot.example/{i:04d}" for i in range(300)],
        "text": [base + f" uniquetail{i} x{i}" for i in range(300)],
    }
    pages = spark.createDataFrame(pd.DataFrame(rows))
    cfg = PipelineConfig(
        sketch=CFG.sketch,
        n_bands=32,
        rows_per_band=8,
        jaccard_threshold=0.8,
        band_group_cap=20,
    )
    ckpt = str(tmp_path_factory.mktemp("ckpt_skew"))
    clusters, report = run_pipeline(spark, pages, cfg, ckpt)
    assign = {r["url"]: r["cluster_id"] for r in clusters.collect()}
    assert len(assign) == 300
    assert len(set(assign.values())) == 1
    assert report.star_buckets > 0  # skew was detected and logged, not silent


def test_star_metrics_are_observed_without_a_job(spark, tmp_path):
    """The over-cap lineage is observed on round 1's band table: reading
    the report runs no Spark job; a flow observes the same values; a
    resumed candidates stage observed nothing and reads None."""
    import pandas as pd

    base = " ".join(f"w{i}" for i in range(300))
    rows = {
        "url": [f"https://hot.example/{i:04d}" for i in range(60)],
        "text": [base + f" uniquetail{i} x{i}" for i in range(60)],
    }
    pages = spark.createDataFrame(pd.DataFrame(rows))
    cfg = PipelineConfig(
        sketch=CFG.sketch, n_bands=32, rows_per_band=8, band_group_cap=20
    )
    ckpt = str(tmp_path / "ck")
    _, report = run_pipeline(spark, pages, cfg, ckpt)
    sc = spark.sparkContext
    group = "report_to_dict"
    sc.setJobGroup(group, group)
    try:
        d = report.to_dict()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0
    # every band bucket of 60 near-identical pages holds more than 20
    assert d["star_buckets"] > 0 and d["star_members"] > 20 * d["star_buckets"]
    _, flow = run_pipeline_flow(spark, pages, cfg)
    assert (flow.star_buckets, flow.star_members) == (
        d["star_buckets"],
        d["star_members"],
    )
    _, resumed = run_pipeline(spark, pages, cfg, ckpt)
    assert resumed.stages[4].skipped
    assert resumed.star_buckets is None and resumed.star_members is None


def test_iceberg_store_requires_configured_catalog(spark):
    """No Iceberg runtime in this container: the store must fail LOUDLY at
    construction with an actionable message (the parquet store covers the
    shared resume contract)."""
    from mashing_pumpkins_spark.plans.iceberg import IcebergCheckpointStore

    with pytest.raises(RuntimeError, match="spark.sql.catalog.lake"):
        IcebergCheckpointStore(spark, "lake.run1", "cafebabe")


def test_cluster_quality_report_flags_transitive_chaining(spark):
    """A chained cluster A~B~C (A-B and B-C near-dup, A-C not) must show
    min_hub_jaccard well below the pairwise threshold — the audit signal
    that the cluster is a chaining artifact, not a uniform dup group."""
    from mashing_pumpkins_spark.config import SketchConfig
    from mashing_pumpkins_spark.operators.cluster_report import (
        cluster_quality_report,
    )
    from mashing_pumpkins_spark.operators.signature import sketch_table

    words = [f"tok{i}" for i in range(300)]
    a = " ".join(words[0:200])            # hub (min url)
    b = " ".join(words[50:250])           # overlaps both
    c = " ".join(words[100:300])          # far from a
    docs = spark.createDataFrame(
        [("00a", a), ("00b", b), ("00c", c)], "url string, text string"
    )
    clusters = spark.createDataFrame(
        [("00a", "00a"), ("00b", "00a"), ("00c", "00a")],
        "url string, cluster_id string",
    )
    cfg = SketchConfig(nsize=21, maxsize=1 << 30, hash_name="xxh64", seed=0)
    sigs = sketch_table(docs, cfg).select("url", "sig")
    rep = cluster_quality_report(clusters, sigs).collect()
    assert len(rep) == 1
    r = rep[0]
    assert r["cluster_id"] == "00a" and r["n_members"] == 3
    # hub vs itself contributes 1.0; b overlaps a substantially; c little
    assert r["min_hub_jaccard"] < 0.5 < r["avg_hub_jaccard"] <= 1.0


def test_cluster_quality_report_missing_hub_surfaces_not_drops(spark):
    """A cluster whose hub url is absent from `signatures` must still
    appear in the audit (with null hub Jaccards), not silently vanish —
    and the hub side must only broadcast actual hub rows."""
    from mashing_pumpkins_spark.config import SketchConfig
    from mashing_pumpkins_spark.operators.cluster_report import (
        cluster_quality_report,
    )
    from mashing_pumpkins_spark.operators.signature import sketch_table

    words = [f"tok{i}" for i in range(200)]
    docs = spark.createDataFrame(
        [("00b", " ".join(words)), ("00c", " ".join(words[0:150]))],
        "url string, text string",
    )
    # hub 00a has NO signature row (e.g. dropped upstream)
    clusters = spark.createDataFrame(
        [("00a", "00a"), ("00b", "00a"), ("00c", "00a")],
        "url string, cluster_id string",
    )
    cfg = SketchConfig(nsize=21, maxsize=1 << 30, hash_name="xxh64", seed=0)
    sigs = sketch_table(docs, cfg).select("url", "sig")
    rep = cluster_quality_report(clusters, sigs).collect()
    assert len(rep) == 1
    r = rep[0]
    # 00a's own member row has no signature either -> 2 auditable members
    assert r["cluster_id"] == "00a" and r["n_members"] == 2
    assert r["min_hub_jaccard"] is None and r["avg_hub_jaccard"] is None


def test_pipeline_from_html_matches_text_column(spark, corpus, tmp_path_factory):
    """text_source="html" runs the native HTML extractor inside the
    extract stage; by the byte-identity invariant the clusters must equal
    a run that trusted the stored text column (raw-WARC ingest shape)."""
    import dataclasses

    pages_pd, _ = corpus
    pages = spark.createDataFrame(pages_pd.head(300))
    ckpt_a = str(tmp_path_factory.mktemp("ckpt_src_col"))
    ckpt_b = str(tmp_path_factory.mktemp("ckpt_src_html"))
    cfg_html = dataclasses.replace(CFG, text_source="html")
    c1, _ = run_pipeline(spark, pages, CFG, ckpt_a)
    c2, _ = run_pipeline(spark, pages.drop("text"), cfg_html, ckpt_b)
    a1 = sorted((r["url"], r["cluster_id"]) for r in c1.collect())
    a2 = sorted((r["url"], r["cluster_id"]) for r in c2.collect())
    assert a1 == a2


def test_finalize_dedup_elects_longest_and_keeps_singletons(spark):
    """Representative = longest text (url tiebreak); non-representative
    members are dropped; unclustered pages keep null cluster/rep."""
    from mashing_pumpkins_spark.operators.cluster_report import finalize_dedup

    pages = spark.createDataFrame(
        [
            ("00a", "short text"),
            ("00b", "the much longer winning text body"),
            ("00c", "middle length here"),
            ("00z", "an unclustered page"),
        ],
        "url string, text string",
    )
    clusters = spark.createDataFrame(
        [("00a", "00a"), ("00b", "00a"), ("00c", "00a")],
        "url string, cluster_id string",
    )
    rows = {r["url"]: r for r in finalize_dedup(clusters, pages).collect()}
    assert rows["00b"]["kept"] and rows["00b"]["rep_url"] == "00b"
    assert not rows["00a"]["kept"] and not rows["00c"]["kept"]
    assert rows["00a"]["rep_url"] == "00b"
    z = rows["00z"]
    assert z["kept"] and z["cluster_id"] is None and z["rep_url"] is None
    # exactly one kept member per cluster
    kept_in_cluster = [u for u, r in rows.items() if r["cluster_id"] == "00a" and r["kept"]]
    assert kept_in_cluster == ["00b"]


def test_finalize_dedup_tiebreak_is_ascending_url(spark):
    from mashing_pumpkins_spark.operators.cluster_report import finalize_dedup

    pages = spark.createDataFrame(
        [("00b", "same size"), ("00a", "same size")], "url string, text string"
    )
    clusters = spark.createDataFrame(
        [("00a", "00a"), ("00b", "00a")], "url string, cluster_id string"
    )
    rows = {r["url"]: r for r in finalize_dedup(clusters, pages).collect()}
    assert rows["00a"]["kept"] and not rows["00b"]["kept"]


def test_pipeline_normalize_stage_collapses_nfc_twins(spark, tmp_path_factory):
    """normalize="nfc" makes composed/decomposed twins EXACT duplicates,
    so the exact-collapse stage clusters them."""
    import dataclasses

    body = "a long enough document body line with steady words caf"
    pages = spark.createDataFrame(
        [("u1", body + "\u00e9"), ("u2", body + "e\u0301")],
        "url string, text string",
    )
    cfg = dataclasses.replace(CFG, normalize="nfc")
    ckpt = str(tmp_path_factory.mktemp("ckpt_nfc"))
    clusters, _ = run_pipeline(spark, pages, cfg, ckpt)
    got = {r["url"]: r["cluster_id"] for r in clusters.collect()}
    assert got.get("u1") is not None and got["u1"] == got["u2"]


def test_pipeline_line_dedup_stage_strips_boiler_corpus_wide(spark):
    """line_dedup_min_len runs C4 line dedup inside extract: a
    boilerplate line survives in exactly one doc (earliest url), docs
    reduced to nothing fall to the min_doc_bytes filter (line dedup
    REMOVES duplicated content before doc-level dedup ever sees it —
    the C4 ordering), and unique multi-line content is untouched."""
    import dataclasses

    boiler = "subscribe to our newsletter for updates today"
    pages = spark.createDataFrame(
        [
            ("u1", "first unique body line of doc one\n" + boiler),
            ("u2", "second doc unique line here\n" + boiler),
            ("u3", boiler),  # only content is the boiler -> emptied, dropped
        ],
        "url string, text string",
    )
    from mashing_pumpkins_spark.plans.pipeline import extract

    cfg = dataclasses.replace(CFG, line_dedup_min_len=10)
    got = {r["url"]: r["text"] for r in extract(pages, cfg).collect()}
    assert got["u1"] == "first unique body line of doc one\n" + boiler
    assert got["u2"] == "second doc unique line here"
    assert "u3" not in got


def test_pipeline_recall_with_adaptive_banding(spark, corpus, tmp_path_factory):
    """Round-7 adaptive default (choose_banding(0.8) -> 26x8): the e2e
    dup-pair recall floor must hold at the CHOSEN point, not just the old
    fixed 32x8 — this is the north rule's >=0.99 criterion under the
    cheaper verify-cost shape."""
    pages_pd, _oracle = corpus
    pages = spark.createDataFrame(pages_pd)
    cfg = PipelineConfig(
        sketch=SketchConfig(nsize=21, maxsize=256, hash_name="xxh64", seed=0),
        jaccard_threshold=0.8,  # banding left adaptive
    )
    assert (cfg.n_bands, cfg.rows_per_band) == (26, 8)
    ckpt = str(tmp_path_factory.mktemp("ckpt_recall_adaptive"))
    clusters, _report = run_pipeline(spark, pages, cfg, ckpt)
    assign = {r["url"]: r["cluster_id"] for r in clusters.collect()}
    truth = _truth_pairs(pages_pd, cfg)
    assert len(truth) > 50
    found = sum(
        1 for a, b in truth if assign.get(a) is not None and assign.get(a) == assign.get(b)
    )
    recall = found / len(truth)
    assert recall >= 0.99, f"adaptive-banding recall {recall:.4f} on {len(truth)} pairs"
