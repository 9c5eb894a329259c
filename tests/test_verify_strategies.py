"""verified_edges physical strategies must agree: broadcast of the full
signatures, broadcast prefix prefilter then a join for the exact pass, and
a join for both passes (one pass when no signature is longer than the
prefix)."""

from __future__ import annotations

import functools
import random

import pytest
from pyspark.sql import functions as F

from mashing_pumpkins_spark.config import PipelineConfig, SketchConfig
from mashing_pumpkins_spark.operators.candidates import candidate_pairs
from mashing_pumpkins_spark.operators.signature import sketch_table
from mashing_pumpkins_spark.operators.verify import verified_edges, verify_scorer
from mashing_pumpkins_spark.plans import pipeline


@pytest.fixture(scope="module")
def docs_and_pairs(spark):
    rng = random.Random(17)
    vocab = [f"tok{i}" for i in range(800)]
    texts = []
    base = [rng.choice(vocab) for _ in range(300)]
    for i in range(30):
        t = list(base)
        for _ in range(rng.randrange(0, 40)):  # 0-13% edits
            t[rng.randrange(len(t))] = rng.choice(vocab)
        texts.append((f"u{i:03d}", " ".join(t)))
    for i in range(30, 60):  # unrelated docs
        texts.append((f"u{i:03d}", " ".join(rng.choice(vocab) for _ in range(300))))
    docs = spark.createDataFrame(texts, "url string, text string")
    pairs = spark.createDataFrame(
        [(f"u{a:03d}", f"u{b:03d}") for a in range(60) for b in range(a + 1, 60)],
        "url_a string, url_b string",
    )
    return docs, pairs


def _exact_edges(sigs, pairs, tau):
    """Driver-side exact Jaccard over the collected signatures."""
    sig = {r["url"]: set(r["sig"]) for r in sigs.collect()}
    out = {}
    for r in pairs.collect():
        a, b = sig[r["url_a"]], sig[r["url_b"]]
        j = len(a & b) / len(a | b)
        if j >= tau:
            out[(r["url_a"], r["url_b"])] = j
    return out


def _verify_strategy(edges) -> str:
    plan = edges._jdf.queryExecution().optimizedPlan().toString()
    broadcast, joined = "MapInPandas" in plan, "ArrowEvalPython" in plan
    if broadcast:
        return "prefix_broadcast" if joined else "broadcast"
    return "join"


@pytest.mark.parametrize("strategy", ["broadcast", "prefix_broadcast", "join"])
@pytest.mark.parametrize("maxsize", [256, 1000])
def test_broadcast_and_join_paths_agree(spark, docs_and_pairs, maxsize, strategy):
    """Each strategy, forced by a cap set from the fixture's measured slice
    bytes (8 B per value plus a start and a length per row; every url is a
    candidate), returns exactly the driver-side exact-Jaccard edges."""
    docs, pairs = docs_and_pairs
    cfg = PipelineConfig(
        sketch=SketchConfig(nsize=21, maxsize=maxsize, hash_name="xxh64", seed=0),
        jaccard_threshold=0.5,
    )
    sigs = sketch_table(docs, cfg.sketch)
    lens = [len(r["sig"]) for r in sigs.collect()]
    prefix_bytes = 8 * (sum(min(n, cfg.prefilter_k) for n in lens) + 2 * len(lens))
    full_bytes = 8 * (sum(lens) + 2 * len(lens))
    assert prefix_bytes < full_bytes
    cap = {"broadcast": full_bytes, "prefix_broadcast": prefix_bytes, "join": 0}[strategy]
    edges = verified_edges(pairs, sigs, cfg, broadcast_cap_bytes=cap)
    assert _verify_strategy(edges) == strategy
    got = {(r["url_a"], r["url_b"]): r["jaccard"] for r in edges.collect()}
    want = _exact_edges(sigs, pairs, 0.5)
    assert got.keys() == want.keys()
    assert all(abs(got[k] - want[k]) < 1e-9 for k in want)
    assert len(got) > 5  # fixture actually plants verifiable pairs


def _caps(sigs, cfg) -> dict[str, int]:
    """Broadcast caps forcing each strategy when every url is a candidate:
    8 B per value plus a start and a length per row."""
    lens = [len(r["sig"]) for r in sigs.collect()]
    prefix_bytes = 8 * (sum(min(n, cfg.prefilter_k) for n in lens) + 2 * len(lens))
    full_bytes = 8 * (sum(lens) + 2 * len(lens))
    return {"broadcast": full_bytes, "prefix_broadcast": prefix_bytes, "join": 0}


@pytest.mark.parametrize("strategy", ["broadcast", "prefix_broadcast", "join"])
def test_scorer_on_a_second_pair_table_matches_verified_edges(
    spark, docs_and_pairs, strategy
):
    """A scorer built on one pair table and applied to another (whose urls
    are in the first one's slice) keeps the first table's strategy and
    returns the rows verified_edges returns for the second table."""
    docs, pairs = docs_and_pairs
    cfg = PipelineConfig(
        sketch=SketchConfig(nsize=21, maxsize=1000, hash_name="xxh64", seed=0),
        jaccard_threshold=0.5,
    )
    sigs = sketch_table(docs, cfg.sketch)
    cap = _caps(sigs, cfg)[strategy]
    second = pairs.where((F.col("url_a") >= "u010") & (F.col("url_b") < "u045"))
    scored = verify_scorer(pairs, sigs, cfg, broadcast_cap_bytes=cap)(second)
    assert _verify_strategy(scored) == strategy
    got = sorted((r["url_a"], r["url_b"], r["jaccard"]) for r in scored.collect())
    want = sorted(
        (r["url_a"], r["url_b"], r["jaccard"])
        for r in verified_edges(second, sigs, cfg, broadcast_cap_bytes=cap).collect()
    )
    assert got == want and len(got) > 5


def test_broadcast_scoring_raises_on_a_url_missing_from_the_slice(spark, docs_and_pairs):
    """A pair whose url has no row in the broadcast slice raises instead of
    scoring 0 and dropping the pair silently."""
    docs, pairs = docs_and_pairs
    cfg = PipelineConfig(
        sketch=SketchConfig(nsize=21, maxsize=256, hash_name="xxh64", seed=0),
        jaccard_threshold=0.5,
    )
    sigs = sketch_table(docs, cfg.sketch)
    unknown = spark.createDataFrame([("u001", "zz-unknown")], "url_a string, url_b string")
    with pytest.raises(Exception, match="zz-unknown"):
        verified_edges(pairs.union(unknown), sigs, cfg, broadcast_cap_bytes=1 << 40).collect()
    score = verify_scorer(pairs.where(F.col("url_b") < "u030"), sigs, cfg, 1 << 40)
    outside = spark.createDataFrame([("u001", "u050")], "url_a string, url_b string")
    with pytest.raises(Exception, match="u050"):
        score(outside).collect()


def test_prefilter_k_knob_same_edges(spark, docs_and_pairs):
    """The configurable prefilter width must not change the final edge set —
    phase 1 is only ever a superset filter; wider K only tightens the
    false-drop tail."""
    docs, pairs = docs_and_pairs
    cfg128 = PipelineConfig(
        sketch=SketchConfig(nsize=21, maxsize=1000, hash_name="xxh64", seed=0),
        jaccard_threshold=0.7,
        prefilter_k=128,
    )
    cfg64 = PipelineConfig(
        sketch=SketchConfig(nsize=21, maxsize=1000, hash_name="xxh64", seed=0),
        jaccard_threshold=0.7,
        prefilter_k=64,
    )
    sigs = sketch_table(docs, cfg128.sketch)
    got128 = {
        (r["url_a"], r["url_b"], r["jaccard"])
        for r in verified_edges(pairs, sigs, cfg128, broadcast_cap_bytes=0).collect()
    }
    got64 = {
        (r["url_a"], r["url_b"], r["jaccard"])
        for r in verified_edges(pairs, sigs, cfg64, broadcast_cap_bytes=0).collect()
    }
    assert got128 == got64 and len(got64) > 0


def test_broadcast_redo_rows_match_join_path(spark):
    """Unsorted or duplicate-valued signature arrays are re-scored with
    np.intersect1d in both physical paths (the broadcast scan picks them by
    np.isin on the violating row set); the jaccards must agree exactly."""
    rng = random.Random(5)
    rows = []
    for i in range(40):
        sig = sorted(rng.sample(range(1, 90), 60))
        if i % 3 == 0:
            sig = sig[::-1]  # unsorted
        if i % 4 == 0:
            sig = sig + sig[:2]  # duplicate values
        rows.append((f"u{i:03d}", sig))
    sigs = spark.createDataFrame(rows, "url string, sig array<bigint>")
    pairs = spark.createDataFrame(
        [(f"u{a:03d}", f"u{b:03d}") for a in range(40) for b in range(a + 1, 40)],
        "url_a string, url_b string",
    )
    cfg = PipelineConfig(
        sketch=SketchConfig(nsize=21, maxsize=256, hash_name="xxh64", seed=0),
        jaccard_threshold=0.45,
    )
    via_bcast = verified_edges(pairs, sigs, cfg, broadcast_cap_bytes=1 << 40)
    via_join = verified_edges(pairs, sigs, cfg, broadcast_cap_bytes=0)
    b = sorted((r["url_a"], r["url_b"], r["jaccard"]) for r in via_bcast.collect())
    j = sorted((r["url_a"], r["url_b"], r["jaccard"]) for r in via_join.collect())
    assert b == j and len(b) > 50


def _queries_in_group(spark, group: str) -> list[str]:
    """Physical plans of the SQL queries whose jobs ran in ``group``, in
    execution order. A query runs as several jobs under adaptive execution
    (one per shuffle stage), so queries, not jobs, count the eager steps."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    job_ids = list(sc.statusTracker().getJobIdsForGroup(group))
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    plans = []
    for i in range(execs.size()):
        e = execs.apply(i)
        if any(e.jobs().contains(j) for j in job_ids):
            plans.append((e.executionId(), e.physicalPlanDescription()))
    return [p for _, p in sorted(plans)]


@pytest.mark.parametrize("broadcast", [True, False])
def test_verify_dispatch_is_one_aggregate(spark, docs_and_pairs, broadcast, monkeypatch):
    """Choosing the strategy costs exactly one query, the aggregate over
    the candidate slice. The broadcast path adds only the slice collect;
    the join path adds nothing eager. A return to separate count or probe
    jobs fails. The edges stage makes that one decision for both verify
    rounds."""
    docs, pairs = docs_and_pairs
    cfg = PipelineConfig(
        sketch=SketchConfig(nsize=21, maxsize=1000, hash_name="xxh64", seed=0),
        jaccard_threshold=0.5,
    )
    sigs = sketch_table(docs, cfg.sketch).localCheckpoint()
    pairs.collect()  # any set-up job of the inputs happens outside the group
    group = f"verify_dispatch_{broadcast}"
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        verified_edges(pairs, sigs, cfg, broadcast_cap_bytes=(1 << 40) if broadcast else 0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    plans = _queries_in_group(spark, group)
    assert len(plans) == (2 if broadcast else 1)
    assert "least(size(sig" in plans[0]  # the dispatch aggregate comes first

    # The edges stage: one dispatch aggregate serves both rounds. Every doc
    # shares one band bucket, so round 2 pairs the members round 1 left in
    # different components.
    bands = sigs.select("url", F.lit(0).alias("band_id"), F.lit(7).cast("bigint").alias("band_key"))
    rounds_cfg = PipelineConfig(sketch=cfg.sketch, jaccard_threshold=0.5, band_group_cap=100)
    pairs1, _ = candidate_pairs(bands, rounds_cfg)
    pairs1 = pairs1.localCheckpoint()
    cap = (1 << 40) if broadcast else 0
    monkeypatch.setattr(
        pipeline, "verify_scorer", functools.partial(verify_scorer, broadcast_cap_bytes=cap)
    )
    group = f"edges_stage_{broadcast}"
    sc.setJobGroup(group, group)
    try:
        edges, round1 = pipeline.verified_rounds(pairs1, bands, sigs, rounds_cfg)
        got = {(r["url_a"], r["url_b"]) for r in edges.collect()}
        round1.unpersist()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    plans = _queries_in_group(spark, group)
    assert sum("least(size(sig" in p for p in plans) == 1
    # both rounds were scored: the edges of the 30 near-dups reach beyond
    # the hub u000's star
    assert any("u000" not in e for e in got)
