"""Batch incremental near-dup admission against a committed index."""

from __future__ import annotations

from pyspark.sql import functions as F

from mashing_pumpkins_spark.config import PipelineConfig, SketchConfig
from mashing_pumpkins_spark.operators.incremental import (
    incremental_near_dup,
    index_tables,
)


def _cfg():
    return PipelineConfig(
        sketch=SketchConfig(nsize=21, maxsize=1 << 30, hash_name="xxh64", seed=0),
        n_bands=32,
        rows_per_band=8,
        jaccard_threshold=0.8,
    )


def _corpus(spark, rows):
    return spark.createDataFrame(rows, "url string, text string")


def _doc(tag, n=60):
    return " ".join(f"{tag}w{j}" for j in range(n))


def test_incremental_admission_splits_matches_and_fresh(spark):
    cfg = _cfg()
    committed = _corpus(
        spark, [(f"c{i}", _doc(f"c{i}")) for i in range(4)]
    )
    sigs, bands = index_tables(committed, cfg)
    near_c2 = _doc("c2").replace("c2w59", "changed")
    batch = _corpus(
        spark,
        [
            ("b1", near_c2),  # near-dup of committed c2
            ("b2", _doc("bx")),  # intra-batch pair with b3
            ("b3", _doc("bx").replace("bxw59", "altered")),
            ("b4", _doc("b4")),  # genuinely fresh
        ],
    )
    matches, fresh = incremental_near_dup(batch, sigs, bands, cfg)
    m = [(r.new_url, r.match_url) for r in matches.collect()]
    assert m == [("b1", "c2")]
    assert all(r.jaccard >= 0.8 for r in matches.collect())
    assert sorted(r.url for r in fresh.collect()) == ["b2", "b4"]  # b3 collapsed


def test_incremental_leaves_no_persisted_rdds(spark):
    """The intra-batch flow releases what it persisted: after admitting a
    batch (driver-path clustering) and reading both outputs, no cached RDD
    is left behind."""
    cfg = _cfg()
    committed = _corpus(spark, [(f"c{i}", _doc(f"c{i}")) for i in range(3)])
    sigs, bands = index_tables(committed, cfg)
    batch = _corpus(
        spark,
        [("b1", _doc("bx")), ("b2", _doc("bx").replace("bxw59", "x")), ("b3", _doc("c1"))],
    )
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    matches, fresh = incremental_near_dup(batch, sigs, bands, cfg)
    assert [(r.new_url, r.match_url) for r in matches.collect()] == [("b3", "c1")]
    assert sorted(r.url for r in fresh.collect()) == ["b1"]
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keySet()) - before == set()


def test_incremental_index_delta_appends_cleanly(spark):
    cfg = _cfg()
    committed = _corpus(spark, [(f"c{i}", _doc(f"c{i}")) for i in range(3)])
    sigs, bands = index_tables(committed, cfg)
    batch = _corpus(spark, [("b1", _doc("b1")), ("b2", _doc("b2"))])
    _matches, fresh = incremental_near_dup(batch, sigs, bands, cfg)
    d_sigs, d_bands = index_tables(fresh, cfg)
    assert d_sigs.schema == sigs.schema and d_bands.schema == bands.schema
    merged_sigs = sigs.unionByName(d_sigs)
    merged_bands = bands.unionByName(d_bands)
    # re-submitting the same texts under new urls now matches the merged
    # index (same-url self-matches are excluded by design)
    resubmit = _corpus(spark, [("r1", _doc("b1")), ("r2", _doc("b2"))])
    matches2, fresh2 = incremental_near_dup(
        resubmit, merged_sigs, merged_bands, cfg, intra_batch=False
    )
    assert sorted((r.new_url, r.match_url) for r in matches2.collect()) == [
        ("r1", "b1"),
        ("r2", "b2"),
    ]
    assert fresh2.count() == 0


def test_incremental_without_intra_batch_keeps_both_twins(spark):
    cfg = _cfg()
    committed = _corpus(spark, [("c0", _doc("c0"))])
    sigs, bands = index_tables(committed, cfg)
    batch = _corpus(
        spark,
        [("b2", _doc("bx")), ("b3", _doc("bx").replace("bxw59", "altered"))],
    )
    _m, fresh = incremental_near_dup(batch, sigs, bands, cfg, intra_batch=False)
    assert sorted(r.url for r in fresh.collect()) == ["b2", "b3"]


def test_incremental_multi_batch_soak_equals_from_scratch(spark, tmp_path):
    """3-batch soak with index-delta commits (the weekly-refresh shape):

    1. the final admitted set is a valid dedup cover: exactly one
       representative per planted cluster, none of them near-dups of each
       other, every rejected doc matched against an admitted one;
    2. the delta-composed index EQUALS index_tables() recomputed from
       scratch over the admitted docs (the compaction equivalence — three
       append commits lose nothing vs a rebuild);
    3. index growth per batch == admitted-doc count (sigs) and
       admitted * n_bands (bands) — documented, not just asserted.
    """
    cfg = _cfg()
    # 6 planted clusters x 3 variants, one variant per batch
    def variant(tag, k):
        base = _doc(tag, n=80)
        return base if k == 0 else base.replace(f"{tag}w{70 + k}", f"edit{k}")

    batches = []
    for k in range(3):
        rows = [(f"{tag}_v{k}", variant(tag, k)) for tag in
                ["cl0", "cl1", "cl2", "cl3", "cl4", "cl5"]]
        # plus one batch-unique singleton per round
        rows.append((f"solo{k}", _doc(f"solo{k}", n=80)))
        batches.append(_corpus(spark, rows))

    sigs, bands = index_tables(batches[0].limit(0), cfg)
    admitted = []
    growth = []
    for k in range(3):
        matches, fresh = incremental_near_dup(
            batches[k], sigs, bands, cfg, intra_batch=False
        )
        fresh_rows = [(r.url, r.text) for r in fresh.collect()]
        admitted.extend(fresh_rows)
        d_sigs, d_bands = index_tables(_corpus(spark, fresh_rows), cfg)
        sigs = sigs.unionByName(d_sigs)
        bands = bands.unionByName(d_bands)
        # commit the delta to parquet and re-read (the production shape:
        # each refresh appends, consumers read the committed files)
        sig_dir, band_dir = str(tmp_path / f"sigs{k}"), str(tmp_path / f"bands{k}")
        sigs.write.mode("overwrite").parquet(sig_dir)
        bands.write.mode("overwrite").parquet(band_dir)
        sigs = spark.read.parquet(sig_dir)
        bands = spark.read.parquet(band_dir)
        growth.append((len(fresh_rows), sigs.count(), bands.count()))

    # (1) exactly one representative per planted cluster + each solo
    reps = {u for u, _ in admitted}
    by_cluster = {}
    for u in reps:
        by_cluster.setdefault(u.split("_")[0], []).append(u)
    for tag in ["cl0", "cl1", "cl2", "cl3", "cl4", "cl5"]:
        assert len(by_cluster.get(tag, [])) == 1, by_cluster
    assert {f"solo{k}" for k in range(3)} <= reps
    assert len(reps) == 9

    # (2) compaction equivalence: delta-composed index == from-scratch
    scratch_sigs, scratch_bands = index_tables(_corpus(spark, admitted), cfg)
    def sig_set(df):
        return {(r.url, tuple(r.sig)) for r in df.collect()}
    assert sig_set(sigs) == sig_set(scratch_sigs)
    band_cols = [c for c in bands.columns]
    def band_set(df):
        return {tuple(r) for r in df.select(*band_cols).collect()}
    assert band_set(bands) == band_set(scratch_bands)

    # (3) growth bookkeeping: each commit adds exactly the admitted rows
    total = 0
    for fresh_n, sig_n, band_n in growth:
        total += fresh_n
        assert sig_n == total
        assert band_n == total * cfg.n_bands
