"""End-to-end near-duplicate pipeline (SURVEY.md §2.3 stage order).

    pages -> extract -> exact-dup collapse -> sketch -> bands
          -> candidates (skew-aware) -> verify -> cluster

One stage list, two stores. `run_pipeline` hands each stage to a store's
`get_or_compute`: the parquet checkpoint store commits every stage before
the next starts, so a rerun with the same config resumes after the last
committed stage, and its stage metrics (rows, wall sec, per-partition
counts) come back in the run report. `run_pipeline_flow` runs the same
stages over a `PersistStore` (lazily persisted frames, nothing written)
and releases them before it returns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..operators.banding import band_table
from ..operators.candidates import candidate_pairs
from ..operators.connected_components import connected_components_auto
from ..operators.exact import collapse_exact_duplicates
from ..operators.signature import sketch_table
from ..operators.verify import verified_edges
from .checkpoint import ParquetCheckpointStore, PersistStore, StageResult


class RunReport:
    """Stage metrics for one pipeline run.

    ``star_buckets`` / ``star_members`` (the over-cap skew lineage) are
    LAZY: reading them runs one small aggregate over the band table on
    FIRST access (guide §1.2: don't spend a full band-table pass on numbers
    the caller may never read — the bench path reads only the clusters).
    Access them while the store is still alive; values are cached after the
    first read. They read None when nothing measured them: the candidates
    stage was resumed from a snapshot, or the run was a flow, whose stages
    are released before the report is returned."""

    def __init__(self):
        self.stages: list[StageResult] = []
        self.cc_iterations = 0
        self._stars: tuple[int, int] | None = None
        self._star_thunk = None

    def _star(self, i: int) -> int | None:
        if self._star_thunk is not None:
            thunk, self._star_thunk = self._star_thunk, None
            self._stars = thunk()
        return None if self._stars is None else self._stars[i]

    @property
    def star_buckets(self) -> int | None:
        return self._star(0)

    @property
    def star_members(self) -> int | None:
        return self._star(1)

    def to_dict(self) -> dict:
        return {
            "stages": [
                {
                    "name": s.name,
                    "rows": s.rows,
                    "wall_sec": round(s.wall_sec, 3),
                    "skipped": s.skipped,
                    "n_partitions": len(s.partition_counts),
                }
                for s in self.stages
            ],
            "cc_iterations": self.cc_iterations,
            "star_buckets": self.star_buckets,
            "star_members": self.star_members,
        }


def extract(pages: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """pages -> docs(url, text): null/short filtering.

    text_source="column" (default) passes the stored text column through
    untouched — the byte-identity invariant the oracle comparison relies
    on. text_source="html" derives text by running the native HTML
    extractor on the html column (the raw-WARC ingest shape); by the same
    invariant both sources yield identical downstream clusters, and
    test_pipeline_from_html_matches_text_column pins that."""
    if cfg.text_source == "html":
        from ..operators.extraction import extracted_text_col

        docs = pages.select("url", extracted_text_col("html").alias("text"))
    else:
        docs = pages.select("url", "text")
    if cfg.normalize != "none":
        from ..functions.unicode_norm import normalize_unicode

        docs = docs.select(
            "url", normalize_unicode(F.col("text"), cfg.normalize.upper()).alias("text")
        )
    if cfg.line_dedup_min_len > 0:
        from ..operators.corpus import line_dedup

        docs = line_dedup(
            docs, id_col="url", min_len=cfg.line_dedup_min_len
        ).select("url", F.col("clean_text").alias("text"))
    return docs.where(
        F.col("text").isNotNull()
        & (F.octet_length(F.encode(F.col("text"), "utf-8")) >= cfg.min_doc_bytes)
    )


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    cfg: PipelineConfig,
    checkpoint_dir: str | None = None,
    store=None,
) -> tuple[DataFrame, RunReport]:
    """Returns (clusters(url, cluster_id), report). Only docs that belong to
    some near-duplicate cluster appear; all other urls are singletons.

    Stage storage is pluggable: pass ``store`` (anything with
    ``get_or_compute(spark, name, compute) -> (df, StageResult)``, e.g.
    plans.iceberg.IcebergCheckpointStore or checkpoint.PersistStore)
    instead of the default parquet store built from ``checkpoint_dir``;
    the Iceberg integration test runs this whole pipeline against an
    Iceberg catalog whenever the runtime jar is present."""
    if store is None:
        if checkpoint_dir is None:
            raise ValueError("run_pipeline needs checkpoint_dir or store")
        store = ParquetCheckpointStore(checkpoint_dir, cfg.config_hash())
    report = RunReport()

    def stage(name: str, compute) -> DataFrame:
        df, res = store.get_or_compute(spark, name, compute)
        report.stages.append(res)
        return df

    docs = stage("extract", lambda: extract(pages, cfg))

    exact = stage("exact", lambda: collapse_exact_duplicates(docs))
    signatures = stage("signatures", lambda: _sketch_stage(exact, cfg))
    bands = stage("bands", lambda: band_table(signatures, cfg))

    def _candidates():
        pairs, skew = candidate_pairs(bands, cfg)

        def stars() -> tuple[int, int]:
            skew_rows = skew.agg(
                F.count("*").alias("b"),
                F.coalesce(F.sum("bucket_size"), F.lit(0)).alias("m"),
            ).first()
            return int(skew_rows["b"]), int(skew_rows["m"])

        report._star_thunk = stars
        return pairs

    pairs = stage("candidates", _candidates)
    near_edges = stage("edges", lambda: verified_edges(pairs, signatures, cfg))
    all_edges = near_edges.select("url_a", "url_b").union(
        exact.where(F.col("kind") == "edge").select(F.col("url").alias("url_a"), "url_b")
    )

    def _cluster():
        clusters, iters = connected_components_auto(all_edges)
        report.cc_iterations = iters
        return clusters

    clusters = stage("clusters", _cluster)
    return clusters, report


def run_pipeline_flow(
    spark: SparkSession, pages: DataFrame, cfg: PipelineConfig
) -> tuple[DataFrame, RunReport]:
    """Checkpoint-free run: the same stages over a PersistStore, so nothing
    is committed and every stage a later one reads twice is computed once.
    Used where per-stage commits would swamp the signal (throughput and
    scaling runs, intra-batch dedup); production runs use run_pipeline
    with a checkpoint store. The persisted stages are released before
    returning: both clustering paths return frames that no longer read
    them (a driver-built table, or local checkpoints the convergence test
    has already materialized). Stage rows are not counted, and the
    report's skew lineage reads None."""
    store = PersistStore()
    try:
        clusters, report = run_pipeline(spark, pages, cfg, store=store)
    finally:
        store.release()
    report._star_thunk = None
    return clusters, report


def _sketch_stage(exact: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """sketch_table over the exact stage's representatives, or its sharded
    variant when the config bounds per-task input bytes (outlier 100MB+
    pages: same sketch bit-for-bit, bounded Arrow batches).

    Partitioning: the sketch UDF is CPU-bound per byte, so it gets at
    least 2 x defaultParallelism tasks. A snapshot re-read plans its
    splits by BYTES (maxPartitionBytes file packing) without running a
    job, and is repartitioned only when it has fewer splits than that; at
    production scale snapshots have thousands of splits and this is a
    no-op. A persisted stage has no split count until adaptive execution
    has run its shuffles (asking for it runs them as jobs, and reports the
    pre-coalesce count), so it is always repartitioned."""
    reps = exact.where(F.col("kind") == "rep").select("url", "text")
    par = reps.sparkSession.sparkContext.defaultParallelism * 2
    if exact.is_cached or reps.rdd.getNumPartitions() < par:
        reps = reps.repartition(par)
    if cfg.shard_chunk_bytes > 0:
        from ..operators.sharding import sketch_table_sharded

        return sketch_table_sharded(reps, cfg.sketch, cfg.shard_chunk_bytes)
    return sketch_table(reps, cfg.sketch)
