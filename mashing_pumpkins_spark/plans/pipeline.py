"""End-to-end near-duplicate pipeline (SURVEY.md §2.3 stage order).

    pages -> extract -> exact-dup collapse -> sketch -> bands
          -> candidates (round 1) -> edges (verify, label, round 2) -> cluster

Near-dup linking runs in two exact rounds (operators/candidates.py). The
candidates stage holds round 1: each band bucket's members paired with the
bucket's minimum url. The edges stage verifies them, labels the urls with
the connected components of the round-1 edges, and verifies round 2: the
pairs of under-cap buckets whose members carry different labels, unless
every round-1 pair verified. It writes round-1 and round-2 edges. The
clusters stage is the connected components of those edges and the
exact-duplicate edges: the same clusters as scoring every within-bucket
pair, from far fewer scored pairs.

One stage list, two stores. `run_pipeline` hands each stage to a store's
`get_or_compute`: the parquet checkpoint store commits every stage before
the next starts, so a rerun with the same config resumes after the last
committed stage, and its stage metrics (rows, wall sec, per-partition
counts) come back in the run report. `run_pipeline_flow` runs the same
stages over a `PersistStore` (lazily persisted frames, nothing written)
and releases them before it returns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..operators.banding import band_table
from ..operators.candidates import candidate_pairs, cross_label_pairs
from ..operators.connected_components import connected_components_auto
from ..operators.exact import collapse_exact_duplicates
from ..operators.signature import sketch_table
from ..operators.verify import verify_scorer
from .checkpoint import ParquetCheckpointStore, PersistStore, StageResult


class RunReport:
    """Stage metrics for one pipeline run.

    ``star_buckets`` / ``star_members`` (the over-cap skew lineage) are
    observed on round 1's annotated band table while the candidates stage
    runs, at no extra job. They read None when the candidates stage was
    resumed from a snapshot: nothing observed it."""

    def __init__(self):
        self.stages: list[StageResult] = []
        self.cc_iterations = 0
        self.star_buckets: int | None = None
        self.star_members: int | None = None

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

    held: list[DataFrame] = []  # round-1 edges, released on return
    observed: list[Observation] = []
    try:
        docs = stage("extract", lambda: extract(pages, cfg))
        exact = stage("exact", lambda: collapse_exact_duplicates(docs))
        signatures = stage("signatures", lambda: _sketch_stage(exact, cfg))
        bands = stage("bands", lambda: band_table(signatures, cfg))

        def _candidates():
            pairs, stars = candidate_pairs(bands, cfg)
            observed.append(stars)
            return pairs

        pairs = stage("candidates", _candidates)

        def _edges():
            edges, round1 = verified_rounds(pairs, bands, signatures, cfg)
            held.append(round1)
            return edges

        near_edges = stage("edges", _edges)
        all_edges = near_edges.select("url_a", "url_b").union(
            exact.where(F.col("kind") == "edge").select(
                F.col("url").alias("url_a"), "url_b"
            )
        )

        def _cluster():
            clusters, iters = connected_components_auto(all_edges)
            report.cc_iterations = iters
            return clusters

        clusters = stage("clusters", _cluster)
    finally:
        for df in held:
            df.unpersist()
    if observed:
        report.star_buckets, report.star_members = _stars(spark, observed[0])
    return clusters, report


def verified_rounds(
    pairs: DataFrame, bands: DataFrame, signatures: DataFrame, cfg: PipelineConfig
) -> tuple[DataFrame, DataFrame]:
    """Round-1 pairs (candidates stage) -> (edges, round-1 edges).

    One verify dispatch serves both rounds: the scorer is built on round
    1's candidates. Round 1's edges are persisted and materialized here,
    because the round-1 labelling and the returned edges both read them;
    the caller unpersists them once the edges are consumed. When every
    round-1 pair verified, each bucket's members are linked to its hub, so
    round 2 would be empty and the round-1 edges are returned as they are.
    Otherwise round 2 pairs only under-cap buckets whose members carry
    different round-1 labels (operators/candidates.py) and stays lazy, so
    it runs inside the consumer of the returned edges. Round-1 and round-2
    edges are disjoint: a round-2 pair joins two round-1 components."""
    from pyspark.storagelevel import StorageLevel

    score = verify_scorer(pairs, signatures, cfg)
    n_pairs, n_edges = Observation(), Observation()
    round1 = (
        score(pairs.observe(n_pairs, F.count("*").alias("n")))
        .observe(n_edges, F.count("*").alias("n"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        # a Dataset action, so the observations complete; the no-op sink
        # plans no aggregate, which adaptive execution would run as more jobs
        round1.write.format("noop").mode("overwrite").save()
        spark = pairs.sparkSession
        scored, kept = _observed(spark, n_pairs), _observed(spark, n_edges)
        if scored and scored == kept:
            return round1, round1
        labels, _ = connected_components_auto(round1)
        round2 = score(cross_label_pairs(bands, labels, cfg))
        return round1.union(round2), round1
    except BaseException:
        round1.unpersist()
        raise


def _observed(spark: SparkSession, obs: Observation) -> dict | None:
    """An observation's values, without waiting: None when no action ran
    it. An observation completes on the listener bus after its action, so
    drain the bus first. Adaptive execution replaces a plan whose output
    is empty by an empty relation and loses its metrics: that reads {}."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    done = obs._jo.future().value()  # Option[Try[Row]]
    if done.isEmpty():
        return None
    row = done.get().get()
    if row.length() == 0:
        return {}
    return {f: row.getAs(f) for f in row.schema().fieldNames()}


def _stars(spark: SparkSession, stars: Observation) -> tuple[int | None, int | None]:
    """(star_buckets, star_members) from the candidates observation, or
    (None, None) when no action ran it. An observation that lost its
    metrics to an empty pair table reads 0: an over-cap bucket always
    yields pairs, so there was none."""
    got = _observed(spark, stars)
    if got is None:
        return None, None
    return got.get("star_buckets", 0), got.get("star_members", 0)


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
    has already materialized). Stage rows are not counted; the skew
    lineage is observed as in a checkpointed run."""
    store = PersistStore()
    try:
        return run_pipeline(spark, pages, cfg, store=store)
    finally:
        store.release()


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
