"""Batch incremental near-dup: admit a NEW batch of documents against a
committed corpus index without re-scanning (or re-sketching) the corpus.

The committed index is the (signatures, bands) pair the batch pipeline
already checkpoints (plans/pipeline.py stages / IcebergCheckpointStore);
admission is:

    new batch
      -> optional intra-batch dedup (full flow pipeline on the batch only)
      -> sketch_table + band_table on the survivors (the batch pipeline's
         operators, same config -> bit-identical keys to the committed run)
      -> (band_id, band_key) equi-join against the committed bands
      -> exact Jaccard verify vs committed signatures (>= tau)
      -> split: matches (near-dup of corpus) / fresh (admit + index delta)

Scale shape (100 TB corpus, small-to-medium batch): the corpus side is
touched only through the band equi-join (shuffled hash join keyed by
(band_id, band_key), the candidates stage's bucket; with the committed
bands bucketed on it the batch side alone shuffles) and the verify join
(one signature row per candidate). Batch cost scales with the batch, not
the corpus — the property that makes rolling corpus refreshes affordable.
The matcher, streaming_near_dup_matches, holds no batch-only operator, so
it also runs on a Structured Streaming source: each micro-batch joins the
static snapshot statelessly, and only the dropDuplicates on (new_url,
match_url) keeps state (two url strings per emitted pair; bound it with
withWatermark + dropDuplicatesWithinWatermark upstream for unbounded runs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..operators.banding import band_table
from ..operators.signature import sketch_table
from ..operators.verify import _jaccard_udf


def index_tables(
    docs: DataFrame,
    cfg: PipelineConfig,
    url_col: str = "url",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """(signatures, bands) for a document set — the committed-index shape,
    and the delta to append after admitting a fresh batch."""
    sigs = sketch_table(
        docs.select(F.col(url_col).alias("url"), F.col(text_col).alias("text")),
        cfg.sketch,
    )
    return sigs, band_table(sigs, cfg)


def streaming_near_dup_matches(
    stream: DataFrame,
    static_signatures: DataFrame,
    static_bands: DataFrame,
    cfg: PipelineConfig,
    url_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """docs(url, text), batch or streaming, x committed (signatures,
    bands) -> (new_url, match_url, jaccard >= tau)."""
    sigs = sketch_table(stream, cfg.sketch, url_col, text_col)
    # band_table keeps the caller's id column and drops sig, so the
    # signature rides through it inside a struct id: joining the bands
    # back to the signatures would be a stream-stream join on a stream.
    new = F.struct(F.col(url_col).alias("url"), "sig").alias("new")
    banded = band_table(sigs.select(new, "sig"), cfg, url_col="new")
    index = static_bands.select(
        "band_id", "band_key", F.col(url_col).alias("match_url")
    )
    cands = (
        banded.join(index, ["band_id", "band_key"])
        .select(
            F.col("new.url").alias("new_url"),
            F.col("new.sig").alias("new_sig"),
            "match_url",
        )
        .where(F.col("new_url") != F.col("match_url"))
        .dropDuplicates(["new_url", "match_url"])
    )
    static_sig = static_signatures.select(
        F.col(url_col).alias("match_url"), F.col("sig").alias("match_sig")
    )
    return (
        cands.join(static_sig, "match_url")
        .withColumn(
            "jaccard", F.round(_jaccard_udf("new_sig", "match_sig"), 9)
        )
        .where(F.col("jaccard") >= cfg.jaccard_threshold)
        .select("new_url", "match_url", "jaccard")
    )


def incremental_near_dup(
    new_docs: DataFrame,
    committed_signatures: DataFrame,
    committed_bands: DataFrame,
    cfg: PipelineConfig,
    intra_batch: bool = True,
    url_col: str = "url",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """Returns (matches, fresh):

    - matches(new_url, match_url, jaccard): batch docs that are near-dups
      (exact sketch Jaccard >= cfg.jaccard_threshold) of a committed doc.
    - fresh(url, text): batch docs to admit — after intra-batch near-dup
      collapse (keep one representative per within-batch cluster) when
      ``intra_batch`` is set, minus everything in ``matches``.

    The caller appends ``index_tables(fresh, cfg)`` to the committed index
    to complete the refresh. Config MUST equal the committed run's (band
    keys are config-derived; the checkpoint manifest's config_hash
    enforces this at the storage layer)."""
    batch = new_docs.select(
        F.col(url_col).alias("url"), F.col(text_col).alias("text")
    )
    if intra_batch:
        from ..plans.pipeline import run_pipeline_flow

        clusters, _ = run_pipeline_flow(new_docs.sparkSession, batch, cfg)
        losers = clusters.where(F.col("url") != F.col("cluster_id")).select("url")
        batch = batch.join(losers, "url", "left_anti")

    matches = streaming_near_dup_matches(
        batch, committed_signatures, committed_bands, cfg
    )
    fresh = batch.join(
        matches.select(F.col("new_url").alias("url")).distinct(), "url", "left_anti"
    )
    return matches, fresh
