"""Structured Streaming: incremental near-duplicate detection against a
committed corpus index.

The batch pipeline commits its signatures and bands stages (checkpoint
store / Iceberg); new pages then stream in and are checked against that
index WITHOUT re-scanning the corpus:

    stream(url, text)
      -> sketch_table                 (the batch sketch operator, bit-identical)
      -> band keys UDF + explode      (same OPH rehash, same config)
      -> stream-static equi-join on band_key against the committed bands
      -> attach static signature, exact Jaccard verify (>= tau)
      -> append stream of (new_url, match_url, jaccard)

Stream-static joins are stateless on the stream side (each micro-batch
joins against the static snapshot), so the join needs no watermark. The
dropDuplicates on (new_url, match_url) IS stateful across the stream —
deliberately: a pair already reported is never re-reported, and the state
is two url strings per emitted pair. For unbounded runs, bound it with
withWatermark + dropDuplicatesWithinWatermark upstream of this operator.
The config MUST equal the committed run's config — band keys are
config-derived (the caller passes the same PipelineConfig; at the storage
layer the checkpoint manifest's config_hash enforces it).

Scale shape: the static side is the big one — Spark plans the equi-join as
a shuffled hash join keyed by band_key; the stream side per micro-batch is
small. The verify join attaches one static signature per candidate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..operators.banding import make_band_keys_udf
from ..operators.signature import sketch_table
from ..operators.verify import _jaccard_udf


def streaming_near_dup_matches(
    stream: DataFrame,
    static_signatures: DataFrame,
    static_bands: DataFrame,
    cfg: PipelineConfig,
    url_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """stream(url, text) x committed (signatures, bands) -> append stream
    of (new_url, match_url, jaccard >= tau)."""
    band_udf = make_band_keys_udf(cfg)
    sigs = sketch_table(stream, cfg.sketch, url_col, text_col).select(
        F.col(url_col).alias("new_url"), F.col("sig").alias("new_sig")
    )
    banded = sigs.select(
        "new_url",
        "new_sig",
        F.explode(band_udf(F.col("new_sig"))).alias("band_key"),
    )
    index = static_bands.select(
        F.col("band_key"), F.col(url_col).alias("match_url")
    )
    cands = (
        banded.join(index, "band_key")
        .where(F.col("new_url") != F.col("match_url"))
        .select("new_url", "new_sig", "match_url")
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
