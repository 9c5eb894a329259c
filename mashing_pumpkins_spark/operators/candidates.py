"""Candidate-pair generation from LSH bands, in two exact rounds.

The pipeline's product is clusters, the connected components of the
verified pairs, so a pair whose endpoints are already joined by verified
edges never needs scoring (HERO, SIGMOD'24: never compute an intersection
whose answer is already implied). A band bucket of g members would give
g(g-1)/2 pairs; the two rounds score far fewer and fix the same clusters.

- Round 1, `candidate_pairs`: every bucket of >= 2 members links each
  member to the bucket's minimum url, its hub (g-1 pairs). The pipeline
  verifies these pairs and labels the urls with the connected components
  of the verified edges.
- Round 2, `cross_label_pairs`: an under-cap bucket (size <=
  band_group_cap) whose non-hub members carry more than one round-1 label
  pairs those members across labels only. A skipped pair either was a
  round-1 pair (it has the hub) or has both endpoints in one verified
  component, so the clusters equal those of verifying every within-bucket
  pair. When every round-1 pair verified, every bucket is one component
  and the pipeline skips round 2 (plans/pipeline.verified_rounds).

Over-cap buckets get round 1's star only: AQE skew splitting fixes
shuffle skew but not the O(g^2) pair fan-out inside a bucket, so the cap
is semantic. For clique-like buckets (mass-duplicated pages) the hub keeps
the clique connected; boilerplate-only buckets' star pairs fail verify as
the full pairing would have. Recall caveat, over-cap buckets only: if ONE
over-cap bucket holds SEVERAL distinct near-dup cliques, pairs between
non-hub members of different cliques are not emitted from this bucket and
rely on the other n_bands-1 bands. Raise band_group_cap or n_bands if a
workload plants several big cliques behind one shared boilerplate band.
Never a silent drop: the over-cap bucket and member counts are observed
on round 1's annotated band table, at no extra job.

Each round's pair table is deduped across bands (a near-dup pair shares
many bands) before the signature lookup.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..config import PipelineConfig


def _annotate(bands: DataFrame) -> DataFrame:
    """bands + bucket_size + hub (the bucket's minimum url). A window, not
    a list: WindowExec buffers a partition with disk spill, so the
    annotation is memory-bounded under any skew."""
    bucket = Window.partitionBy("band_id", "band_key")
    return bands.select(
        "url",
        "band_id",
        "band_key",
        F.count("*").over(bucket).alias("bucket_size"),
        F.min("url").over(bucket).alias("hub"),
    )


def _count(cond: Column) -> Column:
    return F.coalesce(F.sum(cond.cast("long")), F.lit(0))


def candidate_pairs(
    bands: DataFrame, cfg: PipelineConfig
) -> tuple[DataFrame, Observation]:
    """Round 1: bands(url, band_id, band_key) -> (pairs(url_a, url_b),
    stars). Every member of a >= 2 bucket pairs with the hub, so
    url_a = hub < url_b = member; one shuffle of the band table.

    stars observes the annotated band table while the pairs are computed:
    ``star_members`` = rows in over-cap buckets, ``star_buckets`` = their
    hub rows. Its values exist only after an action has run the pairs."""
    over = F.col("bucket_size") > cfg.band_group_cap
    stars = Observation()
    annotated = _annotate(bands).observe(
        stars,
        _count(over).alias("star_members"),
        _count(over & (F.col("url") == F.col("hub"))).alias("star_buckets"),
    )
    pairs = (
        annotated.where(F.col("url") != F.col("hub"))
        .select(F.col("hub").alias("url_a"), F.col("url").alias("url_b"))
        .distinct()
    )
    return pairs, stars


def cross_label_pairs(
    bands: DataFrame, labels: DataFrame, cfg: PipelineConfig
) -> DataFrame:
    """Round 2: bands x labels(url, cluster_id) -> pairs(url_a, url_b).

    Under-cap buckets only, hub rows excluded (their pairs were round 1's),
    and only members whose labels differ are paired; a url without a label
    is its own label. The pairing is a collect_list + double explode that
    reuses the window's (band_id, band_key) partitioning, and every list is
    bounded by band_group_cap. Lazy: nothing runs until the pairs are
    consumed."""
    label = labels.select("url", F.col("cluster_id").alias("label"))
    members = (
        _annotate(bands)
        .where(
            (F.col("bucket_size") >= 3)
            & (F.col("bucket_size") <= cfg.band_group_cap)
            & (F.col("url") != F.col("hub"))
        )
        .join(label, "url", "left")
        .select(
            "band_id",
            "band_key",
            F.struct("url", F.coalesce("label", "url").alias("label")).alias("m"),
        )
    )
    return (
        members.groupBy("band_id", "band_key")
        .agg(
            F.collect_list("m").alias("_members"),
            F.min("m.label").alias("_lo"),
            F.max("m.label").alias("_hi"),
        )
        .where(F.col("_lo") != F.col("_hi"))
        .select(F.explode("_members").alias("a"), "_members")
        .select("a", F.explode("_members").alias("b"))
        .where((F.col("a.url") < F.col("b.url")) & (F.col("a.label") != F.col("b.label")))
        .select(F.col("a.url").alias("url_a"), F.col("b.url").alias("url_b"))
        .distinct()
    )
