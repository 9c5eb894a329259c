"""Exact-duplicate collapse — runs BEFORE sketching/banding.

Web crawls are dominated by byte-identical duplicates; collapsing them
first (a) removes the worst LSH skew source (an exact-dup clique of g pages
would otherwise share ALL bands, guaranteeing over-cap buckets), and
(b) shrinks every downstream stage by the dup factor.

Content key = (byte length, xxhash64, murmur3_32) of the utf-8 text —
~96 bits plus length; at 10^12 docs the expected number of colliding pairs
is ~1e-5, and a collision only merges two clusters (never loses a dup
pair). All JVM-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def content_key(text_col: str) -> F.Column:
    """The engine-wide exact-content key: a 12-byte (len, xxhash64,
    murmur3_32) struct over the text — shared by the pipeline's exact
    collapse and the curation funnel so "same content" means one thing
    everywhere. All three parts are JVM built-ins (no UDF)."""
    return F.struct(
        F.length(text_col).alias("len"),
        F.xxhash64(F.encode(F.col(text_col), "utf-8")).alias("xx"),
        F.hash(F.col(text_col)).alias("mm"),
    )


def collapse_exact_duplicates(
    docs: DataFrame, url_col: str = "url", text_col: str = "text"
) -> DataFrame:
    """docs -> exact(kind, url, text, url_b): every doc tagged against its
    content group's hub, the group's minimum url.

    - kind='rep': one row per distinct content, (url=hub, text), url_b
      null;
    - kind='edge': one row per other member, (url=hub, url_b=member), text
      null — a star per content group, url < url_b.

    Hub via window min — ONE shuffle of the doc table instead of the
    groupBy + join-back (which shuffles the full text payload twice), and
    both kinds come out of that one pass."""
    from pyspark.sql.window import Window

    keyed = docs.withColumn("_ck", content_key(text_col))
    hub = F.min(url_col).over(Window.partitionBy("_ck"))
    with_hub = keyed.select(url_col, text_col, hub.alias("_hub"))
    is_rep = F.col(url_col) == F.col("_hub")
    return with_hub.select(
        F.when(is_rep, "rep").otherwise("edge").alias("kind"),
        F.col("_hub").alias("url"),
        F.when(is_rep, F.col(text_col)).alias("text"),
        F.when(~is_rep, F.col(url_col)).alias("url_b"),
    )
