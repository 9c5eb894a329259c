"""Deduplication operator suite over a generic documents table.

Five independent strategies, each a `queries()` entry with a DuckDB oracle
where SQL can express the semantics:

- exact: md5 fingerprint groups (JVM md5, SQL-replayable)
- shingle-set Jaccard (EXACT): our sketch engine run un-truncated
  (maxsize >> distinct shingles) so sketch Jaccard == true 21-char shingle
  Jaccard — SQL-replayable via substring explode, a full-value oracle of
  the sketch + estimator path
- MinHash-estimated Jaccard at k=256 (the production path; estimate, so
  rows-only oracle)
- word n-gram Jaccard (SQL-replayable)
- SimHash hamming blocking (rows-only)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import SketchConfig
from ..functions.estimators import jaccard_similarity
from ..functions.textstats import doc_fingerprint
from ..operators.signature import sketch_table


def exact_fingerprint_groups(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(fingerprint, group size, representative id) per distinct content."""
    return (
        docs.select(F.md5(F.encode(F.col(text_col), "utf-8")).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("rep_id"))
    )


def normalized_fingerprint_dedup(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Docs surviving normalized-fingerprint dedup (keep min id per group)."""
    fp = docs.select(F.col(id_col), doc_fingerprint(F.col(text_col)).alias("fp"))
    keep = fp.groupBy("fp").agg(F.min(id_col).alias(id_col))
    return keep.select(id_col, "fp")


def sketch_overlap_pairs(sigs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id_a, id_b, inter, size_a, size_b) for every pair id_a < id_b of
    `sigs(id_col, sig)` rows that share at least one hash: `inter` is
    |A∩B|, `size_a`/`size_b` the signature sizes.

    Plan: an equi-join on exploded (id, hash) rows, a pair count, then two
    size joins. Every set estimator is a function of (|A∩B|, |A|, |B|)
    alone, and any pair above a positive threshold shares a hash, so this
    gives the integers an all-pairs crossJoin + array_intersect would,
    without its n^2/2 intersections. Pairs sharing no hash are absent."""
    ex = sigs.select(F.col(id_col), F.explode("sig").alias("_h"))
    sizes = sigs.select(F.col(id_col), F.size("sig").alias("_sz"))
    a = ex.select(F.col(id_col).alias("id_a"), "_h")
    b = ex.select(F.col(id_col).alias("id_b"), "_h")
    inter = (
        a.join(b, "_h")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    sza = sizes.select(F.col(id_col).alias("id_a"), F.col("_sz").alias("size_a"))
    szb = sizes.select(F.col(id_col).alias("id_b"), F.col("_sz").alias("size_b"))
    return (
        inter.join(sza, "id_a")
        .join(szb, "id_b")
        .select("id_a", "id_b", "inter", "size_a", "size_b")
    )


def shingle_jaccard_pairs(
    docs: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    nsize: int = 21,
    exact: bool = True,
    maxsize: int = 256,
) -> DataFrame:
    """All doc pairs with (exact or MinHash-estimated) shingle Jaccard >=
    threshold. exact=True runs the sketch un-truncated so the estimate IS
    the true shingle-set Jaccard (SQL-oracle-able); exact=False is the
    k=maxsize production estimate.

    This is the tiny-scale/verification form; the scale path is the banded
    pipeline (plans/pipeline.py). A threshold > 0 goes through
    `sketch_overlap_pairs`: |A∪B| = |A| + |B| - |A∩B|, the same double
    division and round() as `jaccard_similarity`, so the output is
    value-identical to the crossJoin form (the oracle pins it). A
    threshold <= 0 (keep disjoint pairs too) falls back to the quadratic
    crossJoin, which is the only plan that can emit them.
    """
    cfg = SketchConfig(
        nsize=nsize,
        maxsize=(1 << 30) if exact else maxsize,
        hash_name="xxh64",
        seed=0,
    )
    sigs = sketch_table(docs, cfg, url_col=id_col, text_col=text_col)
    if threshold <= 0:
        a = sigs.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
        b = sigs.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
        return (
            a.crossJoin(b)
            .where(F.col("id_a") < F.col("id_b"))
            .select(
                "id_a",
                "id_b",
                F.round(jaccard_similarity(F.col("sig_a"), F.col("sig_b")), 6).alias(
                    "jaccard"
                ),
            )
            .where(F.col("jaccard") >= threshold)
        )
    union = F.col("size_a") + F.col("size_b") - F.col("inter")
    return (
        sketch_overlap_pairs(sigs, id_col)
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("inter").cast("double") / union.cast("double"), 6
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def word_ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Pairs by word n-gram set Jaccard — pure JVM (explode + joins),
    SQL-replayable. The shingle explode shuffles on the n-gram value, so
    common n-grams skew; production variant would cap n-gram document
    frequency (stop-gram removal) — applied here via a df cap of 1000."""
    from .corpus import word_gram_array

    toks = docs.select(
        F.col(id_col).alias("id"),
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("w"),
    )
    # zip_with gram form (corpus.word_gram_array): the old
    # transform(sequence, i -> concat_ws(slice(w, i+1, n))) lambda
    # re-evaluated the split tokenization once PER GRAM after projection
    # collapse — O(words^2) per doc; same gram strings either way
    grams = toks.select(
        "id", F.explode(word_gram_array(F.col("w"), n)).alias("g")
    )
    # round-8 plan change, value-identical output and memory-bounded under
    # skew (the same shape as candidates.candidate_pairs): distinct
    # (id, gram) rows, then the document frequency via a spill-safe Window
    # over g — never a per-gram id list before the df cap is known — then
    # ONE collect_list on the under-cap rows reusing the window's
    # partitioning (no exchange between them; every list <= 1000), and
    # in-group double explodes for the pair counts. Two gram-table-scale
    # exchanges total, where the round-start chain (distinct + df groupBy
    # + join + self-join) paid four-plus; a boilerplate gram present in
    # every document costs one spilled window partition, not an
    # n_docs-element aggregation buffer.
    from pyspark.sql.window import Window

    dp = grams.distinct()
    wdf = Window.partitionBy("g")
    capped = dp.withColumn("df", F.count("*").over(wdf)).where(
        F.col("df") <= 1000
    )
    # Per-doc capped-gram count rides WITH the id through the pairing as
    # a struct (a second window, id-keyed), so the jaccard needs NO join
    # at all. The previous form joined the pair-count table against a
    # per-doc sizes table twice — and the pair table's row count is
    # UNBOUNDED (every doc pair sharing >= 1 gram; O(n^2) on
    # duplicate-heavy corpora) while Catalyst's post-aggregate size
    # estimate reads tiny, so the static planner chose to BROADCAST the
    # pair side and a 10x dup-heavy probe corpus OOMed the build. With
    # the size carried inline there is no join to misplan: the only
    # pair-scale operation left is the count aggregate itself.
    wid = Window.partitionBy("id")
    sized = capped.withColumn("sz", F.count("*").over(wid))
    by_g = sized.groupBy("g").agg(
        F.collect_list(F.struct("id", "sz")).alias("ids")
    )
    inter = (
        by_g.where(F.size("ids") >= 2)
        .select(F.explode("ids").alias("a"), F.col("ids"))
        .select("a", F.explode("ids").alias("b"))
        .where(F.col("a.id") < F.col("b.id"))
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sz").alias("sza"),
            F.col("b.sz").alias("szb"),
        )
        .agg(F.count("*").alias("i"))
    )
    return (
        inter.select(
            "id_a",
            "id_b",
            F.round(
                F.col("i").cast("double")
                / (F.col("sza") + F.col("szb") - F.col("i")).cast("double"),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
