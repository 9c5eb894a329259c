"""Driver contract for the spark-graft builder (PySpark target).

queries() entries map SURVEY.md §2 operators + the training-data-pipeline
suite onto the driver's parquet tables; oracle_sql() gives the DuckDB
replay for every SQL-expressible one. Bit-compat of the hash/sketch kernels
is proven against the reference's own compiled C in tests/ (stronger than
any SQL oracle); entries whose values depend on xxh64/mmh3 are rows-only
here by necessity.
"""

from __future__ import annotations

import tempfile
from collections.abc import Callable
from typing import Iterator, Tuple  # noqa: F401  (resolves pandas-UDF type hints)

import pandas as pd  # noqa: F401  (resolves pandas-UDF type hints)
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _tmpdir(prefix: str) -> str:
    """mkdtemp with atexit cleanup: roundtrip queries return LAZY frames
    that read from the dir at driver-collect time, so an inline
    try/finally would delete the fixture before the driver scans it;
    atexit reclaims it at process exit instead of leaking a corpus copy
    to /tmp per bench/oracle invocation."""
    import atexit
    import shutil

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# ---------------------------------------------------------------- sketch ops


def q_sketch_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O7/O9/nvisited: signature size at k=64 + shingles visited. The SQL
    oracle recomputes both from distinct 21-byte windows of the UTF-8
    encoding (hex-window shingling) — a full value oracle of the sketch
    cardinality semantics, byte-exact on non-ASCII text too."""
    from mashing_pumpkins_spark.config import SketchConfig
    from mashing_pumpkins_spark.operators.signature import sketch_table

    cfg = SketchConfig(nsize=21, maxsize=64, hash_name="xxh64", seed=0)
    return (
        sketch_table(_docs(spark, sf_dir), cfg, url_col="doc_id")
        .select(
            "doc_id",
            F.size("sig").alias("sig_size"),
            F.col("nvisited").alias("nvisited"),
        )
        .orderBy("doc_id")
    )


def q_sketch_stats_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k MaxSketch (reference MaxSketch,
    /root/reference/src/minhashsketch.py:256-384) through the same driver
    gate as sketch_stats: the top-64 retained set has the same cardinality
    as the bottom-64 set (least(64, distinct windows)), so the sig-size /
    nvisited oracle transfers verbatim — a full value oracle covering the
    minmax='max' engine path end-to-end."""
    from mashing_pumpkins_spark.config import SketchConfig
    from mashing_pumpkins_spark.operators.signature import sketch_table

    cfg = SketchConfig(nsize=21, maxsize=64, hash_name="xxh64", seed=0, minmax="max")
    return (
        sketch_table(_docs(spark, sf_dir), cfg, url_col="doc_id")
        .select(
            "doc_id",
            F.size("sig").alias("sig_size"),
            F.col("nvisited").alias("nvisited"),
        )
        .orderBy("doc_id")
    )


def q_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1/O2/O6/O7 raw: the bit-compat bottom-k signature itself (k=8 kept
    small for the hash check); values depend on xxh64 -> rows-only oracle
    (bit-compat is pinned against the reference C in tests/)."""
    from mashing_pumpkins_spark.config import SketchConfig
    from mashing_pumpkins_spark.operators.signature import sketch_table

    cfg = SketchConfig(nsize=21, maxsize=8, hash_name="xxh64", seed=0)
    return (
        sketch_table(_docs(spark, sf_dir), cfg, url_col="doc_id")
        .select("doc_id", F.posexplode("sig").alias("pos", "hash_i64"))
        .orderBy("doc_id", "pos")
    )


def q_sketch_sharded_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 long-doc sharding (reference chunkpos_iter, sequence.py:6-49):
    docs sketched as overlapping 4KB byte chunks and merged (O11/O12) must
    give the same sketch as whole-doc sketching — so this shares
    sketch_stats' full SQL value oracle."""
    from mashing_pumpkins_spark.config import SketchConfig
    from mashing_pumpkins_spark.operators.sharding import sketch_table_sharded

    cfg = SketchConfig(nsize=21, maxsize=64, hash_name="xxh64", seed=0)
    return (
        sketch_table_sharded(
            _docs(spark, sf_dir).select("doc_id", "text"),
            cfg,
            chunk_bytes=4096,
            url_col="doc_id",
        )
        .select(
            "doc_id",
            F.size("sig").alias("sig_size"),
            F.col("nvisited").alias("nvisited"),
        )
        .orderBy("doc_id")
    )


def q_multi_sketch_one_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O29 SketchList analog (reference parallel.py:56-122): MinHash +
    SimHash from ONE text scan (single ArrowEvalPython stage feeding both —
    plan-asserted in tests/test_multisketch.py). simhash values are
    hash-defined -> rows-only; per-column equality with the separate passes
    is test-asserted."""
    from mashing_pumpkins_spark.config import SketchConfig
    from mashing_pumpkins_spark.operators.multisketch import multi_sketch_table

    cfg = SketchConfig(nsize=21, maxsize=64, hash_name="xxh64", seed=0)
    return (
        multi_sketch_table(
            _docs(spark, sf_dir).select("doc_id", "text"), cfg, url_col="doc_id"
        )
        .select(
            "doc_id",
            F.size("sig").alias("sig_size"),
            "nvisited",
            "simhash",
        )
        .orderBy("doc_id")
    )


def q_resketch_union_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O14 add_hashvalues (reference minhashsketch.py:439-475): re-sketch by
    ingesting a stored signature's raw hash values into another signature.
    Un-truncated, so the merged size equals the pair's distinct-shingle
    union — a full SQL value oracle for the hash-ingestion path."""
    from mashing_pumpkins_spark.config import SketchConfig
    from mashing_pumpkins_spark.functions.estimators import add_hashvalues
    from mashing_pumpkins_spark.operators.signature import sketch_table

    cfg = SketchConfig(nsize=21, maxsize=1 << 30, hash_name="xxh64", seed=0)
    sigs = sketch_table(_docs(spark, sf_dir), cfg, url_col="doc_id").select(
        "doc_id", "sig"
    )
    a = sigs.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a"))
    b = sigs.select(
        (F.col("doc_id") - 1).alias("id_a"),
        F.col("doc_id").alias("id_b"),
        F.col("sig").alias("sig_b"),
    )
    return (
        a.join(b, "id_a")
        .select(
            "id_a",
            "id_b",
            F.size(
                add_hashvalues(F.col("sig_a"), F.col("sig_b"), 1 << 30)
            ).alias("union_size"),
        )
        .orderBy("id_a")
    )


def q_substring_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suffix-array-style exact substring dedup (north rule's third family):
    doc pairs sharing an exact byte substring >= 64 bytes, via winnowing
    minimizer anchors + byte-extension verify. Oracle: explode every
    64-byte window (hex form) and join — the sets are provably equal."""
    from mashing_pumpkins_spark.operators.substring import (
        substring_duplicate_pairs,
    )

    return (
        substring_duplicate_pairs(
            _docs(spark, sf_dir), min_len=64, k=32, anchor_df_cap=None
        )
        .select("id_a", "id_b")
        .orderBy("id_a", "id_b")
    )


def q_substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data substring dedup's actual deliverable: the merged byte
    ranges of each document covered by an exact >= 64-byte substring shared
    with any other document (Lee et al. 2022 cut exactly these). Oracle:
    shared hex windows -> gaps-and-islands interval merge in SQL."""
    from mashing_pumpkins_spark.operators.substring import duplicate_spans

    return duplicate_spans(
        _docs(spark, sf_dir), min_len=64, k=32, anchor_df_cap=None
    ).orderBy("doc_id", "span_start")


def q_substring_clean_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The substring-dedup CLEANING pass: every duplicated >= 64-byte range
    cut out of each doc. Oracle checks the per-doc removed-byte accounting
    (span positions themselves are fully oracle'd by substring_dup_spans)."""
    from mashing_pumpkins_spark.operators.substring import remove_duplicate_spans

    return (
        remove_duplicate_spans(
            _docs(spark, sf_dir), min_len=64, k=32, anchor_df_cap=None
        )
        .select("doc_id", "removed_bytes")
        .orderBy("doc_id")
    )


def q_shingle_jaccard_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O21 (jaccard) through the whole sketch path, un-truncated so sketch
    Jaccard == true 21-char shingle-set Jaccard — full SQL value oracle."""
    from mashing_pumpkins_spark.operators.dedup import shingle_jaccard_pairs

    return shingle_jaccard_pairs(
        _docs(spark, sf_dir), threshold=0.8, exact=True
    ).orderBy("id_a", "id_b")


def q_minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production k=256 MinHash estimator, made CHECKABLE (round-3): for
    every exact >= 0.8 pair, emit the exact shingle Jaccard (full
    _SHINGLES_CTE value oracle) plus the estimator-contract boolean
    |est - exact| <= 6*sqrt(exact*(1-exact)/256) + 1/256 (binomial
    concentration of the k-min estimator, reference contract
    /root/reference/src/minhashsketch.py:709-718). The oracle asserts the
    boolean is TRUE for every pair — a broken estimator flips it and fails
    the hash, unlike the previous rows-only form."""
    from mashing_pumpkins_spark.config import SketchConfig
    from mashing_pumpkins_spark.functions.estimators import jaccard_similarity
    from mashing_pumpkins_spark.operators.dedup import shingle_jaccard_pairs
    from mashing_pumpkins_spark.operators.signature import sketch_table

    docs = _docs(spark, sf_dir)
    exact_pairs = shingle_jaccard_pairs(docs, threshold=0.8, exact=True)
    cfg = SketchConfig(nsize=21, maxsize=256, hash_name="xxh64", seed=0)
    sigs = sketch_table(docs, cfg, url_col="doc_id").select("doc_id", "sig")
    a = sigs.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a"))
    b = sigs.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b"))
    est = jaccard_similarity(F.col("sig_a"), F.col("sig_b"))
    exact = F.col("jaccard")
    tol = 6.0 * F.sqrt(exact * (F.lit(1.0) - exact) / F.lit(256.0)) + F.lit(1.0 / 256)
    return (
        exact_pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            exact.alias("exact_jaccard"),
            (F.abs(est - exact) <= tol).alias("est_ok"),
        )
        .orderBy("id_a", "id_b")
    )


def q_similarity_estimators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O21/O22/O23: jaccard + containment + dice on near-dup pairs through
    the un-truncated sketch path — full SQL value oracle."""
    from mashing_pumpkins_spark.config import SketchConfig
    from mashing_pumpkins_spark.operators.dedup import sketch_overlap_pairs
    from mashing_pumpkins_spark.operators.signature import sketch_table

    cfg = SketchConfig(nsize=21, maxsize=1 << 30, hash_name="xxh64", seed=0)
    sigs = sketch_table(_docs(spark, sf_dir), cfg, url_col="doc_id")
    # every estimator here is a function of (|A∩B|, |A|, |B|) alone, so the
    # pairs come from the exploded-hash equi-join shingle_jaccard_pairs
    # uses. Same integers, same double division and round() as
    # jaccard_similarity / jaccard_containment / dice_similarity
    # (functions/estimators.py); the full SQL value oracle pins the equality.
    i_d = F.col("inter").cast("double")
    union_d = (F.col("size_a") + F.col("size_b") - F.col("inter")).cast("double")
    return (
        sketch_overlap_pairs(sigs)
        .withColumn("jaccard", F.round(i_d / union_d, 6))
        .where(F.col("jaccard") >= 0.8)
        .select(
            "id_a",
            "id_b",
            "jaccard",
            F.round(i_d / F.col("size_a").cast("double"), 6).alias("containment"),
            F.round(
                (F.col("inter") * 2).cast("double")
                / (F.col("size_a") + F.col("size_b")).cast("double"),
                6,
            ).alias("dice"),
        )
        .orderBy("id_a", "id_b")
    )


def q_shingle_multiplicity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O18 counted sketch: per-doc shingle multiplicity stats from the
    counted signature (un-truncated) — SQL value oracle via window counts."""
    from mashing_pumpkins_spark.config import SketchConfig
    from mashing_pumpkins_spark.operators.signature import make_counted_signature_udf

    cfg = SketchConfig(nsize=21, maxsize=1 << 30, hash_name="xxh64", seed=0)
    udf = make_counted_signature_udf(cfg)
    return (
        _docs(spark, sf_dir)
        .select("doc_id", udf(F.col("text")).alias("cs"))
        .select(
            "doc_id",
            F.size("cs.hashes").alias("distinct_shingles"),
            F.coalesce(F.array_max("cs.counts"), F.lit(0)).alias("max_multiplicity"),
            F.col("cs.nvisited").alias("nvisited"),
        )
        .orderBy("doc_id")
    )


def q_bray_curtis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O24 Bray-Curtis dissimilarity over counted sketches for near-dup
    pairs (documented formula, NOT the reference's key-summing bug —
    SURVEY.md §7.3) — SQL value oracle."""
    from typing import Iterator, Tuple

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType

    from mashing_pumpkins_spark.config import SketchConfig
    from mashing_pumpkins_spark.functions.sketch_np import bray_curtis_dissimilarity
    from mashing_pumpkins_spark.operators.dedup import shingle_jaccard_pairs
    from mashing_pumpkins_spark.operators.signature import make_counted_signature_udf

    cfg = SketchConfig(nsize=21, maxsize=1 << 30, hash_name="xxh64", seed=0)
    docs = _docs(spark, sf_dir)
    pairs = shingle_jaccard_pairs(docs, threshold=0.8, exact=True).select(
        "id_a", "id_b"
    )
    udf = make_counted_signature_udf(cfg)
    counted = docs.select("doc_id", udf(F.col("text")).alias("cs")).select(
        "doc_id",
        F.col("cs.hashes").alias("hashes"),
        F.col("cs.counts").alias("counts"),
    )

    @F.pandas_udf(DoubleType())
    def bc_udf(
        cols: Iterator[Tuple[pd.Series, pd.Series, pd.Series, pd.Series]],
    ) -> Iterator[pd.Series]:
        for ha, ca, hb, cb in cols:
            out = [
                bray_curtis_dissimilarity(
                    np.asarray(a, np.int64).view(np.uint64),
                    np.asarray(x, np.int64),
                    np.asarray(b, np.int64).view(np.uint64),
                    np.asarray(y, np.int64),
                )
                for a, x, b, y in zip(ha, ca, hb, cb)
            ]
            yield pd.Series(out)

    ca = counted.select(
        F.col("doc_id").alias("id_a"),
        F.col("hashes").alias("ha"),
        F.col("counts").alias("ca"),
    )
    cb = counted.select(
        F.col("doc_id").alias("id_b"),
        F.col("hashes").alias("hb"),
        F.col("counts").alias("cb"),
    )
    return (
        pairs.join(ca, "id_a")
        .join(cb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(bc_udf("ha", "ca", "hb", "cb"), 6).alias("bray_curtis"),
        )
        .orderBy("id_a", "id_b")
    )


# ------------------------------------------------------------ dedup family


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mashing_pumpkins_spark.operators.dedup import exact_fingerprint_groups

    return exact_fingerprint_groups(_docs(spark, sf_dir)).orderBy("fp")


def q_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mashing_pumpkins_spark.operators.dedup import normalized_fingerprint_dedup

    return normalized_fingerprint_dedup(_docs(spark, sf_dir)).orderBy("doc_id")


def q_word_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mashing_pumpkins_spark.operators.dedup import word_ngram_jaccard_pairs

    return word_ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.5).orderBy(
        "id_a", "id_b"
    )


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming <= 8 over 64-bit token simhash);
    depends on xxh64 -> rows-only."""
    from mashing_pumpkins_spark.functions.simhash import simhash_near_pairs

    return simhash_near_pairs(_docs(spark, sf_dir), max_hamming=8).orderBy(
        "id_a", "id_b"
    )


def q_pipeline_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full near-dup pipeline (extract -> exact -> sketch -> bands ->
    candidates -> verify -> CC) over documents, exact sketches, tau=0.8.
    SQL oracle: exact shingle-Jaccard pairs + recursive-CTE transitive
    closure — an end-to-end value oracle of the flagship pipeline."""
    from mashing_pumpkins_spark.config import PipelineConfig, SketchConfig
    from mashing_pumpkins_spark.plans.pipeline import run_pipeline

    cfg = PipelineConfig(
        sketch=SketchConfig(nsize=21, maxsize=1 << 30, hash_name="xxh64", seed=0),
        n_bands=32,
        rows_per_band=8,
        jaccard_threshold=0.8,
    )
    pages = _docs(spark, sf_dir).select(
        F.lpad(F.col("doc_id").cast("string"), 8, "0").alias("url"),
        F.col("text"),
    )
    clusters, _ = run_pipeline(
        spark, pages, cfg, _tmpdir("mp_spark_ckpt_")
    )
    return clusters.orderBy("url")


def q_cluster_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-cohesion audit of the flagship pipeline's output: per
    cluster, member count + min/mean member-vs-hub Jaccard (un-truncated
    sketches, so the values are EXACT shingle Jaccard and transitive
    chaining below the verify threshold is visible). Oracle: the
    pipeline_clusters recursive-CTE closure extended with per-member hub
    Jaccard from the all-pairs shingle CTE."""
    from mashing_pumpkins_spark.config import PipelineConfig, SketchConfig
    from mashing_pumpkins_spark.operators.cluster_report import (
        cluster_quality_report,
    )
    from mashing_pumpkins_spark.operators.signature import sketch_table
    from mashing_pumpkins_spark.plans.pipeline import run_pipeline

    cfg = PipelineConfig(
        sketch=SketchConfig(nsize=21, maxsize=1 << 30, hash_name="xxh64", seed=0),
        n_bands=32,
        rows_per_band=8,
        jaccard_threshold=0.8,
    )
    pages = _docs(spark, sf_dir).select(
        F.lpad(F.col("doc_id").cast("string"), 8, "0").alias("url"),
        F.col("text"),
    )
    clusters, _ = run_pipeline(
        spark, pages, cfg, _tmpdir("mp_spark_cq_")
    )
    sigs = sketch_table(pages, cfg.sketch).select("url", "sig")
    return cluster_quality_report(clusters, sigs)


def q_pipeline_clusters_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME near-dup pipeline as pipeline_clusters but through the
    checkpoint-free flow (the same stage list over lazily persisted
    stages instead of parquet commits) — same operators, same config, so
    it shares the recursive-CTE oracle verbatim. Gates that both stores
    return identical clusters through the driver."""
    from mashing_pumpkins_spark.config import PipelineConfig, SketchConfig
    from mashing_pumpkins_spark.plans.pipeline import run_pipeline_flow

    cfg = PipelineConfig(
        sketch=SketchConfig(nsize=21, maxsize=1 << 30, hash_name="xxh64", seed=0),
        n_bands=32,
        rows_per_band=8,
        jaccard_threshold=0.8,
    )
    pages = _docs(spark, sf_dir).select(
        F.lpad(F.col("doc_id").cast("string"), 8, "0").alias("url"),
        F.col("text"),
    )
    clusters, _ = run_pipeline_flow(spark, pages, cfg)
    return clusters.orderBy("url")


def q_stop_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stop-gram mining: the 20 highest-document-frequency word 3-grams
    (deterministic ties by gram) — the boilerplate list that feeds the
    n-gram dedup df-cap. Global top-k via orderBy+limit
    (TakeOrderedAndProject: only k rows leave each partition)."""
    from mashing_pumpkins_spark.operators.corpus import word_gram_array, words_array

    docs = _docs(spark, sf_dir)
    grams = docs.select(
        F.col("doc_id"),
        F.explode(word_gram_array(words_array(F.col("text")), 3)).alias("g"),
    ).distinct()
    return (
        grams.groupBy("g")
        .agg(F.count("*").alias("df"))
        .orderBy(F.desc("df"), F.asc("g"))
        .limit(20)
    )


def q_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary summary: total/distinct word counts and hapax
    legomena (words occurring exactly once corpus-wide) — the Zipf-tail
    diagnostic. One explode + one word-keyed groupBy."""
    from mashing_pumpkins_spark.operators.corpus import words_array

    docs = _docs(spark, sf_dir)
    wc = (
        docs.select(F.explode(words_array(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    return wc.agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("total_words"),
        F.count("*").alias("vocab_size"),
        F.coalesce(F.sum((F.col("c") == 1).cast("long")), F.lit(0))
        .cast("long")
        .alias("hapax_words"),
    )


def q_source_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O11/O12/O28 merge path: per-source rolled-up sketch. Un-truncated, so
    merged sketch size == the source's distinct-shingle count and nvisited
    sums — full SQL value oracle of the grouped merge."""
    from mashing_pumpkins_spark.config import SketchConfig
    from mashing_pumpkins_spark.operators.rollup import group_sketch_rollup

    cfg = SketchConfig(nsize=21, maxsize=1 << 30, hash_name="xxh64", seed=0)
    rolled = group_sketch_rollup(_docs(spark, sf_dir), cfg, "source")
    return rolled.select(
        F.col("group").alias("source"),
        F.size("sig").alias("distinct_shingles"),
        F.col("nvisited").alias("nvisited"),
    ).orderBy("source")


def q_kmv_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count estimation (SURVEY §2.2 aggregation row): the
    bottom-k sketch IS a distinct-count estimator, n_hat = (k-1)*2^64/h_(k).
    Per source: the exact distinct-shingle count (full SQL oracle via the
    un-truncated rollup — identical to source_sketch_rollup's semantics)
    plus the k=256 estimator-contract boolean |n_hat/n - 1| <= 6/sqrt(k-2)
    (KMV relative-error concentration, Bar-Yossef et al. 2002). The oracle
    asserts the boolean TRUE — a broken estimator fails the value hash."""
    from mashing_pumpkins_spark.config import SketchConfig
    from mashing_pumpkins_spark.operators.rollup import group_sketch_rollup

    docs = _docs(spark, sf_dir)
    k = 256
    cfg_k = SketchConfig(nsize=21, maxsize=k, hash_name="xxh64", seed=0)
    cfg_exact = SketchConfig(nsize=21, maxsize=1 << 30, hash_name="xxh64", seed=0)
    est_sketch = group_sketch_rollup(docs, cfg_k, "source").select(
        "group", F.col("sig").alias("sig_k")
    )
    exact_sketch = group_sketch_rollup(docs, cfg_exact, "source").select(
        "group", F.size("sig").alias("distinct_shingles")
    )
    # h_(k) as an unsigned double (sig is ascending in unsigned order)
    h_k = F.element_at("sig_k", -1).cast("double")
    h_k_unsigned = F.when(
        F.element_at("sig_k", -1) < 0, h_k + F.lit(float(2**64))
    ).otherwise(h_k)
    n_hat = F.lit(float(k - 1)) * F.lit(float(2**64)) / h_k_unsigned
    joined = exact_sketch.join(est_sketch, "group")
    est_ok = F.when(
        F.col("distinct_shingles") <= k,
        F.size("sig_k") == F.col("distinct_shingles"),  # sketch not full: exact
    ).otherwise(
        F.abs(n_hat / F.col("distinct_shingles") - 1.0)
        <= F.lit(6.0 / (k - 2) ** 0.5)
    )
    return joined.select(
        F.col("group").alias("source"),
        "distinct_shingles",
        est_ok.alias("est_ok"),
    ).orderBy("source")


# ---------------------------------------------------------- text analysis


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mashing_pumpkins_spark.functions.textstats import language_id

    return (
        _docs(spark, sf_dir)
        .select("doc_id", language_id(F.col("text")).alias("lang_pred"))
        .orderBy("doc_id")
    )


def q_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mashing_pumpkins_spark.functions.textstats import (
        bpe_ish_token_count,
        punctuation_ratio,
        quality_score,
        stopword_ratio,
        whitespace_token_count,
    )

    t = F.col("text")
    return (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            whitespace_token_count(t).alias("ws_tokens"),
            bpe_ish_token_count(t).alias("bpe_tokens"),
            F.round(punctuation_ratio(t), 6).alias("punct_ratio"),
            F.round(stopword_ratio(t), 6).alias("stopword_ratio"),
            F.round(quality_score(t), 6).alias("quality"),
        )
        .orderBy("doc_id")
    )


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mashing_pumpkins_spark.functions.textstats import doc_fingerprint

    return (
        _docs(spark, sf_dir)
        .select("doc_id", doc_fingerprint(F.col("text")).alias("fp"))
        .orderBy("doc_id")
    )


def q_token_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mashing_pumpkins_spark.functions.textstats import whitespace_token_count

    return (
        _docs(spark, sf_dir)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg(whitespace_token_count(F.col("text"))), 6).alias(
                "avg_tokens"
            ),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("lang")
    )


def q_topk_docs_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """window/top-k coverage: 3 longest docs per language."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("lang").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return (
        _docs(spark, sf_dir)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("lang", "rank", "doc_id", "n_chars")
        .orderBy("lang", "rank")
    )


# --------------------------------------------------------------- embeddings


def q_embedding_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mashing_pumpkins_spark.operators.ann import embedding_near_dup_pairs

    return embedding_near_dup_pairs(_emb(spark, sf_dir), threshold=0.4).orderBy(
        "id_a", "id_b"
    )


def q_embedding_near_pairs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-pair LSH (the SemDeDup scale path, round-3): hyperplane
    buckets -> within-bucket candidates -> exact cosine >= 0.4. Run here as
    the dense near-exhaustive index (2 bits x 64 tables: per-pair miss
    probability < 1e-10 at cos 0.4), whose output provably equals the exact
    threshold set — so the exact-pair SQL is a full value oracle of the
    bucket/join/verify machinery. Production density (8 bits x 16 tables
    at cos >= 0.9) is covered by the planted-recall test."""
    from mashing_pumpkins_spark.operators.ann import embedding_near_dup_pairs_lsh

    return embedding_near_dup_pairs_lsh(
        _emb(spark, sf_dir), threshold=0.4, n_tables=64, bits_per_table=2
    ).orderBy("id_a", "id_b")


def q_embedding_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style embedding dedup clusters: exact cosine >= 0.4 pairs ->
    connected components. Oracle: the same pairs in SQL + recursive-CTE
    transitive closure (numeric-safe via zero-padded ids)."""
    from mashing_pumpkins_spark.operators.ann import embedding_near_dup_pairs
    from mashing_pumpkins_spark.operators.connected_components import (
        connected_components_auto,
    )

    pairs = embedding_near_dup_pairs(_emb(spark, sf_dir), threshold=0.4)
    edges = pairs.select(
        F.lpad(F.col("id_a").cast("string"), 8, "0").alias("url_a"),
        F.lpad(F.col("id_b").cast("string"), 8, "0").alias("url_b"),
    )
    clusters, _ = connected_components_auto(edges)
    return clusters.select(
        F.col("url").cast("long").alias("vec_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    ).orderBy("vec_id")


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mashing_pumpkins_spark.operators.ann import cosine_topk

    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 10)
    return cosine_topk(emb, queries, k=5).orderBy("query_id", "rank")


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH approximate top-k with multi-probe (scale path) —
    rows-only; recall vs exact asserted in tests (planted twins + probes)."""
    from mashing_pumpkins_spark.operators.ann import lsh_cosine_topk

    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 10)
    return lsh_cosine_topk(emb, queries, k=5, n_probe=4).orderBy(
        "query_id", "rank"
    )


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (spherical k-means coarse quantizer) top-k, made CHECKABLE
    (round-3): probed exhaustively (n_probe = n_cells), the cell
    assignment + cell equi-join + einsum re-rank machinery must reproduce
    the exact top-k EXACTLY — a full value oracle (the ann_topk SQL
    verbatim). Partial-probe recall (the approximate operating point) is
    asserted by the planted-twin tests in tests/test_operators_extra.py."""
    from mashing_pumpkins_spark.operators.ann import ivf_cosine_topk

    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 10)
    return ivf_cosine_topk(emb, queries, k=5, n_cells=16, n_probe=16).orderBy(
        "query_id", "rank"
    )


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing (decode stubbed): byte-histogram features over
    the utf-8 payload of text, via mapInPandas. CHECKABLE (round-3): f0 is
    the fraction of payload bytes with high nibble 0 (0x00-0x0F); those
    bytes correspond 1:1 to code points U+0000-U+000F in UTF-8 (multibyte
    sequences only use bytes >= 0x80), so DuckDB reproduces it by counting
    control chars against octet_length — a full value oracle of the binary
    feature plumbing."""
    from mashing_pumpkins_spark.operators.multimodal import extract_binary_features

    with_payload = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("url"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
    )
    return (
        extract_binary_features(with_payload, url_col="url", payload_col="payload")
        .select("url", "payload_bytes", F.round(F.element_at("features", 1), 6).alias("f0"), "modality")
        .orderBy("url")
    )


def q_passage_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level exact dedup (CCNet/Dolma paragraph-dedup analog for
    newline-free text): per-doc duplicated-passage fraction over
    non-overlapping 16-word windows. Pure JVM; shuffle key is
    md5(passage), never passage text."""
    from mashing_pumpkins_spark.operators.corpus import passage_dedup_stats

    return passage_dedup_stats(_docs(spark, sf_dir), passage_words=16)


def q_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs sharing any word 4-gram with the
    held-out set (doc_id % 10 == 0, the deterministic benchmark split).
    Benchmark grams broadcast — the training-side scan never shuffles."""
    from mashing_pumpkins_spark.operators.corpus import decontaminate

    docs = _docs(spark, sf_dir)
    benchmark = docs.where(F.col("doc_id") % 10 == 0)
    train = docs.where(F.col("doc_id") % 10 != 0)
    return decontaminate(train, benchmark, n=4)


def q_decontamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 10^9-gram decontamination scale path: broadcast Bloom bitarray
    probed in one shuffle-free mapInPandas pass, against the same
    train/benchmark split as `decontamination`. Output carries the EXACT
    contamination flag (full SQL oracle value) plus the per-row
    no-false-negative boolean (bloom flags every truly-contaminated doc;
    its sized false-positive rate can only over-drop) — the oracle
    asserts the boolean TRUE, so a bloom that ever misses real
    contamination fails the value hash."""
    from mashing_pumpkins_spark.operators.corpus import (
        decontaminate,
        decontaminate_bloom,
    )

    docs = _docs(spark, sf_dir)
    benchmark = docs.where(F.col("doc_id") % 10 == 0)
    train = docs.where(F.col("doc_id") % 10 != 0)
    exact = decontaminate(train, benchmark, n=4).select(
        "doc_id", F.col("contaminated").alias("contaminated_exact")
    )
    bloom = decontaminate_bloom(train, benchmark, n=4, m_bits=1 << 22).select(
        "doc_id", F.col("contaminated").alias("_bloom")
    )
    return (
        exact.join(bloom, "doc_id")
        .select(
            "doc_id",
            "contaminated_exact",
            (F.col("_bloom") >= F.col("contaminated_exact")).alias(
                "bloom_no_false_negative"
            ),
        )
        .orderBy("doc_id")
    )


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/quality signals per doc: distinct-word
    ratio, top-word mass, top-2-gram mass."""
    from mashing_pumpkins_spark.operators.corpus import repetition_stats

    return repetition_stats(_docs(spark, sf_dir))


def q_hash_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5-prefix sampling (~10%) accounted per source —
    the reproducible no-RNG subsampling primitive for 100 TB corpora."""
    from mashing_pumpkins_spark.operators.corpus import hash_sample_stats

    return hash_sample_stats(_docs(spark, sf_dir), threshold_hex="1999")


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixture sampling: each source deterministically downsampled
    to a 1200-whitespace-token budget (at sf0.01 some sources exceed it and downsample, others pass whole — both branches hit the gate) (rate = min(1, budget/total),
    per-doc md5-fraction draw) — the training-mixture step that follows
    curation. Full oracle: the rate arithmetic and the hash draw both
    replay exactly in SQL."""
    from mashing_pumpkins_spark.operators.corpus import mixture_sample

    return mixture_sample(_docs(spark, sf_dir), token_budget_per_source=1_200)


def q_dedup_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup deliverable: per page, its near-dup cluster (null if
    none), the elected representative (longest text, url tiebreak) and
    the KEPT flag — pages minus non-representative dup members is the
    output corpus. Oracle: the pipeline_clusters recursive closure plus
    a window election on document length."""
    from mashing_pumpkins_spark.config import PipelineConfig, SketchConfig
    from mashing_pumpkins_spark.operators.cluster_report import finalize_dedup
    from mashing_pumpkins_spark.plans.pipeline import run_pipeline

    cfg = PipelineConfig(
        sketch=SketchConfig(nsize=21, maxsize=1 << 30, hash_name="xxh64", seed=0),
        n_bands=32,
        rows_per_band=8,
        jaccard_threshold=0.8,
    )
    pages = _docs(spark, sf_dir).select(
        F.lpad(F.col("doc_id").cast("string"), 8, "0").alias("url"),
        F.col("text"),
    )
    clusters, _ = run_pipeline(
        spark, pages, cfg, _tmpdir("mp_spark_df_")
    )
    return finalize_dedup(clusters, pages)


def _pagerank_graph(spark: SparkSession, sf_dir: str):
    """Deterministic synthetic link graph shared by the pagerank queries
    (and their oracles' arithmetic): doc i links to (i*(k+2)+k) mod N for
    k in 1..3. ONE definition — the oracles derive from this arithmetic,
    so query and oracle must never drift apart."""
    docs = _docs(spark, sf_dir)
    n = docs.count()
    nodes = docs.select(F.col("doc_id").alias("id"))
    edges = (
        docs.select(
            F.col("doc_id").alias("src"),
            F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("k"),
        )
        .select(
            "src",
            ((F.col("src") * (F.col("k") + 2) + F.col("k")) % F.lit(n)).alias("dst"),
        )
    )
    return docs, nodes, edges


def _robots_hosts(docs: DataFrame) -> DataFrame:
    """Deterministic per-source robots.txt bodies shared by the robots
    queries (wildcard section + two-agent shared section with
    crawl-delay); the oracles enumerate expected rows from THIS layout."""
    return docs.select("source").distinct().select(
        F.concat(F.col("source"), F.lit(".example.com")).alias("host"),
        F.concat(
            F.lit("User-agent: *  # default\nDisallow: /private-"),
            F.col("source"),
            F.lit(
                "\nAllow: /public\n\nUser-agent: trainbot\n"
                "User-agent: fetchbot\nCrawl-delay: 3\nDisallow: /no-"
            ),
            F.col("source"),
            F.lit("\n"),
        ).alias("body"),
    )


def q_pagerank_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer PageRank (5 damped power iterations, bigint
    micro-mass units — floor divisions instead of float drift, so the
    result is bit-identical across engines/partitionings) over a
    deterministic synthetic link graph: doc i links to (i*(k+2)+k) mod N
    for k in 1..3. Production input is extract_links over the WARC
    ingest's html column. Oracle: the identical integer recurrence
    unrolled as chained CTEs."""
    from mashing_pumpkins_spark.operators.graph import pagerank

    _, nodes, edges = _pagerank_graph(spark, sf_dir)
    pr = pagerank(nodes, edges, n_iter=5)
    return pr.select(F.col("id").alias("doc_id"), F.col("rank"))


def _link_pages(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, int]:
    """Deterministic raw-HTML page table for the link-graph queries: doc i
    gets url http://doc{i}/ and two absolute outlinks (3i+1 mod N with the
    doc's source-tag as anchor text, and the SAME target again as an
    attribute-bearing empty anchor), one relative link, and — every 7th doc
    — a self link. The oracles derive the expected edges from this
    construction ARITHMETIC, independently of the regex extraction path
    they verify."""
    docs = _docs(spark, sf_dir)
    n = docs.count()
    dst = F.concat(
        F.lit("http://doc"),
        ((F.col("doc_id") * 3 + 1) % F.lit(n)).cast("string"),
        F.lit("/"),
    )
    html = F.concat(
        F.lit('<html><body><a href="'),
        dst,
        F.lit('">'),
        F.concat(F.col("source"), F.lit("-"), F.col("doc_id").cast("string")),
        F.lit('</a><p>filler</p><a href="'),
        dst,
        F.lit('" class="nav"></a><a href="/rel">rel</a>'),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit('<a href="http://doc'),
                F.col("doc_id").cast("string"),
                F.lit('/">self</a>'),
            ),
        ).otherwise(F.lit("")),
        F.lit("</body></html>"),
    )
    pages = docs.select(
        F.concat(
            F.lit("http://doc"), F.col("doc_id").cast("string"), F.lit("/")
        ).alias("url"),
        html.alias("html"),
    )
    return pages, n


def q_link_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-graph ingest + degree profile: extract_links over raw html
    (pure JVM regexp — relative links, self links and duplicate edges
    dropped), then per-node out/in degree zero-filled for isolated nodes.
    Oracle derives the edge set from the page-construction arithmetic,
    so it checks the regex path against an independent derivation."""
    from mashing_pumpkins_spark.operators.graph import degree_stats, extract_links

    pages, _ = _link_pages(spark, sf_dir)
    edges = extract_links(pages)
    return degree_stats(edges, pages, id_col="url").orderBy("id")


def q_anchor_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text mining: (src, dst, anchor) triples off raw html —
    duplicates kept (same link, two anchors = two signals), attribute-
    bearing tags and empty anchors included, relative/self links dropped.
    Oracle replays the construction arithmetic."""
    from mashing_pumpkins_spark.operators.graph import extract_anchor_texts

    pages, _ = _link_pages(spark, sf_dir)
    return extract_anchor_texts(pages).orderBy("src", "dst", "anchor")


def q_source_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source keyword extraction: top-5 words by an exact-integer
    tf-idf analog — score = (tf * 1_000_000) div df where df = number of
    sources containing the word — so the ranking is bit-identical across
    engines (float log-idf would tie-break differently in the low bits).
    One explode, two word-keyed aggregations, one window. At web scale
    the df table is vocab-sized: the tf-df join shuffles on the word key
    and AQE handles the Zipf head."""
    from pyspark.sql.window import Window

    from mashing_pumpkins_spark.operators.corpus import words_array

    docs = _docs(spark, sf_dir)
    toks = docs.select("source", F.explode(words_array(F.col("text"))).alias("w"))
    tf = toks.groupBy("source", "w").agg(F.count("*").alias("tf"))
    dfreq = toks.groupBy("w").agg(F.countDistinct("source").alias("df"))
    scored = tf.join(dfreq, "w").select(
        "source",
        "w",
        "tf",
        "df",
        F.expr("(tf * 1000000) div df").cast("long").alias("score"),
    )
    win = Window.partitionBy("source").orderBy(F.desc("score"), F.asc("w"))
    return (
        scored.withColumn("rank", F.row_number().over(win).cast("long"))
        .where(F.col("rank") <= 5)
        .select("source", "rank", "w", "tf", "df", "score")
        .orderBy("source", "rank")
    )


_BOILER_LINE = "subscribe to our newsletter today please"


def q_line_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus-wide line dedup: keep only the first occurrence of
    every duplicated line (>= 10 chars; shorter lines exempt). The corpus
    has single-line docs, so the query plants line structure: first-40-chars
    line, a short '--' separator (exempt), and either a shared boilerplate
    line (doc_id%3==0 — dedups to ONE survivor corpus-wide) or the next 40
    chars. Oracle replays the construction and the first-occurrence rule
    with a window; the operator itself uses a skew-proof min(struct)
    groupBy instead."""
    from mashing_pumpkins_spark.operators.corpus import line_dedup

    docs = _docs(spark, sf_dir)
    text2 = F.concat(
        F.substring(F.col("text"), 1, 40),
        F.lit("\n--\n"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(_BOILER_LINE)).otherwise(
            F.substring(F.col("text"), 41, 40)
        ),
    )
    out = line_dedup(docs.select("doc_id", text2.alias("text")))
    return out.select(
        "doc_id",
        "n_lines",
        "n_kept",
        F.md5(F.col("clean_text")).alias("clean_md5"),
    ).orderBy("doc_id")


def q_unicode_normalize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization (Arrow-batched pandas UDF — Spark has no
    NFC builtin) over text with planted decomposed forms: e+combining
    acute and A+combining ring compose, the fi ligature stays (NFC is
    canonical-only). Normalizing before shingling is load-bearing for
    dedup — composed vs decomposed "café" otherwise hashes differently.
    Oracle replays via DuckDB's utf8proc-backed nfc_normalize; unicodedata
    parity is pinned by test."""
    from mashing_pumpkins_spark.functions.unicode_norm import normalize_unicode

    docs = _docs(spark, sf_dir)
    planted = F.concat(
        F.col("text"), F.lit(" cafe\u0301 \ufb01lm A\u030a")
    )
    d = docs.select("doc_id", planted.alias("t")).withColumn(
        "nt", normalize_unicode(F.col("t"))
    )
    return d.select(
        "doc_id",
        (F.col("nt") != F.col("t")).cast("int").alias("changed"),
        F.length("t").cast("bigint").alias("len_before"),
        F.length("nt").cast("bigint").alias("len_after"),
        F.md5(F.col("nt")).alias("norm_md5"),
    ).orderBy("doc_id")


def q_url_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UT1-style URL blocklist filtering: host blocked exactly or at a
    dot-boundary suffix (ads.src3.example.com falls under src3.example.com;
    notsrc3.example.com does not), plus literal path-term blocking
    ('casino'). Urls are constructed from (source, doc_id) arithmetic —
    every 5th doc gets an 'ads.' subdomain, every 4th a casino path — and
    the oracle re-derives the flags from that arithmetic, independently of
    the host_of/path parsing it verifies."""
    from mashing_pumpkins_spark.functions.urltools import url_filter_flags

    docs = _docs(spark, sf_dir)
    url = F.concat(
        F.lit("http://"),
        F.when(F.col("doc_id") % 5 == 0, F.lit("ads.")).otherwise(F.lit("")),
        F.col("source"),
        F.lit(".example.com/"),
        F.when(F.col("doc_id") % 4 == 0, F.lit("promo/casino-bonus?x=1")).otherwise(
            F.concat(F.lit("articles/"), F.col("doc_id").cast("string"))
        ),
    )
    flags = url_filter_flags(
        F.col("url"),
        blocked_hosts=["src3.example.com", "src7.example.com"],
        blocked_path_terms=["casino", "gambling"],
    )
    return (
        docs.select("doc_id", url.alias("url"))
        .select(
            "doc_id",
            "url",
            flags["host_blocked"].cast("int").alias("host_blocked"),
            flags["path_blocked"].cast("int").alias("path_blocked"),
            flags["blocked"].cast("int").alias("blocked"),
        )
        .orderBy("doc_id")
    )


def q_bpe_pretoken_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-2-style pre-tokenizer segmentation (contraction suffixes,
    space-prefixed letter/digit/punct runs, whitespace — the public gpt2
    regex minus lookaheads so RE2 can replay it) with planted
    contractions, punctuation and full-width digits. Value oracle hashes
    the exact segment sequence, so any engine segmentation drift fails
    the gate."""
    from mashing_pumpkins_spark.functions.textstats import bpe_pretokens

    docs = _docs(spark, sf_dir)
    planted = F.concat(
        F.col("text"),
        F.lit(" it's 2026! na\u00efve caf\u00e9 \uff12\uff13"),
    )
    segs = bpe_pretokens(planted)
    return docs.select(
        "doc_id",
        F.size(segs).cast("bigint").alias("n_pretokens"),
        F.size(
            F.filter(segs, lambda s: s.rlike(r"^ ?\p{L}+$"))
        ).cast("bigint").alias("n_word_runs"),
        F.md5(F.array_join(segs, "\x1f")).alias("seg_md5"),
    ).orderBy("doc_id")


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer TRAINING (Sennrich merge learning) —
    word-count-table design: ONE corpus pass builds the distinct-pretoken
    table, then every merge iteration runs on that (vocabulary-sized)
    table as pure Column algebra with a one-row argmax broadcast per step
    (operators/bpe.py).  The oracle unrolls the same 8 merges as
    delimited-string replace CTEs — SQL replace's leftmost non-overlapping
    scan is exactly the trainer's greedy fold (proven against an
    independent Sennrich reference in tests/test_bpe.py), so merge order,
    pair counts AND the (count, left, right) tie-break all gate."""
    from mashing_pumpkins_spark.operators.bpe import fit_bpe, merges_df

    docs = _docs(spark, sf_dir)
    model = fit_bpe(docs, n_merges=8)
    model.words.unpersist()
    return merges_df(spark, model).orderBy("step")


def q_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode-side of the trained tokenizer: per-doc token counts via a
    broadcast join of corpus pretokens against the final word table
    (word -> size(syms)) — merges are never re-applied to the corpus.
    The oracle re-derives the final word table through the same 8
    unrolled merge CTEs and replays the join, so a drift in ANY merge
    step changes downstream token counts and fails the gate."""
    from mashing_pumpkins_spark.operators.bpe import fit_bpe, token_counts

    docs = _docs(spark, sf_dir)
    model = fit_bpe(docs, n_merges=8)
    # materialize the (small) result, then release the trainer's persisted
    # word table — previously it leaked one cached table per invocation in
    # a long-lived bench/driver session (round-7 ADVICE item)
    out = token_counts(docs, model).orderBy("doc_id").localCheckpoint(eager=True)
    model.words.unpersist()
    return out


def q_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch frequency estimation (operators/cms.py): a
    4x1024 counter table whose size is fixed REGARDLESS of corpus scale
    (map-side combined before one bounded shuffle), point-queried for
    every vocabulary token against exact counts.  The md5 row-salted
    buckets are deterministic, so the oracle replays the ENTIRE sketch —
    counters, min-of-rows estimates, and the no-underestimate invariant —
    in SQL."""
    from mashing_pumpkins_spark.operators.cms import (
        cms_estimate,
        token_counter_table,
    )

    docs = _docs(spark, sf_dir)
    depth, width = 4, 1024
    counters = token_counter_table(docs, depth=depth, width=width)
    exact = (
        docs.select(
            F.explode(
                F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)
            ).alias("token")
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_count"))
    )
    est = cms_estimate(counters, exact.select("token"), depth=depth, width=width)
    return (
        exact.join(est, "token")
        .select(
            "token",
            "exact_count",
            "est_count",
            (F.col("est_count") >= F.col("exact_count")).alias("no_underestimate"),
        )
        .orderBy("token")
    )


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-count of the corpus's word 4-grams
    (operators/hll.py): 64 registers regardless of cardinality. The
    scaled estimate is all-integer (alpha_e6 * m^2 * 2^33 floor-
    divided by the exact harmonic-sum bigint), so the oracle replays
    registers AND the estimate exactly; exact count + a 40% accuracy
    boolean ride along (observed error 0.4-12% across sf).

    Plan note (round 8): registers are max-aggregates, so they are
    DUPLICATE-INSENSITIVE — this gate query (whose declared output also
    carries the exact distinct count, forcing a gram distinct anyway)
    runs ONE aggregation chain: grams.distinct() -> per-bucket
    (max rho, distinct-gram count) -> one-row summary, where
    sum(per-bucket counts) IS the exact count. The old plan built two
    independent branches (countDistinct + registers), each re-running
    the expensive gram construction (regex tokenize + per-gram
    array_join), then crossJoined the 1-row sides. Register math is
    hll.hll_bucket_rho / the hll_estimate formulas verbatim, so the
    oracle still replays every column; the standalone operator keeps
    its never-a-distinct-shuffle map-side shape for production use
    (hll_registers docstring)."""
    from mashing_pumpkins_spark.operators.corpus import word_gram_array
    from mashing_pumpkins_spark.operators.hll import alpha_e6, hll_bucket_rho

    m = 64
    num = alpha_e6(m) * m * m * (2**33) // 1000  # exact: alpha_e6 % 1000 == 0
    docs = _docs(spark, sf_dir)
    words = F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)
    # zip_with gram form (corpus.word_gram_array): the old
    # transform(sequence, i -> array_join(slice(words, i, 4))) lambda
    # re-evaluated the whole regexp tokenization once PER GRAM after
    # projection collapse — O(words^2) per doc (same bug class the
    # word_gram_array docstring records); same gram strings either way
    grams = docs.select(F.explode(word_gram_array(words, 4)).alias("gram"))
    bucket, rho = hll_bucket_rho(F.col("gram"), m)
    regs = (
        grams.distinct()
        .select(bucket.alias("bucket"), rho.alias("rho"))
        .groupBy("bucket")
        .agg(F.max("rho").alias("m_j"), F.count("*").alias("_cnt"))
    )
    # hll_estimate's summary with the exact count fused in: s_sum adds
    # 2^33 for each of the (m - n_present) absent buckets, exactly as
    # operators/hll.hll_estimate computes it
    agg = regs.agg(
        F.coalesce(
            F.sum(F.pow(F.lit(2.0), F.lit(33) - F.col("m_j")).cast("bigint")),
            F.lit(0),
        ).alias("s_present"),
        F.count(F.lit(1)).alias("n_present"),
        F.coalesce(F.sum("_cnt"), F.lit(0)).cast("bigint").alias("n_exact"),
    )
    s_sum = (
        F.col("s_present")
        + (F.lit(m) - F.col("n_present")) * F.lit(2**33).cast("bigint")
    ).cast("bigint")
    est = agg.select(
        F.lit(m).alias("m"),
        "n_exact",
        s_sum.alias("s_sum"),
        F.col("n_present").cast("bigint").alias("n_present"),
    )
    est_milli = F.expr(f"{num}L div s_sum")
    return est.select(
        "m",
        "n_exact",
        "s_sum",
        "n_present",
        est_milli.cast("bigint").alias("est_milli"),
        (
            F.abs(est_milli - F.lit(1000) * F.col("n_exact")) * 10
            <= F.lit(4000) * F.col("n_exact")
        ).alias("rel_err_ok"),
    )


def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-then-chunk sequence packing: per source, docs
    laid out in id order and cut into 1000-token packs (a doc belongs
    where its first token lands). Window cumsum per group — parallel
    across groups; oracle replays the same integer arithmetic."""
    from mashing_pumpkins_spark.operators.corpus import pack_sequences

    docs = _docs(spark, sf_dir)
    return pack_sequences(docs, budget_tokens=1000)


def q_cdx_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDX(J) fetch-planning index: build one index line per doc (SURT
    key via the surt_key transform + 14-digit timestamp + JSON capture
    metadata, all from (source, doc_id) arithmetic), parse it back with
    parse_cdx, and emit the typed row. The oracle enumerates every field
    from the construction arithmetic — SURT reversal, dt partition
    prefix, JSON values — with no parsing at all."""
    from mashing_pumpkins_spark.functions.urltools import surt_key
    from mashing_pumpkins_spark.sources.cdx import parse_cdx

    docs = _docs(spark, sf_dir)
    url = F.concat(
        F.lit("http://www."),
        F.col("source"),
        F.lit(".example.com/page/"),
        F.col("doc_id").cast("string"),
    )
    ts = F.concat(
        F.lit("2026021"),
        (F.col("doc_id") % 10).cast("string"),
        F.lit("1030"),
        F.lpad((F.col("doc_id") % 60).cast("string"), 2, "0"),
    )
    line = F.concat(
        surt_key(url),
        F.lit(" "),
        ts,
        F.lit(' {"url": "'),
        url,
        F.lit('", "status": "200", "mime": "text/html", "digest": "D'),
        F.col("doc_id").cast("string"),
        F.lit('", "length": "'),
        (F.col("n_chars") + 100).cast("string"),
        F.lit('", "filename": "crawl-'),
        F.col("source"),
        F.lit('.warc.gz", "offset": "'),
        (F.col("doc_id") * 1024).cast("string"),
        F.lit('"}'),
    )
    parsed = parse_cdx(docs.select(line.alias("line")))
    return parsed.orderBy("surt", "ts_raw")


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText/DCLM-style linear quality scoring over hashed tokens:
    score = sum of W[md5-bucket(token)] with a 256-bucket integer weight
    table (weights derived as (b*2654435761) % 1001 - 500 so the oracle
    can recompute them from the bucket id instead of reading the table —
    it verifies the lookup mechanics independently). Integer fixed-point
    weights keep the sum bit-identical across engines; pure Column
    algebra at scan speed."""
    from mashing_pumpkins_spark.functions.classifier import hashed_ngram_score
    from mashing_pumpkins_spark.functions.textstats import whitespace_token_count

    from mashing_pumpkins_spark.functions.classifier import demo_weight_table

    weights = demo_weight_table(256)
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        whitespace_token_count(F.col("text")).cast("bigint").alias("n_tokens"),
        hashed_ngram_score(F.col("text"), weights).alias("score"),
    ).orderBy("doc_id")


def q_robots_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt parsing into the per-host crawl-rules table: one body
    per source host (wildcard section + a two-agent shared section with
    crawl-delay), parsed with the pure-Column section-scan operator. The
    oracle enumerates the expected (agent, directive, value, rule_pos)
    rows directly from the body-construction layout — independent of the
    parsing path."""
    from mashing_pumpkins_spark.sources.robots import parse_robots

    docs = _docs(spark, sf_dir)
    hosts = _robots_hosts(docs)
    return parse_robots(hosts)


def q_crawl_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centrality-weighted crawl-budget allocation: rank the synthetic
    link graph with exact-integer PageRank, roll rank mass up per source,
    and split a 1M-fetch budget proportionally — all bigint floor
    arithmetic, so the allocation replays bit-for-bit (Common Crawl
    publishes exactly this kind of host-level centrality prior). Oracle =
    the pagerank CTE chain + the same aggregation."""
    from mashing_pumpkins_spark.operators.graph import pagerank

    docs, nodes, edges = _pagerank_graph(spark, sf_dir)
    pr = pagerank(nodes, edges, n_iter=5)
    mass = (
        pr.join(docs.select(F.col("doc_id").alias("id"), "source"), "id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("rank").alias("rank_mass"),
        )
    )
    tot = mass.agg(F.sum("rank_mass").alias("t"))
    return (
        mass.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "rank_mass",
            F.expr("(1000000 * rank_mass) div t").cast("bigint").alias("budget"),
        )
        .orderBy("source")
    )


def q_robots_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frontier admission under robots rules: parse per-host robots
    bodies, then decide fetchability for agent 'trainbot' (exact section
    overrides wildcard; longest path prefix wins; crawl-delay surfaced).
    Urls and robots bodies both derive from (source, doc_id) arithmetic,
    so the oracle recomputes the decision without parsing anything."""
    from mashing_pumpkins_spark.sources.robots import parse_robots, robots_allowed

    docs = _docs(spark, sf_dir)
    hosts = _robots_hosts(docs)
    frontier = docs.select(
        "doc_id",
        F.concat(F.col("source"), F.lit(".example.com")).alias("host"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("/no-"), F.col("source"), F.lit("/page")),
        )
        .when(F.col("doc_id") % 3 == 1, F.lit("/public/item"))
        .otherwise(F.concat(F.lit("/private-"), F.col("source"), F.lit("/x")))
        .alias("path"),
    )
    out = robots_allowed(frontier, parse_robots(hosts), "trainbot")
    return out.select(
        "doc_id",
        "host",
        "path",
        F.col("allowed").cast("int").alias("allowed"),
        "crawl_delay",
    ).orderBy("doc_id")


def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation funnel over the training split (doc_id % 10 != 0):
    quality filter -> exact dedup -> passage-dup cut -> decontamination vs
    the held-out split, reporting docs+words surviving each stage. Every
    stage is SQL-replayable; the funnel is the composition proof."""
    from mashing_pumpkins_spark.operators.curation import curation_funnel

    docs = _docs(spark, sf_dir)
    benchmark = docs.where(F.col("doc_id") % 10 == 0)
    train = docs.where(F.col("doc_id") % 10 != 0)
    funnel, _survivors = curation_funnel(train, benchmark)
    return funnel


def q_curation_funnel_gated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-6 gated funnel: url_filter (UT1 blocklist) -> robots
    (RFC 9309 admission for 'trainbot' against the shared _robots_hosts
    bodies) -> quality filter -> hashed-n-gram classifier (the
    quality_classifier weight recipe, threshold 0) -> exact dedup ->
    passage dedup -> decontamination vs the held-out split. Urls come
    from (source, doc_id) arithmetic — every 5th doc an 'ads.' subdomain
    (no robots rules -> allowed), every 4th a casino path, every
    remaining 7th a '/no-<source>/x' path the trainbot section disallows
    — so the oracle re-derives every gate from the arithmetic instead of
    re-running the parsers. One funnel job replaces four separate gate
    jobs; all stages are cumulative flags over a single scan."""
    from mashing_pumpkins_spark.operators.curation import curation_funnel
    from mashing_pumpkins_spark.sources.robots import parse_robots

    docs = _docs(spark, sf_dir)
    url = F.concat(
        F.lit("http://"),
        F.when(F.col("doc_id") % 5 == 0, F.lit("ads.")).otherwise(F.lit("")),
        F.col("source"),
        F.lit(".example.com"),
        F.when(F.col("doc_id") % 4 == 0, F.lit("/promo/casino-bonus?x=1"))
        .when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.lit("/no-"), F.col("source"), F.lit("/x")),
        )
        .otherwise(F.concat(F.lit("/articles/"), F.col("doc_id").cast("string"))),
    )
    benchmark = docs.where(F.col("doc_id") % 10 == 0)
    train = docs.where(F.col("doc_id") % 10 != 0).withColumn("url", url)
    from mashing_pumpkins_spark.functions.classifier import demo_weight_table

    weights = demo_weight_table(256)
    funnel, _survivors = curation_funnel(
        train,
        benchmark,
        url_col="url",
        blocked_hosts=["src3.example.com", "src7.example.com"],
        blocked_path_terms=["casino", "gambling"],
        robots_rules=parse_robots(_robots_hosts(docs)),
        agent="trainbot",
        classifier_weights=weights,
        classifier_min=0,
    )
    return funnel


def q_curation_funnel_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The funnel with the round-7 CCNet-style LM stage enabled: quality
    filter -> LM perplexity band keep (bigram model fit on the held-out
    split, head+middle kept at the fitted synthetic-corpus cuts) ->
    exact dedup -> passage dedup -> decontamination. The oracle replays
    the LM stage with the same integer log-prob CTEs as lm_perplexity,
    so every surviving count is engine-independent."""
    from mashing_pumpkins_spark.operators.curation import curation_funnel

    docs = _docs(spark, sf_dir)
    benchmark = docs.where(F.col("doc_id") % 10 == 0)
    train = docs.where(F.col("doc_id") % 10 != 0)
    funnel, _survivors = curation_funnel(
        train,
        benchmark,
        lm_reference=benchmark,
        lm_head_cut_e6=-3_450_000,
        lm_tail_cut_e6=-3_650_000,
    )
    return funnel


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch incremental near-dup admission: odd-doc_id batch checked
    against the committed even-doc_id index (sketch -> band equi-join ->
    exact verify) WITHOUT re-scanning the committed side. Exact sketches,
    so every (odd, even) pair with byte-shingle Jaccard >= 0.8 must
    surface — a full value oracle of the corpus-refresh path."""
    from mashing_pumpkins_spark.config import PipelineConfig, SketchConfig
    from mashing_pumpkins_spark.operators.incremental import (
        incremental_near_dup,
        index_tables,
    )

    cfg = PipelineConfig(
        sketch=SketchConfig(nsize=21, maxsize=1 << 30, hash_name="xxh64", seed=0),
        n_bands=32,
        rows_per_band=8,
        jaccard_threshold=0.8,
    )
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("url"), F.col("text")
    )
    committed = docs.where(F.col("url").cast("long") % 2 == 0)
    batch = docs.where(F.col("url").cast("long") % 2 == 1)
    sigs, bands = index_tables(committed, cfg)
    matches, _fresh = incremental_near_dup(
        batch, sigs, bands, cfg, intra_batch=False
    )
    return matches.select(
        "new_url", "match_url", F.round("jaccard", 6).alias("jaccard")
    ).orderBy("new_url", "match_url")


def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (gaps-and-islands, 30-min inactivity gap) + JSON
    prop extraction per session. The gap test is a direct timestamp
    comparison against lag(ts) + INTERVAL (microsecond-exact, no epoch
    conversion, timezone-independent for NTZ timestamps); one window
    shuffle keyed by user_id."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag(F.col("ts")).over(w)
    return (
        ev.select(
            "user_id",
            "ts",
            "event_id",
            "value",
            F.get_json_object("props", "$.k").cast("long").alias("k"),
        )
        .withColumn(
            "_brk",
            (
                prev.isNull()
                | (F.col("ts") > prev + F.expr("INTERVAL 30 MINUTES"))
            ).cast("long"),
        )
        .withColumn(
            "session_idx",
            F.sum("_brk").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("user_id", "session_idx")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
            F.round(F.sum("value"), 6).alias("sum_value"),
            F.sum("k").alias("sum_k"),
        )
        .orderBy("user_id", "session_idx")
    )


def q_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-count percentiles per language (p50/p90/p99) — the
    corpus length-distribution diagnostic. Uses Spark's exact percentile
    aggregate (interpolating, == DuckDB quantile_cont).

    The 100-TB production twin runs beside it: approx_percentile
    (t-digest, mergeable partial agg — no full sort per group). The exact
    form is the oracle-checked value; the approx form is exposed as
    boolean brackets (approx within the exact [q-0.05, q+0.05] percentile
    band — generous vs the default 1/10000 rank error), which DuckDB
    asserts as literal TRUE: the same self-checked-estimator pattern as
    minhash_jaccard_estimate. At 100 TB, drop the exact columns and keep
    approx_percentile — one edit."""
    from mashing_pumpkins_spark.functions.textstats import whitespace_token_count

    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "lang", whitespace_token_count(F.col("text")).cast("double").alias("n_tok")
    )
    agg = toks.groupBy("lang").agg(
        F.round(F.percentile("n_tok", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("n_tok", F.lit(0.9)), 6).alias("p90"),
        F.round(F.percentile("n_tok", F.lit(0.99)), 6).alias("p99"),
        F.percentile("n_tok", F.lit(0.45)).alias("_lo50"),
        F.percentile("n_tok", F.lit(0.55)).alias("_hi50"),
        F.percentile("n_tok", F.lit(0.85)).alias("_lo90"),
        F.percentile("n_tok", F.lit(0.95)).alias("_hi90"),
        F.percentile("n_tok", F.lit(0.94)).alias("_lo99"),
        F.max("n_tok").alias("_hi99"),
        F.min("n_tok").alias("_min"),
        F.count("*").alias("_n"),
        F.approx_percentile("n_tok", F.lit(0.5), F.lit(10000)).alias("_a50"),
        F.approx_percentile("n_tok", F.lit(0.9), F.lit(10000)).alias("_a90"),
        F.approx_percentile("n_tok", F.lit(0.99), F.lit(10000)).alias("_a99"),
    )

    def _ok(a: str, lo: str, hi: str) -> "F.Column":
        # the +/-0.05 interpolated band only brackets a returned DATA value
        # when 0.05 * n >= 1 rank; for smaller groups the sound guaranteed
        # bound is [min, max] (round-4 review: a 2-row group legitimately
        # fails the narrow band)
        return F.when(
            F.col("_n") >= 20, F.col(a).between(F.col(lo), F.col(hi))
        ).otherwise(F.col(a).between(F.col("_min"), F.col("_hi99")))

    return (
        agg.select(
            "lang",
            "p50",
            "p90",
            "p99",
            _ok("_a50", "_lo50", "_hi50").alias("p50_approx_ok"),
            _ok("_a90", "_lo90", "_hi90").alias("p90_approx_ok"),
            _ok("_a99", "_lo99", "_hi99").alias("p99_approx_ok"),
        )
        .orderBy("lang")
    )


def _cents(col: str) -> "F.Column":
    """Exact integer cents/percent from a 2-decimal double: float SUM order
    differs between engines, so all money math here is bigint-exact and
    only the final presentation divides+rounds."""
    return F.round(F.col(col) * 100).cast("long")


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 analog over the star schema: pricing summary report per
    (returnflag, linestatus). Money math in exact integer cents (see
    _cents) so the oracle is value-stable; single groupBy with map-side
    partial aggregation — the canonical scan-heavy report shape."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cents, dpct, tpct = _cents("l_extendedprice"), _cents("l_discount"), _cents("l_tax")
    qty = F.round(F.col("l_quantity")).cast("long")
    return (
        li.where(F.col("l_shipdate") <= F.lit("2000-01-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).alias("sum_qty"),
            F.round(F.sum(cents) / 100.0, 2).alias("sum_base_price"),
            F.round(F.sum(cents * (100 - dpct)) / 10000.0, 2).alias("sum_disc_price"),
            F.round(F.sum(cents * (100 - dpct) * (100 + tpct)) / 1000000.0, 2).alias(
                "sum_charge"
            ),
            F.count("*").alias("n_rows"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 analog: 1996 revenue by nation for the AFRICA region —
    the multi-table join showcase. The two dimension tables (nation,
    region) are broadcast explicitly; customer/supplier co-nation
    equi-joins shuffle on their keys. Exact-cents revenue."""
    rd = lambda t: spark.read.parquet(f"{sf_dir}/{t}.parquet")  # noqa: E731
    cents, dpct = _cents("l_extendedprice"), _cents("l_discount")
    return (
        rd("lineitem")
        .join(
            rd("orders").where(
                (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(rd("customer"), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            rd("supplier"),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(rd("nation")), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(rd("region").where(F.col("r_name") == "AFRICA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(cents * (100 - dpct)) / 10000.0, 2).alias("revenue"),
        )
        .orderBy(F.desc("revenue"), "n_name")
    )


def q_token_stats_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (lang, source): doc and token totals at every grouping
    granularity (per lang+source, per lang, per source, grand total) in
    one pass — the grouping-sets/rollup row of the relational checklist.
    Grouping nulls are presented as 'ALL' so the oracle compare is
    null-free."""
    from mashing_pumpkins_spark.functions.textstats import whitespace_token_count

    docs = _docs(spark, sf_dir)
    return (
        docs.select(
            "lang", "source", whitespace_token_count(F.col("text")).alias("n_tok")
        )
        .cube("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
        .select(
            F.coalesce("lang", F.lit("ALL")).alias("lang"),
            F.coalesce("source", F.lit("ALL")).alias("source"),
            "n_docs",
            "n_tokens",
        )
        .orderBy("lang", "source")
    )


def q_image_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode through the multimodal path: each doc's UTF-8
    bytes become a deterministic 16px-wide PGM (P5) payload, decoded by
    the native netpbm decoder inside mapInPandas; the oracle re-derives
    width/height/mean-intensity from the same bytes via hex arithmetic in
    SQL — a full value oracle of decode_image + image_summary."""
    from mashing_pumpkins_spark.operators.multimodal import image_summary

    enc = F.encode(F.col("text"), "utf-8")
    h = F.least(F.floor(F.octet_length(enc) / 16), F.lit(16)).cast("int")
    header = F.encode(
        F.concat(F.lit("P5\n16 "), h.cast("string"), F.lit("\n255\n")), "utf-8"
    )
    docs = (
        _docs(spark, sf_dir)
        .where(F.octet_length(enc) >= 16)
        .select(
            F.col("doc_id").cast("string").alias("url"),
            F.concat(header, F.substring(enc, 1, h * 16)).alias("payload"),
        )
    )
    return image_summary(docs).orderBy("url")


def q_png_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-image decode: each doc's first h*16 UTF-8 bytes
    become a gray8 PNG (DEFLATE via stdlib zlib; filter type = doc_id % 5,
    so all five scanline filters are exercised across the corpus), decoded
    back by the native pure-numpy PNG decoder inside image_summary. The
    oracle re-derives width/height/mean-intensity from the SAME source
    bytes via hex arithmetic in SQL — so the whole encode -> DEFLATE ->
    decode -> defilter path must be an exact identity on the pixels."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import BinaryType

    from mashing_pumpkins_spark.operators.multimodal import encode_png, image_summary

    enc = F.encode(F.col("text"), "utf-8")
    h = F.least(F.floor(F.octet_length(enc) / 16), F.lit(16)).cast("int")
    docs = (
        _docs(spark, sf_dir)
        .where(F.octet_length(enc) >= 16)
        .select(
            F.col("doc_id").cast("string").alias("url"),
            F.substring(enc, 1, h * 16).alias("px"),
            h.alias("h"),
            (F.col("doc_id") % 5).cast("int").alias("f"),
        )
    )

    @F.pandas_udf(BinaryType())
    def to_png(px: pd.Series, hh: pd.Series, ff: pd.Series) -> pd.Series:
        return pd.Series(
            [
                encode_png(
                    np.frombuffer(bytes(p), dtype=np.uint8).reshape(int(h_), 16),
                    filter_type=int(f_),
                    level=1,  # pipeline-internal payload: fastest DEFLATE
                )
                for p, h_, f_ in zip(px, hh, ff)
            ]
        )

    payloads = docs.select("url", to_png("px", "h", "f").alias("payload"))
    return image_summary(payloads).orderBy("url")


def _jpeg_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(url, payload) JPEG fixture table shared by the gate query and the
    bench decode-only timing: each doc a 48x32 per-8x8-block-uniform image
    planted from doc_id arithmetic, quality 75, even ids grayscale / odd
    RGB 4:2:0, doc_id % 4 >= 2 progressive. bench.py materializes this
    once (untimed) so the timed entry measures DECODE, not the per-row
    Python encoder."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import BinaryType

    from mashing_pumpkins_spark.operators.jpegcodec import (
        encode_jpeg,
        encode_jpeg_progressive,
    )

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("url"),
        F.col("doc_id").alias("d"),
    )

    @F.pandas_udf(BinaryType())
    def to_jpeg(ds: pd.Series) -> pd.Series:
        out = []
        i = np.arange(4)[:, None]
        j = np.arange(6)[None, :]
        for d in ds:
            vals = ((int(d) * 37 + 29 * i + 13 * j) % 256).astype(np.uint8)
            img = np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1)
            enc = encode_jpeg_progressive if int(d) % 4 >= 2 else encode_jpeg
            if int(d) % 2 == 0:
                out.append(enc(img, quality=75))
            else:
                rgb = np.stack([img] * 3, axis=-1)
                out.append(enc(rgb, quality=75, subsampling="4:2:0"))
        return pd.Series(out)

    return docs.select("url", to_jpeg("d").alias("payload"))


def q_jpeg_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL lossy-codec decode (the dominant crawl image format): each doc
    becomes a 48x32 image of per-8x8-block uniform values planted from
    doc_id arithmetic, encoded as JPEG at quality 75 (even doc_ids
    grayscale, odd doc_ids RGB 4:2:0 with R=G=B; doc_id % 4 >= 2 via the
    PROGRESSIVE encoder — SOF2 spectral selection + successive
    approximation, which decodes to identical pixels), then decoded by
    the native pure-numpy JPEG decoder inside image_summary. Quality 75
    makes the luminance DC quantizer exactly 8, so per-block-uniform
    images roundtrip BIT-EXACTLY through Huffman + DC prediction +
    dequant + IDCT (tests/test_jpeg.py pins this against a hand-built
    spec fixture) — which lets the oracle recompute the decoded pixel
    mean from the SAME planting arithmetic in pure SQL, for baseline and
    progressive payloads alike."""
    from mashing_pumpkins_spark.operators.multimodal import image_summary

    return image_summary(_jpeg_payloads(spark, sf_dir)).orderBy("url")


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (Dolma-style masking — a text TRANSFORM, not a
    filter): each doc gets deterministic PII planted (email, IPv4, phone —
    driven by doc_id arithmetic), then redact_pii masks every span with a
    typed token, all pure JVM regexp (RE2-compatible patterns, no
    lookaround). The oracle replays count -> mask -> count on the same
    augmented text and value-checks the masked text per row via md5 — a
    full oracle over the rewrite itself, not just the counts."""
    from mashing_pumpkins_spark.functions.textstats import pii_counts, redact_pii

    d = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        d.cast("string"),
        F.lit("@mail.example.org, backup 10.0."),
        (d % 256).cast("string"),
        F.lit(".77 tel +4915123"),
        F.lpad((d % 1000).cast("string"), 3, "0"),
    )
    docs = _docs(spark, sf_dir).select("doc_id", aug.alias("t"))
    counts = pii_counts(F.col("t"))
    return (
        docs.select(
            "doc_id",
            *[c.alias(f"n_{kind}") for kind, c in counts],
            F.md5(F.encode(redact_pii(F.col("t")), "utf-8")).alias("redacted_md5"),
        )
        .orderBy("doc_id")
    )


def q_source_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-level (domain-level) similarity matrix: per-source rolled-up
    UN-TRUNCATED sketches (operators/rollup.py — the O11/O28 merge path),
    then exact pairwise Jaccard between source shingle sets. The pairwise
    stage is quadratic in SOURCES, not docs (20 sources -> 190 pairs at
    any corpus size) — the shape a crawl uses to find mirrored domains.
    Full SQL oracle: distinct 21-char shingles per source, pairwise
    intersection over a self-join."""
    from mashing_pumpkins_spark.config import SketchConfig
    from mashing_pumpkins_spark.functions.estimators import jaccard_similarity
    from mashing_pumpkins_spark.operators.rollup import group_sketch_rollup

    cfg = SketchConfig(nsize=21, maxsize=1 << 30, hash_name="xxh64", seed=0)
    rolled = group_sketch_rollup(_docs(spark, sf_dir), cfg, "source").select(
        F.col("group").alias("source"), F.col("sig")
    )
    a = rolled.select(F.col("source").alias("src_a"), F.col("sig").alias("sig_a"))
    b = rolled.select(F.col("source").alias("src_b"), F.col("sig").alias("sig_b"))
    return (
        a.join(b, F.col("src_a") < F.col("src_b"))
        .select(
            "src_a",
            "src_b",
            F.round(jaccard_similarity(F.col("sig_a"), F.col("sig_b")), 6).alias(
                "jaccard"
            ),
        )
        .orderBy("src_a", "src_b")
    )


def q_html_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML -> text extraction round-trip (BASELINE.json input_hint
    invariant: byte-identical extracted text per url). Each doc's text is
    rendered as a realistic HTML page (inline tags, named/decimal/hex
    charrefs, comments, head/style/script noise, whitespace padding — all
    deterministic) then parsed back by the stdlib-HTMLParser extractor;
    the oracle replays the invariant straight off the text column
    (md5(text)), the PNG/JPEG encode->decode oracle pattern. Both
    directions are Arrow-batched pandas UDFs, no shuffle."""
    from mashing_pumpkins_spark.operators.extraction import (
        extraction_report,
        rendered_html_col,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    pages = docs.withColumn(
        "html", rendered_html_col(F.col("text"), F.col("doc_id"))
    )
    return extraction_report(
        pages, html_col="html", text_col="text", id_col="doc_id"
    ).orderBy("doc_id")


def _warc_fixture_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed WARC-fixture synthesis: (url, warc_ts, html) built with
    Column algebra + the Arrow-batched HTML renderer — no driver-side
    toPandas / per-row loop (the round-6 audit note). Timestamps are
    2024-01-01T00:00:00Z + doc_id*61 s, same arithmetic the oracles
    replay (epoch 1704067200)."""
    from mashing_pumpkins_spark.operators.extraction import rendered_html_col

    url = F.concat(
        F.lit("https://warc.example/doc-"), F.col("doc_id").cast("string")
    )
    return (
        _docs(spark, sf_dir)
        .select("doc_id", "text")
        .select(
            url.alias("url"),
            F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id") * 61).alias(
                "warc_ts"
            ),
            rendered_html_col(F.col("text"), url).alias("html"),
        )
    )


def q_warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC ingest edge (the Common Crawl container format): documents are
    rendered to HTML pages DISTRIBUTED (Column algebra + Arrow-batched
    renderer), exported as one .warc.gz per partition via
    write_warc_files (per-record gzip members, warcinfo header, HTTP
    response framing — the crawl layout), then read back distributed via
    the binaryFile + mapInPandas source and parsed: WARC framing, HTTP
    split, text extraction. Oracle replays the byte-identity invariant
    off the text column (md5(text)) plus the planted status/timestamp
    arithmetic."""
    from mashing_pumpkins_spark.operators.extraction import extracted_text_col
    from mashing_pumpkins_spark.sources.warc import (
        read_warc_pages,
        write_warc_files,
    )

    out_dir = _tmpdir("mp_spark_warc_")
    write_warc_files(
        _warc_fixture_pages(spark, sf_dir).repartition(8), out_dir
    ).collect()
    read = read_warc_pages(spark, out_dir)
    return (
        read.select(
            F.regexp_extract("url", r"doc-(\d+)$", 1).cast("long").alias("doc_id"),
            F.col("http_status"),
            F.unix_timestamp("warc_ts").alias("ts_epoch"),
            F.md5(extracted_text_col(F.col("html")).cast("binary")).alias(
                "extract_md5"
            ),
        )
        .orderBy("doc_id")
    )


def q_warc_wet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WET export edge (Common Crawl's text-only sibling of WARC): docs
    are rendered to HTML, serialized as sharded .warc.gz, read back
    distributed, extraction recovers the text, and write_wet_files
    exports one conversion-record .wet.gz per partition (no shuffle)
    which read_wet_pages re-ingests. The output md5s the text that
    SURVIVED the full warc -> extract -> wet -> parse cycle, so the
    oracle's md5(text) over the original documents table certifies the
    byte-identity invariant end to end; has_refers pins the
    WARC-Refers-To link back to each response record."""
    from mashing_pumpkins_spark.operators.extraction import extracted_text_col
    from mashing_pumpkins_spark.sources.warc import (
        read_warc_pages,
        read_wet_pages,
        write_warc_files,
        write_wet_files,
    )

    warc_dir = _tmpdir("mp_spark_wetsrc_")
    wet_dir = _tmpdir("mp_spark_wetout_")
    write_warc_files(
        _warc_fixture_pages(spark, sf_dir).repartition(8), warc_dir
    ).collect()
    extracted = read_warc_pages(spark, warc_dir).select(
        "url",
        "warc_ts",
        extracted_text_col(F.col("html")).alias("text"),
        F.col("record_id").alias("refers_to"),
    )
    write_wet_files(extracted, wet_dir).collect()
    back = read_wet_pages(spark, wet_dir)
    return (
        back.select(
            F.regexp_extract("url", r"doc-(\d+)$", 1).cast("long").alias("doc_id"),
            F.unix_timestamp("warc_ts").alias("ts_epoch"),
            F.md5(F.col("text").cast("binary")).alias("text_md5"),
            F.col("refers_to").isNotNull().cast("int").alias("has_refers"),
        )
        .orderBy("doc_id")
    )


def q_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard manifest — the terminal export stage's lineage
    record (sources/training_export.py). Every document is assigned a
    deterministic shard (md5 bucket over seed:url) and a seeded global
    order key (md5 over order-seed:url), then per-shard docs / whitespace
    tokens / chars and the order-key range come out of ONE
    map-side-combinable aggregate. Pure Column algebra — the oracle
    replays the identical md5 arithmetic in DuckDB."""
    from mashing_pumpkins_spark.sources.training_export import (
        shard_assignment,
        shard_manifest,
    )

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("url"), "text"
    )
    return shard_manifest(shard_assignment(docs, n_shards=8, seed=42)).orderBy(
        "shard_id"
    )


def q_training_export_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Terminal export edge: documents -> deterministic jsonl.gz shards
    (ONE shuffle, task-commit writer, sources/training_export.py) ->
    schema-pinned distributed read-back. shard_id is recovered from the
    FILE NAME (input_file_name), not recomputed from the row, so the
    check covers physical routing; each shard's rows fold to a 32-bit
    md5 value sum the oracle — which never sees the files — recomputes
    straight from the documents table: byte-exact survival of every
    (url, text) pair through the write/read cycle."""
    from mashing_pumpkins_spark.sources.training_export import (
        read_training_shards,
        write_training_shards,
    )

    out_dir = _tmpdir("mp_spark_shards_")
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("url"), "text"
    )
    write_training_shards(docs, out_dir, n_shards=8, seed=42).collect()
    back = read_training_shards(spark, out_dir)
    val = F.conv(
        F.substring(
            F.md5(F.concat(F.col("url"), F.lit("\x1f"), F.col("text"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    sid = F.regexp_extract(
        F.input_file_name(), r"shard-(\d+)\.jsonl\.gz", 1
    ).cast("int")
    return (
        back.select(sid.alias("shard_id"), val.alias("v"))
        .groupBy("shard_id")
        .agg(F.count("*").alias("n_docs"), F.sum("v").alias("sum_val"))
        .orderBy("shard_id")
    )


def q_main_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate removal (readability-style main-content extraction):
    each doc is rendered as a page WITH planted link-dense boilerplate
    (top nav, related-links sidebar, footer menu — every word anchor
    text), then extract_main_text drops blocks at >=0.5 link density.
    main_ok asserts the recovered main content is byte-identical to the
    text column; had_boilerplate asserts the full extraction really
    contained more (the menus were present and then stripped). Oracle
    replays both invariants plus md5(text)."""
    from mashing_pumpkins_spark.operators.extraction import (
        extracted_text_col,
        main_text_col,
        rendered_boilerplate_html_col,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    pages = docs.withColumn(
        "html", rendered_boilerplate_html_col(F.col("text"), F.col("doc_id"))
    )
    inner = pages.select(
        "doc_id",
        "text",
        extracted_text_col(F.col("html")).alias("_full"),
        main_text_col(F.col("html")).alias("_main"),
    )
    return inner.select(
        "doc_id",
        (F.col("_main") == F.col("text")).alias("main_ok"),
        (F.length("_full") > F.length("_main")).alias("had_boilerplate"),
        F.md5(F.col("_main").cast("binary")).alias("main_md5"),
    ).orderBy("doc_id")


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4 structural rule battery: per-rule boolean + conjunctive
    keep per doc, all pure JVM Column algebra — full SQL value oracle."""
    from mashing_pumpkins_spark.operators.corpus import gopher_rules

    return gopher_rules(_docs(spark, sf_dir)).orderBy("doc_id")


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality filter (operators/lm.py): Laplace-smoothed
    bigram model fit on the held-out reference split (doc_id % 10 == 0,
    the decontamination split), scoring the training split with
    integer-scaled log-probs (floor(1e6*ln p) summed as BIGINT — exact
    and order-independent, so the value hash crosses engines) and
    banding head/middle/tail on avg log-prob by integer comparison.
    Band cuts are fitted to the synthetic corpus (31-word vocabulary
    puts its avg-ln-p range in [-4.1, -3.2]) exactly as CCNet fits
    per-language percentile cutoffs."""
    from mashing_pumpkins_spark.operators.lm import fit_bigram_lm, lm_perplexity

    docs = _docs(spark, sf_dir)
    lm = fit_bigram_lm(docs.where(F.col("doc_id") % 10 == 0))
    train = docs.where(F.col("doc_id") % 10 != 0)
    return lm_perplexity(
        train, lm, head_cut_e6=-3_450_000, tail_cut_e6=-3_650_000
    ).orderBy("doc_id")


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (operators/dsir.py): hashed
    unigram+bigram bag models on the held-out target split vs the raw
    training split, per-doc importance weight = integer log-prob ratio
    sum (exact BIGINT — the lm_perplexity recipe over the classifier's
    md5 bucket space), top 50 by (weight desc, doc_id). The plan is
    TakeOrderedAndProject over two broadcast model joins."""
    from mashing_pumpkins_spark.operators.dsir import dsir_top_k

    docs = _docs(spark, sf_dir)
    target = docs.where(F.col("doc_id") % 10 == 0)
    train = docs.where(F.col("doc_id") % 10 != 0)
    return dsir_top_k(train, target, k=50, n_buckets=512)


def q_semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDedup semantic dedup (operators/semdedup.py): fixed-point
    integer k-means (md5-seeded, 2 Lloyd iterations, exact floor-div
    centroid updates) + within-cluster cosine pruning at tau=0.95,
    ranked farthest-from-centroid-first per the paper. The synthetic
    embeddings have no natural 0.95-cosine pairs (max 0.512), so the
    query PLANTS exact semantic duplicates — a 0.99-scaled copy of
    every vector under vec_id+100000 — and the pruning must remove
    exactly one side of each planted pair. Every step (including the
    Lloyd iterations, unrolled as CTEs) replays bit-identically in the
    DuckDB oracle because all arithmetic is BIGINT/HUGEINT."""
    from mashing_pumpkins_spark.operators.semdedup import semdedup

    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    copies = emb.select(
        (F.col("vec_id") + 100_000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x.cast("double") * F.lit(0.99)).cast("float")
        ).alias("embedding"),
    )
    return semdedup(
        emb.unionAll(copies), n_clusters=10, tau_ppm=950_000, n_iters=2
    ).orderBy("vec_id")


def q_doc_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic signed hashed-TF document embedding
    (functions/embed.py — the hashing trick of Weinberger et al.): each
    token md5-hashes to a bucket and an independent sign, components are
    exact floor(scale * signed_sum / n_tokens). Exploded to
    (doc_id, pos, val) so the oracle compares every component: DuckDB
    recomputes the same bucket/sign sums by group-by and the same posmod
    floor division."""
    from mashing_pumpkins_spark.functions.embed import embed_documents

    # round-8: the Arrow bulk backend (identical integers to the Column
    # fold — backend equality is suite-tested and the component-wise SQL
    # oracle pins every value); the interpreted per-token HOF fold made
    # this the slowest "pure projection" entry in the bench
    docs = _docs(spark, sf_dir)
    emb = embed_documents(docs, dim=8, id_col="doc_id", text_col="text").select(
        "doc_id", F.col("embedding").alias("e")
    )
    return (
        emb.select("doc_id", F.posexplode("e").alias("pos", "v"))
        .select(
            "doc_id",
            F.col("pos").cast("int").alias("pos"),
            F.col("v").cast("bigint").alias("val"),
        )
        .orderBy("doc_id", "pos")
    )


def q_semdedup_text_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDedup straight off TEXT — no external encoder
    (operators/semdedup.semantic_text_dedup): signed hashed-TF embedding
    (dim 16) feeding the fixed-point k-means + cosine prune. The query
    plants an exact copy of every document under doc_id+100000;
    identical token multisets embed IDENTICALLY, so each planted pair
    sits at cosine 1 and the prune must drop exactly one side. The
    oracle replays the WHOLE chain — tokenize, bucket/sign sums, floor-
    div embedding, quantize, one unrolled Lloyd iteration, farthest-
    first rank, 128-bit rational cosine test — in DuckDB SQL."""
    from mashing_pumpkins_spark.operators.semdedup import semantic_text_dedup

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    copies = docs.select((F.col("doc_id") + 100_000).alias("doc_id"), "text")
    return semantic_text_dedup(
        docs.unionAll(copies),
        n_clusters=8,
        tau_ppm=980_000,
        n_iters=1,
        dim=16,
        id_col="doc_id",
    ).orderBy("doc_id")


def q_cdx_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDX index dedup (sources/cdx.dedup_index) — the crawl-side dedup
    tier that runs before any fetch: three captures are planted per URL
    (two byte-identical recrawls sharing a digest + one content change
    at the newest timestamp), and the operator collapses them to one
    row per (surt, digest) with revisit counts and the is_latest
    current-content flag. The oracle enumerates the expected collapse
    from the construction arithmetic with its own window functions."""
    from mashing_pumpkins_spark.functions.urltools import surt_key
    from mashing_pumpkins_spark.sources.cdx import dedup_index

    docs = _docs(spark, sf_dir)
    url = F.concat(
        F.lit("http://www."),
        F.col("source"),
        F.lit(".example.com/page/"),
        F.col("doc_id").cast("string"),
    )
    caps = docs.select(
        surt_key(url).alias("surt"), F.col("doc_id")
    ).select(
        "surt",
        "doc_id",
        F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("k"),
    )
    ts = F.concat(
        F.lit("202602"),
        F.lpad((F.lit(10) + F.col("k")).cast("string"), 2, "0"),
        F.lit("103000"),
    )
    digest = F.concat(
        F.lit("D"),
        F.col("doc_id").cast("string"),
        F.when(F.col("k") == 2, F.lit("x")).otherwise(F.lit("")),
    )
    cdx = caps.select("surt", ts.alias("ts_raw"), digest.alias("digest"))
    return dedup_index(cdx).orderBy("surt", "digest")


def q_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (the key web-crawl pre-dedup step): each doc
    gets a deterministically MESSY absolute URL (scheme/host case variants,
    default and non-default ports, trailing slash, tracking query params,
    fragment — all driven by doc_id arithmetic), normalized by the pure-JVM
    canonicalize_url / host_of Column algebra. The oracle derives the
    expected canonical form INDEPENDENTLY from the same arithmetic (it
    never parses the messy string), so every normalization rule is
    value-checked per row."""
    from mashing_pumpkins_spark.functions.urltools import canonicalize_url, host_of

    d = F.col("doc_id")
    scheme_m = (
        F.when(d % 3 == 0, "HTTP").when(d % 3 == 1, "http").otherwise("HTTPS")
    )
    hostcore = F.concat(F.lit("www."), F.col("source"), F.lit(".example.com"))
    host_m = F.when(d % 2 == 0, F.upper(hostcore)).otherwise(hostcore)
    port_m = (
        F.when(d % 4 == 0, ":80")
        .when(d % 4 == 1, ":443")
        .when(d % 4 == 2, ":8080")
        .otherwise("")
    )
    path_m = F.concat(
        F.lit("/Docs/"),
        d.cast("string"),
        F.when(d % 5 == 0, "/").otherwise(""),
    )
    query_m = F.when(d % 2 == 0, "?b=2&utm_source=feed&a=1&ref=rss").otherwise("")
    frag_m = F.concat(F.lit("#s"), (d % 7).cast("string"))
    messy = F.concat(scheme_m, F.lit("://"), host_m, port_m, path_m, query_m, frag_m)
    return (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            canonicalize_url(messy).alias("canonical"),
            host_of(messy).alias("host"),
        )
        .orderBy("doc_id")
    )


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation (batch form of the streaming analog)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(
            F.window("ts", "1 hour").start.alias("hour"),
            F.col("event_type"),
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("sum_value"))
        .orderBy("hour", "event_type")
    )


# ------------------------------------------------------------------ driver


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: exact shingle-Jaccard near-dup pairs on sf0.001 through the
    sketch engine (driver checks rows >= 0 and stable schema)."""
    return q_shingle_jaccard_exact(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "sketch_stats": q_sketch_stats,
        "sketch_stats_max": q_sketch_stats_max,
        "minhash_signature": q_minhash_signature,
        "sketch_sharded_stats": q_sketch_sharded_stats,
        "multi_sketch_one_pass": q_multi_sketch_one_pass,
        "resketch_union_stats": q_resketch_union_stats,
        "substring_dup_pairs": q_substring_dup_pairs,
        "substring_dup_spans": q_substring_dup_spans,
        "substring_clean_stats": q_substring_clean_stats,
        "shingle_jaccard_exact": q_shingle_jaccard_exact,
        "similarity_estimators": q_similarity_estimators,
        "shingle_multiplicity": q_shingle_multiplicity,
        "bray_curtis": q_bray_curtis,
        "minhash_jaccard_estimate": q_minhash_jaccard_estimate,
        "dedup_exact": q_dedup_exact,
        "dedup_normalized": q_dedup_normalized,
        "word_ngram_jaccard": q_word_ngram_jaccard,
        "simhash_pairs": q_simhash_pairs,
        "pipeline_clusters": q_pipeline_clusters,
        "pipeline_clusters_flow": q_pipeline_clusters_flow,
        "cluster_quality": q_cluster_quality,
        "stop_grams": q_stop_grams,
        "vocab_stats": q_vocab_stats,
        "source_sketch_rollup": q_source_sketch_rollup,
        "kmv_distinct_count": q_kmv_distinct_count,
        "lang_id": q_lang_id,
        "quality_stats": q_quality_stats,
        "fingerprint": q_fingerprint,
        "token_stats_by_lang": q_token_stats_by_lang,
        "topk_docs_per_lang": q_topk_docs_per_lang,
        "embedding_near_pairs": q_embedding_near_pairs,
        "embedding_near_pairs_lsh": q_embedding_near_pairs_lsh,
        "embedding_dup_clusters": q_embedding_dup_clusters,
        "ann_topk": q_ann_topk,
        "ann_lsh": q_ann_lsh,
        "ann_ivf": q_ann_ivf,
        "multimodal_features": q_multimodal_features,
        "passage_dedup_stats": q_passage_dedup_stats,
        "decontamination": q_decontamination,
        "decontamination_bloom": q_decontamination_bloom,
        "repetition_stats": q_repetition_stats,
        "hash_sample_stats": q_hash_sample_stats,
        "mixture_sample": q_mixture_sample,
        "dedup_final": q_dedup_final,
        "pagerank_scores": q_pagerank_scores,
        "link_graph_stats": q_link_graph_stats,
        "anchor_texts": q_anchor_texts,
        "source_keywords": q_source_keywords,
        "line_dedup_stats": q_line_dedup_stats,
        "unicode_normalize_stats": q_unicode_normalize_stats,
        "url_filter": q_url_filter,
        "bpe_pretoken_stats": q_bpe_pretoken_stats,
        "bpe_train": q_bpe_train,
        "bpe_token_count": q_bpe_token_count,
        "heavy_hitters_cms": q_heavy_hitters_cms,
        "hll_distinct": q_hll_distinct,
        "sequence_packing": q_sequence_packing,
        "robots_rules": q_robots_rules,
        "robots_frontier": q_robots_frontier,
        "crawl_budget": q_crawl_budget,
        "quality_classifier": q_quality_classifier,
        "cdx_index": q_cdx_index,
        "curation_funnel": q_curation_funnel,
        "curation_funnel_lm": q_curation_funnel_lm,
        "curation_funnel_gated": q_curation_funnel_gated,
        "incremental_dedup": q_incremental_dedup,
        "user_sessions": q_user_sessions,
        "length_percentiles": q_length_percentiles,
        "pricing_summary": q_pricing_summary,
        "revenue_by_nation": q_revenue_by_nation,
        "token_stats_cube": q_token_stats_cube,
        "image_decode_stats": q_image_decode_stats,
        "png_decode_stats": q_png_decode_stats,
        "jpeg_decode_stats": q_jpeg_decode_stats,
        "url_canonical": q_url_canonical,
        "gopher_rules": q_gopher_rules,
        "lm_perplexity": q_lm_perplexity,
        "dsir_select": q_dsir_select,
        "semdedup_prune": q_semdedup_prune,
        "doc_embedding": q_doc_embedding,
        "semdedup_text_prune": q_semdedup_text_prune,
        "cdx_dedup": q_cdx_dedup,
        "source_similarity": q_source_similarity,
        "pii_scrub": q_pii_scrub,
        "events_hourly": q_events_hourly,
        "html_extraction": q_html_extraction,
        "warc_roundtrip": q_warc_roundtrip,
        "warc_wet_roundtrip": q_warc_wet_roundtrip,
        "main_content": q_main_content,
        "training_shards": q_training_shards,
        "training_export_roundtrip": q_training_export_roundtrip,
    }


# Shingling is BYTE-based (the engine hashes 21-byte windows of the UTF-8
# encoding); hex(encode(text)) turns each 21-byte window into an injective
# 42-hex-char window so DuckDB's char substr is byte-exact on non-ASCII too.
_SHINGLES_CTE = """
with sh as (
  select doc_id, substr(hx, 2*i - 1, 42) as s
  from (select doc_id, hex(encode(text)) as hx,
               unnest(generate_series(1, octet_length(encode(text)) - 20)) as i
        from documents where octet_length(encode(text)) >= 21)
), ds as (select doc_id, count(distinct s) as n from sh group by 1),
inter as (
  select a.doc_id as id_a, b.doc_id as id_b, count(distinct a.s) as i
  from sh a join sh b on a.s = b.s and a.doc_id < b.doc_id
  group by 1, 2
), jac as (
  select id_a, id_b, round(i::double / (x.n + y.n - i), 6) as jaccard
  from inter join ds x on x.doc_id = id_a join ds y on y.doc_id = id_b
)
"""

def _pagerank_oracle_sql(n_iter: int, damping_pct: int = 85) -> str:
    """Unroll the exact-integer PageRank recurrence (operators/graph.py)
    as chained DuckDB CTEs: per iteration a dangling-sum scalar, a
    per-destination contribution aggregate, and the rank update — all
    bigint floor arithmetic, so the replay equals the Spark loop
    bit-for-bit."""
    keep = 100 - damping_pct
    base = "(1000000000000 // (select cnt from par))"
    parts = [
        "with nodes as (select doc_id as id from documents),",
        "par as (select count(*)::bigint as cnt from nodes),",
        "e as (",
        "  select distinct src, dst from (",
        "    select d.doc_id as src,",
        "           (d.doc_id * (t.k + 2) + t.k) % (select cnt from par) as dst",
        "    from documents d, unnest([1,2,3]) as t(k))",
        "  where src <> dst",
        "),",
        "deg as (select src as id, count(*)::bigint as deg from e group by 1),",
        f"r0 as (select id, {base}::bigint as r from nodes)",
    ]
    for i in range(n_iter):
        parts += [
            f", d{i} as (select coalesce(sum(r), 0)::bigint as s from r{i}",
            "            where id not in (select id from deg))",
            f", c{i} as (select e.dst as id, sum(rr.r // g.deg)::bigint as c",
            f"           from e join r{i} rr on rr.id = e.src",
            "           join deg g on g.id = e.src group by 1)",
            f", r{i + 1} as (select nd.id,",
            f"       (({keep} * {base}",
            f"         + {damping_pct} * (coalesce(c.c, 0)",
            f"            + (select s from d{i}) // (select cnt from par)))",
            "         // 100)::bigint as r",
            f"       from nodes nd left join c{i} c on c.id = nd.id)",
        ]
    parts.append(
        f"select id as doc_id, r as rank from r{n_iter} "
        "order by rank desc, doc_id asc"
    )
    return "\n".join(parts)


def _crawl_budget_oracle_sql(n_iter: int, total_budget: int) -> str:
    """Per-source budget allocation over the round's PageRank fixed point:
    the pagerank CTE chain, then group rank mass by source and split
    `total_budget` proportionally in bigint floor arithmetic."""
    pr = _pagerank_oracle_sql(n_iter=n_iter)
    head = pr[: pr.rfind("select id as doc_id")]
    return (
        head
        + f""", mass as (
              select d.source, count(*)::bigint as n_docs,
                     sum(r.r)::bigint as rank_mass
              from r{n_iter} r join documents d on d.doc_id = r.id
              group by d.source
            ),
            tot as (select sum(rank_mass)::bigint as t from mass)
            select source, n_docs, rank_mass,
                   (({total_budget}::bigint * rank_mass)
                     // (select t from tot))::bigint as budget
            from mass order by source"""
    )


_STOPWORDS_SQL = "['the','and','of','to','is','in','that','for','with','a','an','it','on','as','at','by']"

_LANG_MARKERS_SQL = {
    "de": "['der','die','das','und','ist','nicht','mit','ein','zu']",
    "en": "['the','and','of','to','is','in','that','for','with']",
    "es": "['el','la','los','las','es','y','que','para','una']",
    "fr": "['le','la','les','et','est','pas','pour','que','une']",
}


def _bpe_merge_ctes(n_merges: int) -> str:
    """Unrolled BPE-merge CTE chain for the bpe_train / bpe_token_count
    oracles.  Words are carried as '|'-delimited symbol strings
    ("|a||b||c|"); applying merge (l, r) is replace('|l||r|' -> '|lr|'),
    whose leftmost non-overlapping scan is exactly the trainer's greedy
    fold (tests/test_bpe.py pins both against an independent reference).
    Winner selection = ORDER BY c DESC, l DESC, r DESC LIMIT 1 — the
    same (count, left, right) max-struct tie-break the Spark side uses."""
    parts = [
        r"""w0 as (
              select word, regexp_replace(word, '(.)', '|\1|', 'g') as repr, cnt
              from (
                select word, count(*)::bigint as cnt
                from (select unnest(regexp_extract_all(lower(text), '[a-z]+'))
                        as word
                      from documents)
                group by word
              )
            )"""
    ]
    for i in range(1, n_merges + 1):
        parts.append(
            f"""s{i} as (
              select string_split(trim(repr, '|'), '||') as s, cnt from w{i - 1}
            ),
            p{i} as (
              select t.s[j] as l, t.s[j + 1] as r, sum(t.cnt)::bigint as c
              from s{i} t, unnest(generate_series(1, len(t.s) - 1)) as u(j)
              group by 1, 2
            ),
            m{i} as (
              select {i} as step, l, r, c from p{i}
              order by c desc, l desc, r desc limit 1
            ),
            w{i} as (
              select word,
                     replace(repr, '|' || l || '||' || r || '|',
                             '|' || l || r || '|') as repr,
                     cnt
              from w{i - 1}, m{i}
            )"""
        )
    return ",\n            ".join(parts)


def _bpe_train_oracle(n_merges: int) -> str:
    steps = "\n            union all ".join(
        f"select step, l, r, c from m{i}" for i in range(1, n_merges + 1)
    )
    return f"""
            with {_bpe_merge_ctes(n_merges)}
            select step::int as step, l as left_sym, r as right_sym,
                   c::bigint as pair_count
            from ({steps})
            order by step
        """


def _bpe_token_count_oracle(n_merges: int) -> str:
    return f"""
            with {_bpe_merge_ctes(n_merges)},
            vocab as (
              select word,
                     len(string_split(trim(repr, '|'), '||'))::bigint
                       as n_tokens
              from w{n_merges}
            ),
            pretokens as (
              select doc_id,
                     unnest(regexp_extract_all(lower(text), '[a-z]+')) as word
              from documents
            )
            select p.doc_id, count(*)::bigint as n_words,
                   sum(coalesce(v.n_tokens, length(p.word)))::bigint as n_tokens
            from pretokens p left join vocab v using (word)
            group by p.doc_id
            order by p.doc_id
        """


def oracle_sql() -> dict[str, str]:
    lang_scores = " union all ".join(
        f"select doc_id, '{lang}' as lang, len(list_filter(w, x -> list_contains({markers}, x))) as score from toks"
        for lang, markers in _LANG_MARKERS_SQL.items()
    )
    return {
        "sketch_stats": """
            with sh as (
              select doc_id, substr(hx, 2*i - 1, 42) as s
              from (select doc_id, hex(encode(text)) as hx,
                           unnest(generate_series(1, octet_length(encode(text)) - 20)) as i
                    from documents where octet_length(encode(text)) >= 21)
            )
            select d.doc_id,
                   coalesce(least(64, x.nd), 0)::int as sig_size,
                   greatest(octet_length(encode(d.text)) - 20, 0)::bigint as nvisited
            from documents d
            left join (select doc_id, count(distinct s) as nd from sh group by 1) x
              on x.doc_id = d.doc_id
            order by d.doc_id
        """,
        # top-64 retains as many distinct values as bottom-64: the MaxSketch
        # query shares sketch_stats' oracle verbatim
        "sketch_stats_max": """
            with sh as (
              select doc_id, substr(hx, 2*i - 1, 42) as s
              from (select doc_id, hex(encode(text)) as hx,
                           unnest(generate_series(1, octet_length(encode(text)) - 20)) as i
                    from documents where octet_length(encode(text)) >= 21)
            )
            select d.doc_id,
                   coalesce(least(64, x.nd), 0)::int as sig_size,
                   greatest(octet_length(encode(d.text)) - 20, 0)::bigint as nvisited
            from documents d
            left join (select doc_id, count(distinct s) as nd from sh group by 1) x
              on x.doc_id = d.doc_id
            order by d.doc_id
        """,
        # sharded sketching is bit-identical to whole-doc sketching, so the
        # sharded query shares sketch_stats' oracle verbatim
        "sketch_sharded_stats": """
            with sh as (
              select doc_id, substr(hx, 2*i - 1, 42) as s
              from (select doc_id, hex(encode(text)) as hx,
                           unnest(generate_series(1, octet_length(encode(text)) - 20)) as i
                    from documents where octet_length(encode(text)) >= 21)
            )
            select d.doc_id,
                   coalesce(least(64, x.nd), 0)::int as sig_size,
                   greatest(octet_length(encode(d.text)) - 20, 0)::bigint as nvisited
            from documents d
            left join (select doc_id, count(distinct s) as nd from sh group by 1) x
              on x.doc_id = d.doc_id
            order by d.doc_id
        """,
        "resketch_union_stats": _SHINGLES_CTE
        + """,
        pairs as (
          select d1.doc_id as id_a, d2.doc_id as id_b
          from documents d1 join documents d2 on d2.doc_id = d1.doc_id + 1
        ),
        uni as (
          select id_a, id_b, count(distinct s) as u from (
            select p.id_a, p.id_b, t.s from pairs p join sh t on t.doc_id = p.id_a
            union all
            select p.id_a, p.id_b, t.s from pairs p join sh t on t.doc_id = p.id_b
          ) group by 1, 2
        )
        select p.id_a, p.id_b, coalesce(u.u, 0)::int as union_size
        from pairs p left join uni u on u.id_a = p.id_a
        order by p.id_a
        """,
        "substring_dup_pairs": """
            with win as (
              select doc_id, substr(hx, 2*i - 1, 128) as s
              from (select doc_id, hex(encode(text)) as hx,
                           unnest(generate_series(1, octet_length(encode(text)) - 63)) as i
                    from documents where octet_length(encode(text)) >= 64)
            )
            select distinct a.doc_id as id_a, b.doc_id as id_b
            from win a join win b on a.s = b.s and a.doc_id < b.doc_id
            order by id_a, id_b
        """,
        "substring_dup_spans": """
            with win as (
              select doc_id, i - 1 as start0, substr(hx, 2*i - 1, 128) as s
              from (select doc_id, hex(encode(text)) as hx,
                           unnest(generate_series(1, octet_length(encode(text)) - 63)) as i
                    from documents where octet_length(encode(text)) >= 64)
            ),
            shared as (
              select distinct a.doc_id, a.start0
              from win a join win b on a.s = b.s and a.doc_id != b.doc_id
            ),
            iv as (select doc_id, start0 as s, start0 + 64 as e from shared),
            flagged as (
              select doc_id, s, e,
                     case when s > coalesce(max(e) over (
                            partition by doc_id order by s, e
                            rows between unbounded preceding and 1 preceding), -1)
                          then 1 else 0 end as ni
              from iv
            ),
            isl as (
              select doc_id, s, e,
                     sum(ni) over (partition by doc_id order by s, e
                                   rows between unbounded preceding and current row) as island
              from flagged
            )
            select doc_id, min(s)::bigint as span_start, max(e)::bigint as span_end
            from isl group by doc_id, island
            order by doc_id, span_start
        """,
        "substring_clean_stats": """
            with win as (
              select doc_id, i - 1 as start0, substr(hx, 2*i - 1, 128) as s
              from (select doc_id, hex(encode(text)) as hx,
                           unnest(generate_series(1, octet_length(encode(text)) - 63)) as i
                    from documents where octet_length(encode(text)) >= 64)
            ),
            shared as (
              select distinct a.doc_id, a.start0
              from win a join win b on a.s = b.s and a.doc_id != b.doc_id
            ),
            iv as (select doc_id, start0 as s, start0 + 64 as e from shared),
            flagged as (
              select doc_id, s, e,
                     case when s > coalesce(max(e) over (
                            partition by doc_id order by s, e
                            rows between unbounded preceding and 1 preceding), -1)
                          then 1 else 0 end as ni
              from iv
            ),
            isl as (
              select doc_id, s, e,
                     sum(ni) over (partition by doc_id order by s, e
                                   rows between unbounded preceding and current row) as island
              from flagged
            ),
            merged as (
              select doc_id, min(s) as s, max(e) as e
              from isl group by doc_id, island
            ),
            cut as (select doc_id, sum(e - s) as removed from merged group by doc_id)
            select d.doc_id, coalesce(c.removed, 0)::bigint as removed_bytes
            from documents d left join cut c on c.doc_id = d.doc_id
            order by d.doc_id
        """,
        "shingle_jaccard_exact": _SHINGLES_CTE
        + "select id_a, id_b, jaccard from jac where jaccard >= 0.8 order by id_a, id_b",
        # exact_jaccard is fully recomputed; est_ok asserts the k=256
        # estimator concentration bound holds for every pair (the Spark side
        # computes the real estimate and compares)
        "minhash_jaccard_estimate": _SHINGLES_CTE
        + """
        select id_a, id_b, jaccard as exact_jaccard, true as est_ok
        from jac where jaccard >= 0.8 order by id_a, id_b
        """,
        "similarity_estimators": _SHINGLES_CTE
        + """
        select j.id_a, j.id_b, j.jaccard,
               round(i.i::double / x.n, 6) as containment,
               round(2.0 * i.i / (x.n + y.n), 6) as dice
        from jac j
        join inter i on i.id_a = j.id_a and i.id_b = j.id_b
        join ds x on x.doc_id = j.id_a join ds y on y.doc_id = j.id_b
        where j.jaccard >= 0.8 order by j.id_a, j.id_b
        """,
        "shingle_multiplicity": """
            with sh as (
              select doc_id, substr(hx, 2*i - 1, 42) as s
              from (select doc_id, hex(encode(text)) as hx,
                           unnest(generate_series(1, octet_length(encode(text)) - 20)) as i
                    from documents where octet_length(encode(text)) >= 21)
            ), per as (
              select doc_id, count(distinct s) as ds, max(c) as mx, sum(c) as nv
              from (select doc_id, s, count(*) as c from sh group by 1, 2)
              group by 1
            )
            select d.doc_id,
                   coalesce(p.ds, 0)::int as distinct_shingles,
                   coalesce(p.mx, 0)::bigint as max_multiplicity,
                   coalesce(p.nv, 0)::bigint as nvisited
            from documents d left join per p on p.doc_id = d.doc_id
            order by d.doc_id
        """,
        "bray_curtis": _SHINGLES_CTE
        + """,
        cnt as (
          select doc_id, s, count(*) as c
          from sh group by 1, 2
        ), tot as (select doc_id, sum(c) as total from cnt group by 1),
        shared as (
          select a.doc_id as id_a, b.doc_id as id_b,
                 sum(least(a.c, b.c)) as cij
          from cnt a join cnt b on a.s = b.s and a.doc_id < b.doc_id
          group by 1, 2
        )
        select j.id_a, j.id_b,
               round(1.0 - 2.0 * coalesce(sh2.cij, 0) / (ta.total + tb.total), 6)
                 as bray_curtis
        from jac j
        left join shared sh2 on sh2.id_a = j.id_a and sh2.id_b = j.id_b
        join tot ta on ta.doc_id = j.id_a join tot tb on tb.doc_id = j.id_b
        where j.jaccard >= 0.8 order by j.id_a, j.id_b
        """,
        "dedup_exact": """
            select md5(text) as fp, count(*) as n_docs, min(doc_id) as rep_id
            from documents group by 1 order by fp
        """,
        "dedup_normalized": """
            select min(doc_id) as doc_id,
                   md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) as fp
            from documents group by 2 order by 1
        """,
        "word_ngram_jaccard": """
            with toks as (
              select doc_id, string_split_regex(lower(trim(text)), '\\s+') as w
              from documents
            ), grams as (
              select distinct doc_id,
                     array_to_string(list_slice(w, i, i + 2), ' ') as g
              from (select doc_id, w, unnest(generate_series(1, len(w) - 2)) as i
                    from toks where len(w) >= 3)
            ), capped as (
              select doc_id, g from grams
              where g in (select g from grams group by g having count(*) <= 1000)
            ), sizes as (select doc_id, count(*) as sz from capped group by 1),
            inter as (
              select a.doc_id as id_a, b.doc_id as id_b, count(*) as i
              from capped a join capped b on a.g = b.g and a.doc_id < b.doc_id
              group by 1, 2
            )
            select id_a, id_b,
                   round(i::double / (x.sz + y.sz - i), 6) as jaccard
            from inter join sizes x on x.doc_id = id_a join sizes y on y.doc_id = id_b
            where i::double / (x.sz + y.sz - i) >= 0.5
            order by id_a, id_b
        """,
        "pipeline_clusters": _SHINGLES_CTE
        + """,
        edges as (select id_a, id_b from jac where jaccard >= 0.8),
        sym as (select id_a u, id_b v from edges union select id_b, id_a from edges),
        closure as (
          with recursive walk(u, v) as (
            select u, v from sym
            union
            select w.u, s.v from walk w join sym s on w.v = s.u where w.u != s.v
          ) select * from walk
        ),
        labels as (
          select u as id, least(u, min(v)) as cid from closure group by u
        )
        select lpad(id::varchar, 8, '0') as url,
               lpad(cid::varchar, 8, '0') as cluster_id
        from labels order by url
        """,
        # cluster-cohesion audit: the same recursive closure, extended with
        # per-member hub Jaccard pulled from the all-pairs shingle CTE
        # (pairs absent from jac share no shingle -> Jaccard 0)
        "cluster_quality": _SHINGLES_CTE
        + """,
        edges as (select id_a, id_b from jac where jaccard >= 0.8),
        sym as (select id_a u, id_b v from edges union select id_b, id_a from edges),
        closure as (
          with recursive walk(u, v) as (
            select u, v from sym
            union
            select w.u, s.v from walk w join sym s on w.v = s.u where w.u != s.v
          ) select * from walk
        ),
        labels as (
          select u as id, least(u, min(v)) as cid from closure group by u
        ),
        hj as (
          select l.cid, l.id,
                 case when l.id = l.cid then 1.0
                      else coalesce(j.jaccard, 0.0) end as hjacc
          from labels l
          left join jac j on j.id_a = least(l.id, l.cid)
                         and j.id_b = greatest(l.id, l.cid)
        )
        select lpad(cid::varchar, 8, '0') as cluster_id,
               count(*)::bigint as n_members,
               round(min(hjacc), 6) as min_hub_jaccard,
               round(avg(hjacc), 6) as avg_hub_jaccard
        from hj group by cid order by cluster_id
        """,
        # flow variant: same operators/config as pipeline_clusters -> the
        # same recursive-closure oracle verbatim
        "pipeline_clusters_flow": _SHINGLES_CTE
        + """,
        edges as (select id_a, id_b from jac where jaccard >= 0.8),
        sym as (select id_a u, id_b v from edges union select id_b, id_a from edges),
        closure as (
          with recursive walk(u, v) as (
            select u, v from sym
            union
            select w.u, s.v from walk w join sym s on w.v = s.u where w.u != s.v
          ) select * from walk
        ),
        labels as (
          select u as id, least(u, min(v)) as cid from closure group by u
        )
        select lpad(id::varchar, 8, '0') as url,
               lpad(cid::varchar, 8, '0') as cluster_id
        from labels order by url
        """,
        "stop_grams": r"""
            with toks as (
              select doc_id, case when length(trim(text)) > 0
                     then string_split_regex(lower(trim(text)), '\s+')
                     else [] end as w
              from documents
            ),
            grams as (
              select doc_id, dg.g
              from toks,
                   unnest(list_distinct(list_transform(
                     generate_series(1, greatest(len(w) - 2, 0)),
                     i -> array_to_string(w[i:i+2], ' ')))) as dg(g)
            )
            select g, count(*) as df from grams
            group by g order by df desc, g asc limit 20
        """,
        "vocab_stats": r"""
            with wc as (
              select t.w, count(*) as c
              from (select unnest(case when length(trim(text)) > 0
                       then string_split_regex(lower(trim(text)), '\s+')
                       else [] end) as w from documents) t
              group by t.w
            )
            select coalesce(sum(c), 0)::bigint as total_words,
                   count(*) as vocab_size,
                   coalesce(sum(case when c = 1 then 1 else 0 end), 0)::bigint as hapax_words
            from wc
        """,
        "source_sketch_rollup": """
            with sh as (
              select doc_id, source, substr(hx, 2*i - 1, 42) as s
              from (select doc_id, source, hex(encode(text)) as hx,
                           unnest(generate_series(1, octet_length(encode(text)) - 20)) as i
                    from documents where octet_length(encode(text)) >= 21)
            )
            select source,
                   count(distinct s)::int as distinct_shingles,
                   count(*)::bigint as nvisited
            from sh group by source order by source
        """,
        # exact distinct count recomputed; est_ok asserts the KMV
        # concentration bound holds per source
        "kmv_distinct_count": """
            with sh as (
              select source, substr(hx, 2*i - 1, 42) as s
              from (select source, hex(encode(text)) as hx,
                           unnest(generate_series(1, octet_length(encode(text)) - 20)) as i
                    from documents where octet_length(encode(text)) >= 21)
            )
            select source,
                   count(distinct s)::int as distinct_shingles,
                   true as est_ok
            from sh group by source order by source
        """,
        "lang_id": f"""
            with toks as (
              select doc_id, string_split_regex(lower(trim(text)), '\\s+') as w
              from documents
            ), scores as ({lang_scores}),
            best as (
              select doc_id, lang, score,
                     row_number() over (partition by doc_id
                                        order by score desc, lang desc) as rn
              from scores
            )
            select b.doc_id,
                   case when b.score > 0 then b.lang else 'und' end as lang_pred
            from best b where rn = 1 order by doc_id
        """,
        "quality_stats": f"""
            with base as (
              select doc_id, text,
                     string_split_regex(lower(trim(text)), '\\s+') as w,
                     regexp_replace(text, '\\s+', '', 'g') as nonspace
              from documents
            ), m as (
              select doc_id,
                     case when length(trim(text)) = 0 then 0 else len(w) end as ws_tokens,
                     len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) as bpe_tokens,
                     case when length(nonspace) > 0
                          then length(regexp_replace(nonspace, '[A-Za-z0-9]', '', 'g'))::double / length(nonspace)
                          else 0.0 end as punct_ratio,
                     case when len(w) > 0
                          then len(list_filter(w, x -> list_contains({_STOPWORDS_SQL}, x)))::double / len(w)
                          else 0.0 end as stop_ratio,
                     length(text) as n
              from base
            )
            select doc_id, ws_tokens::int as ws_tokens, bpe_tokens::int as bpe_tokens,
                   round(punct_ratio, 6) as punct_ratio,
                   round(stop_ratio, 6) as stopword_ratio,
                   round((case when n between 100 and 20000 then 0.4 else 0 end)::double
                       + (case when punct_ratio < 0.2 then 0.3 else 0 end)::double
                       + (case when stop_ratio > 0.01 then 0.3 else 0 end)::double, 6) as quality
            from m order by doc_id
        """,
        "fingerprint": """
            select doc_id,
                   md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) as fp
            from documents order by doc_id
        """,
        "token_stats_by_lang": """
            select lang, count(*) as n_docs,
                   round(avg(case when length(trim(text)) = 0 then 0
                             else len(string_split_regex(trim(text), '\\s+')) end), 6) as avg_tokens,
                   round(avg(n_chars), 6) as avg_chars,
                   max(n_chars) as max_chars
            from documents group by lang order by lang
        """,
        "topk_docs_per_lang": """
            select lang, rank, doc_id, n_chars from (
              select lang, doc_id, n_chars,
                     row_number() over (partition by lang
                                        order by n_chars desc, doc_id asc) as rank
              from documents
            ) where rank <= 3 order by lang, rank
        """,
        "embedding_near_pairs": """
            select a.vec_id as id_a, b.vec_id as id_b,
                   round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) as cos_sim
            from embeddings a join embeddings b on a.vec_id < b.vec_id
            where list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4
            order by id_a, id_b
        """,
        # the dense (2-bit x 64-table) LSH index provably recovers every
        # cos>=0.4 pair (per-pair miss < 1e-10, seed-deterministic), and the
        # exact verify makes precision 1 — so the exact pair SQL is a full
        # value oracle of the threshold-pair LSH machinery
        "embedding_near_pairs_lsh": """
            select a.vec_id as id_a, b.vec_id as id_b,
                   round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) as cos_sim
            from embeddings a join embeddings b on a.vec_id < b.vec_id
            where list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4
            order by id_a, id_b
        """,
        "embedding_dup_clusters": """
            with edges as (
              select a.vec_id as id_a, b.vec_id as id_b
              from embeddings a join embeddings b on a.vec_id < b.vec_id
              where list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4
            ),
            sym as (select id_a u, id_b v from edges union select id_b, id_a from edges),
            closure as (
              with recursive walk(u, v) as (
                select u, v from sym
                union
                select w.u, s.v from walk w join sym s on w.v = s.u where w.u != s.v
              ) select * from walk
            )
            select u::bigint as vec_id, least(u, min(v))::bigint as cluster_id
            from closure group by u order by vec_id
        """,
        "ann_topk": """
            select query_id, neighbor_id, cos_sim, rank from (
              select q.vec_id as query_id, v.vec_id as neighbor_id,
                     round(list_cosine_similarity(q.embedding::DOUBLE[], v.embedding::DOUBLE[]), 6) as cos_sim,
                     row_number() over (
                       partition by q.vec_id
                       order by round(list_cosine_similarity(q.embedding::DOUBLE[], v.embedding::DOUBLE[]), 6) desc,
                                v.vec_id asc) as rank
              from embeddings q join embeddings v on q.vec_id != v.vec_id
              where q.vec_id < 10
            ) where rank <= 5 order by query_id, rank
        """,
        # exhaustively probed IVF (n_probe = n_cells) must equal exact top-k:
        # the ann_topk oracle verbatim
        "ann_ivf": """
            select query_id, neighbor_id, cos_sim, rank from (
              select q.vec_id as query_id, v.vec_id as neighbor_id,
                     round(list_cosine_similarity(q.embedding::DOUBLE[], v.embedding::DOUBLE[]), 6) as cos_sim,
                     row_number() over (
                       partition by q.vec_id
                       order by round(list_cosine_similarity(q.embedding::DOUBLE[], v.embedding::DOUBLE[]), 6) desc,
                                v.vec_id asc) as rank
              from embeddings q join embeddings v on q.vec_id != v.vec_id
              where q.vec_id < 10
            ) where rank <= 5 order by query_id, rank
        """,
        # f0 = fraction of payload bytes in 0x00-0x0F; in UTF-8 those bytes
        # are exactly the code points U+0000-U+000F (continuation/multibyte
        # bytes are >= 0x80), so a char-class count reproduces the byte count
        "multimodal_features": r"""
            select cast(doc_id as varchar) as url,
                   octet_length(encode(text)) as payload_bytes,
                   case when octet_length(encode(text)) > 0
                        then round(len(regexp_extract_all(text, '[\x00-\x0f]'))::double
                                   / octet_length(encode(text)), 6)
                        else 0.0 end as f0,
                   'html' as modality
            from documents order by url
        """,
        "passage_dedup_stats": r"""
            with toks as (
              select doc_id, case when length(trim(text)) > 0
                     then string_split_regex(lower(trim(text)), '\s+')
                     else [] end as w
              from documents
            ),
            p as (
              select doc_id,
                     md5(array_to_string(w[i*16+1:i*16+16], ' ')) as ph
              from toks,
                   unnest(generate_series(0, cast(ceil(len(w)/16.0) as int) - 1)) as t(i)
              where len(w) > 0
            ),
            counts as (select ph, count(*) as cnt from p group by 1),
            per_doc as (
              select p.doc_id, count(*) as n_passages,
                     sum(case when cnt > 1 then 1 else 0 end) as n_dup_passages
              from p join counts using (ph) group by 1
            )
            select d.doc_id,
                   coalesce(n_passages, 0)::bigint as n_passages,
                   coalesce(n_dup_passages, 0)::bigint as n_dup_passages,
                   case when coalesce(n_passages, 0) > 0
                        then round(n_dup_passages::double / n_passages::double, 6)
                        else 0.0 end as dup_frac
            from documents d left join per_doc using (doc_id)
            order by d.doc_id
        """,
        "decontamination": r"""
            with toks as (
              select doc_id, case when length(trim(text)) > 0
                     then string_split_regex(lower(trim(text)), '\s+')
                     else [] end as w
              from documents
            ),
            grams as (
              select doc_id, dg.g
              from toks,
                   unnest(list_distinct(list_transform(
                     generate_series(1, greatest(len(w) - 3, 0)),
                     i -> array_to_string(w[i:i+3], ' ')))) as dg(g)
            ),
            bench as (select distinct g from grams where doc_id % 10 = 0),
            hits as (
              select g2.doc_id, count(*) as n_overlap
              from grams g2 join bench using (g)
              where g2.doc_id % 10 <> 0 group by 1
            )
            select d.doc_id,
                   coalesce(n_overlap, 0)::bigint as n_overlap,
                   (coalesce(n_overlap, 0) > 0)::int as contaminated
            from documents d left join hits using (doc_id)
            where d.doc_id % 10 <> 0
            order by d.doc_id
        """,
        "decontamination_bloom": r"""
            with toks as (
              select doc_id, case when length(trim(text)) > 0
                     then string_split_regex(lower(trim(text)), '\s+')
                     else [] end as w
              from documents
            ),
            grams as (
              select doc_id, dg.g
              from toks,
                   unnest(list_distinct(list_transform(
                     generate_series(1, greatest(len(w) - 3, 0)),
                     i -> array_to_string(w[i:i+3], ' ')))) as dg(g)
            ),
            bench as (select distinct g from grams where doc_id % 10 = 0),
            hits as (
              select g2.doc_id, count(*) as n_overlap
              from grams g2 join bench using (g)
              where g2.doc_id % 10 <> 0 group by 1
            )
            select d.doc_id,
                   (coalesce(n_overlap, 0) > 0)::int as contaminated_exact,
                   true as bloom_no_false_negative
            from documents d left join hits using (doc_id)
            where d.doc_id % 10 <> 0
            order by d.doc_id
        """,
        "repetition_stats": r"""
            with toks as (
              select doc_id, case when length(trim(text)) > 0
                     then string_split_regex(lower(trim(text)), '\s+')
                     else [] end as w
              from documents
            ),
            wc as (
              select doc_id, sum(c) as n_words, count(*) as n_distinct,
                     max(c) as top_word
              from (select doc_id, t.t, count(*) as c
                    from toks, unnest(w) as t(t) group by 1, 2)
              group by 1
            ),
            gc as (
              select doc_id, sum(c) as n_grams2, max(c) as top_gram2
              from (select doc_id, g.g, count(*) as c
                    from toks,
                         unnest(list_transform(
                           generate_series(1, greatest(len(w) - 1, 0)),
                           i -> array_to_string(w[i:i+1], ' '))) as g(g)
                    group by 1, 2)
              group by 1
            )
            select d.doc_id,
                   coalesce(n_words, 0)::bigint as n_words,
                   case when coalesce(n_words, 0) > 0
                        then round(n_distinct::double / n_words::double, 6)
                        else 0.0 end as distinct_word_ratio,
                   case when coalesce(n_words, 0) > 0
                        then round(top_word::double / n_words::double, 6)
                        else 0.0 end as top_word_frac,
                   case when coalesce(n_grams2, 0) > 0
                        then round(top_gram2::double / n_grams2::double, 6)
                        else 0.0 end as top_2gram_frac
            from documents d
            left join wc using (doc_id) left join gc using (doc_id)
            order by d.doc_id
        """,
        "hash_sample_stats": """
            select source,
                   count(*) as n_docs,
                   sum((substr(md5(text), 1, 4) < '1999')::int)::bigint as n_sampled
            from documents group by source order by source
        """,
        # exact-integer PageRank: the same bigint recurrence the operator
        # runs, unrolled as chained CTEs (one d/c/r triple per iteration);
        # every op is floor division on integers so the replay is
        # bit-identical, not merely close
        "pagerank_scores": _pagerank_oracle_sql(n_iter=5),
        "crawl_budget": _crawl_budget_oracle_sql(n_iter=5, total_budget=1000000),
        # link-graph queries: the oracles derive the expected edges from
        # the _link_pages construction ARITHMETIC (doc i links to 3i+1
        # mod N; self/relative links excluded), independently of the
        # regexp extraction path they verify
        "link_graph_stats": """
            with par as (select count(*)::bigint as cnt from documents),
            e as (
              select distinct src, dst from (
                select doc_id as src,
                       (doc_id * 3 + 1) % (select cnt from par) as dst
                from documents)
              where src <> dst
            ),
            od as (select src as id, count(*)::bigint as c from e group by 1),
            ind as (select dst as id, count(*)::bigint as c from e group by 1)
            select 'http://doc' || d.doc_id || '/' as id,
                   coalesce(od.c, 0)::bigint as out_deg,
                   coalesce(ind.c, 0)::bigint as in_deg
            from documents d
            left join od on od.id = d.doc_id
            left join ind on ind.id = d.doc_id
            order by id
        """,
        "anchor_texts": """
            with par as (select count(*)::bigint as cnt from documents),
            l as (
              select doc_id, source,
                     (doc_id * 3 + 1) % (select cnt from par) as d
              from documents
              where (doc_id * 3 + 1) % (select cnt from par) <> doc_id
            )
            select src, dst, anchor from (
              select 'http://doc' || doc_id || '/' as src,
                     'http://doc' || d || '/' as dst,
                     source || '-' || doc_id as anchor
              from l
              union all
              select 'http://doc' || doc_id || '/',
                     'http://doc' || d || '/', ''
              from l
            )
            order by src, dst, anchor
        """,
        # line dedup: first-occurrence rule replayed with a window (the
        # operator uses a skew-proof min(struct) groupBy — same result)
        "line_dedup_stats": """
            with d2 as (
              select doc_id,
                     substr(text, 1, 40) || chr(10) || '--' || chr(10) ||
                     case when doc_id % 3 = 0
                          then 'subscribe to our newsletter today please'
                          else substr(text, 41, 40) end as text
              from documents
            ),
            lines as (
              select doc_id, i - 1 as pos, l[i] as line
              from (select doc_id, string_split(text, chr(10)) as l,
                           unnest(generate_series(
                             1, len(string_split(text, chr(10))))) as i
                    from d2)
            ),
            kept as (
              select doc_id, pos, line from lines where length(line) < 10
              union all
              select doc_id, pos, line from (
                select doc_id, pos, line,
                       row_number() over
                         (partition by line order by doc_id, pos) as rn
                from lines where length(line) >= 10)
              where rn = 1
            ),
            reb as (
              select doc_id, count(*)::bigint as n_kept,
                     string_agg(line, chr(10) order by pos) as clean_text
              from kept group by doc_id
            ),
            tot as (select doc_id, count(*)::bigint as n_lines
                    from lines group by doc_id)
            select t.doc_id, t.n_lines,
                   coalesce(r.n_kept, 0)::bigint as n_kept,
                   md5(coalesce(r.clean_text, '')) as clean_md5
            from tot t left join reb r on r.doc_id = t.doc_id
            order by t.doc_id
        """,
        # CDX index: every field enumerated from the construction
        # arithmetic — SURT host reversal, dt partition prefix, JSON
        # values — no parsing anywhere in the oracle
        "cdx_index": """
            with r as (
              select 'com,example,' || source || ',www)/page/' || doc_id
                       as surt,
                     '2026021' || (doc_id % 10) || '1030'
                       || lpad((doc_id % 60)::varchar, 2, '0') as ts_raw,
                     'http://www.' || source || '.example.com/page/'
                       || doc_id as url,
                     200::int as status,
                     'text/html' as mime,
                     'D' || doc_id as digest,
                     (n_chars + 100)::bigint as length,
                     'crawl-' || source || '.warc.gz' as warc_filename,
                     (doc_id * 1024)::bigint as warc_offset
              from documents
            )
            select surt, ts_raw, substr(ts_raw, 1, 8) as dt, url, status,
                   mime, digest, length, warc_filename, warc_offset
            from r order by surt, ts_raw
        """,
        # hashed-token linear classifier: the oracle recomputes each
        # token's weight FROM its bucket id ((b*2654435761)%1001-500)
        # rather than reading the Spark-side literal table — verifying
        # the md5-bucketing + lookup mechanics independently
        "quality_classifier": r"""
            with toks as (
              select t.doc_id, t.w
              from (select doc_id,
                           unnest(case when length(trim(text)) > 0
                              then string_split_regex(lower(trim(text)), '\s+')
                              else [] end) as w
                    from documents) t
            ),
            sc as (
              select doc_id,
                     ((('0x' || substr(md5(w), 1, 8))::bigint % 256)
                       * 2654435761) % 1001 - 500 as wt
              from toks
            ),
            agg as (select doc_id, count(*)::bigint as n_tokens,
                           sum(wt)::bigint as score
                    from sc group by doc_id)
            select d.doc_id,
                   coalesce(a.n_tokens, 0)::bigint as n_tokens,
                   coalesce(a.score, 0)::bigint as score
            from documents d left join agg a on a.doc_id = d.doc_id
            order by d.doc_id
        """,
        # robots parsing: expected rows enumerated straight from the
        # body-construction layout (line numbers are the construction's),
        # independent of the section-scan parsing path
        "robots_rules": """
            with s as (select distinct source from documents),
            r as (
              select source || '.example.com' as host, '*' as agent,
                     'disallow' as directive,
                     '/private-' || source as value, 1 as rule_pos from s
              union all
              select source || '.example.com', '*', 'allow',
                     '/public', 2 from s
              union all
              select source || '.example.com', a.agent, 'crawl-delay',
                     '3', 6
              from s, (values ('trainbot'), ('fetchbot')) a(agent)
              union all
              select source || '.example.com', a.agent, 'disallow',
                     '/no-' || source, 7
              from s, (values ('trainbot'), ('fetchbot')) a(agent)
            )
            select host, agent, directive, value, rule_pos::int as rule_pos
            from r order by host, rule_pos, agent
        """,
        # robots frontier decision: trainbot's exact section has ONE
        # disallow ('/no-'||source) and crawl-delay 3, so the whole
        # decision replays as arithmetic — no parsing in the oracle
        "robots_frontier": """
            select doc_id,
                   source || '.example.com' as host,
                   case when doc_id % 3 = 0 then '/no-' || source || '/page'
                        when doc_id % 3 = 1 then '/public/item'
                        else '/private-' || source || '/x' end as path,
                   (doc_id % 3 <> 0)::int as allowed,
                   '3' as crawl_delay
            from documents order by doc_id
        """,
        # gpt2 pre-tokenizer: RE2 replays the same lookahead-free regex;
        # seg_md5 hashes the exact segment sequence (chr(31) separator),
        # planted unicode built with chr() so the bytes are pinned
        "bpe_pretoken_stats": r"""
            with planted as (
              select doc_id,
                     text || ' it''s 2026! na' || chr(239) || 've caf'
                          || chr(233) || ' ' || chr(65298) || chr(65299) as t
              from documents
            ),
            seg as (
              select doc_id,
                     regexp_extract_all(t,
                       '''(?:[sdmt]|ll|ve|re)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+'
                     ) as segs
              from planted
            )
            select doc_id,
                   len(segs)::bigint as n_pretokens,
                   len(list_filter(segs,
                       s -> regexp_matches(s, '^ ?\p{L}+$')))::bigint
                     as n_word_runs,
                   md5(array_to_string(segs, chr(31))) as seg_md5
            from seg order by doc_id
        """,
        "bpe_train": _bpe_train_oracle(8),
        "bpe_token_count": _bpe_token_count_oracle(8),
        # the whole sketch replays in SQL: same salted-md5 buckets,
        # same min-of-rows estimate
        "heavy_hitters_cms": r"""
            with toks as (
              select unnest(regexp_extract_all(lower(text), '[a-z]+')) as t
              from documents
            ),
            exact as (
              select t, count(*)::bigint as exact_count from toks group by t
            ),
            counters as (
              select u.i as row_i,
                     (('0x' || substr(md5(t || chr(31) || u.i::varchar), 1, 8))::bigint
                        % 1024) as bucket,
                     count(*)::bigint as cnt
              from toks, unnest([0, 1, 2, 3]) as u(i)
              group by 1, 2
            ),
            probes as (
              select e.t, u.i as row_i,
                     (('0x' || substr(md5(e.t || chr(31) || u.i::varchar), 1, 8))::bigint
                        % 1024) as bucket
              from exact e, unnest([0, 1, 2, 3]) as u(i)
            ),
            est as (
              select p.t, min(coalesce(c.cnt, 0))::bigint as est_count
              from probes p
              left join counters c using (row_i, bucket)
              group by p.t
            )
            select e.t as token, e.exact_count, est.est_count,
                   est.est_count >= e.exact_count as no_underestimate
            from exact e join est using (t)
            order by token
        """,
        # full HLL replay: same split-md5 registers, same all-integer
        # scaled estimate (24945719810981888 = alpha_e6(64)*64^2*2^33/1000)
        "hll_distinct": r"""
            with w as (
              select regexp_extract_all(lower(text), '[a-z]+') as ws
              from documents
            ),
            g as (
              select array_to_string(ws[i:i + 3], ' ') as gram
              from w, unnest(generate_series(1, greatest(len(ws) - 3, 0)))
                     as u(i)
            ),
            exact as (
              select count(distinct gram)::bigint as n_exact from g
            ),
            r as (
              select ('0x' || substr(md5(gram), 1, 8))::bigint % 64 as bucket,
                     max(case
                           when ('0x' || substr(md5(gram), 9, 8))::bigint = 0
                             then 33
                           else 33 - length(bin(
                             ('0x' || substr(md5(gram), 9, 8))::bigint))
                         end) as m_j
              from g group by 1
            ),
            s as (
              select coalesce(sum(cast(pow(2, 33 - m_j) as bigint)), 0)::bigint
                       as s_present,
                     count(*)::bigint as n_present
              from r
            ),
            e as (
              select 64 as m,
                     (s_present + (64 - n_present) * 8589934592)::bigint
                       as s_sum,
                     n_present
              from s
            )
            select e.m, exact.n_exact, e.s_sum, e.n_present,
                   (24945719810981888 // e.s_sum)::bigint as est_milli,
                   abs((24945719810981888 // e.s_sum)
                       - 1000 * exact.n_exact) * 10
                     <= 4000 * exact.n_exact as rel_err_ok
            from e, exact
        """,
        # concat-then-chunk packing: window cumsum replayed verbatim
        "sequence_packing": r"""
            with toks as (
              select source, doc_id,
                     (case when length(trim(text)) = 0 then 0
                           else len(string_split_regex(trim(text), '\s+'))
                      end)::bigint as nt
              from documents
            ),
            laid as (
              select source, doc_id, nt,
                     (sum(nt) over (partition by source order by doc_id)
                      - nt) // 1000 as pack
              from toks
            )
            select source, pack::bigint as pack_id,
                   count(*)::bigint as n_docs,
                   sum(nt)::bigint as n_tokens,
                   min(doc_id) as first_id,
                   max(doc_id) as last_id
            from laid group by 1, 2 order by source, pack_id
        """,
        # URL blocklist: flags re-derived from the (source, doc_id)
        # construction arithmetic, not by re-parsing the url
        "url_filter": """
            with u as (
              select doc_id,
                     'http://'
                       || case when doc_id % 5 = 0 then 'ads.' else '' end
                       || source || '.example.com/'
                       || case when doc_id % 4 = 0
                               then 'promo/casino-bonus?x=1'
                               else 'articles/' || doc_id end as url,
                     case when doc_id % 5 = 0 then 'ads.' else '' end
                       || source || '.example.com' as host,
                     (source in ('src3', 'src7'))::int as host_blocked,
                     (doc_id % 4 = 0)::int as path_blocked
              from documents
            )
            select doc_id, url, host_blocked, path_blocked,
                   greatest(host_blocked, path_blocked)::int as blocked
            from u order by doc_id
        """,
        # NFC normalization: planted decomposed combining marks compose,
        # the fi ligature survives (canonical-only); chr() builds the
        # decomposed plant so no editor can silently re-compose the SQL
        "unicode_normalize_stats": """
            with planted as (
              select doc_id,
                     text || ' cafe' || chr(769) || ' ' || chr(64257)
                          || 'lm A' || chr(778) as t
              from documents
            ),
            n as (select doc_id, t, nfc_normalize(t) as nt from planted)
            select doc_id,
                   (nt <> t)::int as changed,
                   length(t)::bigint as len_before,
                   length(nt)::bigint as len_after,
                   md5(nt) as norm_md5
            from n order by doc_id
        """,
        # exact-integer tf-idf analog: score = (tf * 1e6) // df on
        # bigints, so ranking ties replay identically; tokenization
        # byte-mirrors words_array (vocab_stats pattern)
        "source_keywords": r"""
            with toks as (
              select t.source, t.w
              from (select source,
                           unnest(case when length(trim(text)) > 0
                              then string_split_regex(lower(trim(text)), '\s+')
                              else [] end) as w
                    from documents) t
            ),
            tf as (select source, w, count(*)::bigint as tf
                   from toks group by 1, 2),
            dfq as (select w, count(distinct source)::bigint as df
                    from toks group by 1),
            scored as (
              select tf.source, tf.w, tf.tf, dfq.df,
                     ((tf.tf * 1000000) // dfq.df)::bigint as score
              from tf join dfq using (w)
            ),
            ranked as (
              select *, row_number() over
                (partition by source order by score desc, w asc) as rank
              from scored
            )
            select source, rank::bigint as rank, w, tf, df, score
            from ranked where rank <= 5
            order by source, rank
        """,
        # mixture sampling: the rate arithmetic (double division of two
        # integers) and the md5-fraction draw replay exactly; hugeint sums
        # cast ::bigint for pandas dtype parity
        "mixture_sample": r"""
            with toks as (
              select source, doc_id,
                     (case when length(trim(text)) = 0 then 0
                           else len(string_split_regex(trim(text), '\s+')) end)::bigint as nt
              from documents
            ), tot as (select source, sum(nt)::bigint as total from toks group by 1),
            flagged as (
              select t.source, t.nt, o.total,
                     least(1.0, 1200.0 / o.total) as rate,
                     (('0x' || substr(md5(t.doc_id::varchar), 1, 8))::bigint
                        / 4294967296.0 < least(1.0, 1200.0 / o.total))::int as k
              from toks t join tot o on o.source = t.source
            )
            select source,
                   count(*)::bigint as n_docs,
                   max(total)::bigint as n_tokens,
                   round(max(rate), 6) as rate,
                   sum(k)::bigint as kept_docs,
                   sum(nt * k)::bigint as kept_tokens
            from flagged group by source order by source
        """,
        # dedup deliverable: the pipeline_clusters recursive closure plus a
        # representative election (longest text, id tiebreak — lpad keeps
        # int order == string order for the url form)
        "dedup_final": _SHINGLES_CTE
        + """,
        edges as (select id_a, id_b from jac where jaccard >= 0.8),
        sym as (select id_a u, id_b v from edges union select id_b, id_a from edges),
        closure as (
          with recursive walk(u, v) as (
            select u, v from sym
            union
            select w.u, s.v from walk w join sym s on w.v = s.u where w.u != s.v
          ) select * from walk
        ),
        labels as (
          select u as id, least(u, min(v)) as cid from closure group by u
        ),
        scored as (
          select l.id, l.cid, length(d.text) as sc
          from labels l join documents d on d.doc_id = l.id
        ),
        reps as (
          select cid, id as rep_id from (
            select cid, id,
                   row_number() over (partition by cid
                                      order by sc desc, id asc) as rn
            from scored) where rn = 1
        )
        select lpad(d.doc_id::varchar, 8, '0') as url,
               lpad(s.cid::varchar, 8, '0') as cluster_id,
               lpad(r.rep_id::varchar, 8, '0') as rep_url,
               coalesce(d.doc_id = r.rep_id, true) as kept
        from documents d
        left join labels s on s.id = d.doc_id
        left join reps r on r.cid = s.cid
        order by url
        """,
        "curation_funnel": r"""
            with train as (select doc_id, text from documents where doc_id % 10 <> 0),
            bench as (select doc_id, text from documents where doc_id % 10 = 0),
            q as (
              select doc_id, text,
                (case when length(text) between 100 and 20000 then 0.4 else 0 end)
                + (case when (case when length(regexp_replace(text, '\s+', '', 'g')) > 0
                     then len(regexp_extract_all(regexp_replace(text, '\s+', '', 'g'), '[^A-Za-z0-9]'))::double
                          / length(regexp_replace(text, '\s+', '', 'g')) else 0 end) < 0.2 then 0.3 else 0 end)
                + (case when (case when length(trim(text)) > 0
                     then len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                              x -> list_contains(['the','and','of','to','is','in','that','for','with','a','an','it','on','as','at','by'], x)))::double
                          / len(string_split_regex(lower(trim(text)), '\s+')) else 0 end) > 0.01 then 0.3 else 0 end)
                as quality
              from train
            ),
            s1 as (select doc_id, text from q where quality >= 0.4),
            s2 as (select doc_id, text from (
              select doc_id, text, row_number() over (partition by md5(text) order by doc_id) as rn
              from s1) where rn = 1),
            toks as (select doc_id, case when length(trim(text)) > 0
                      then string_split_regex(lower(trim(text)), '\s+') else [] end as w from s2),
            p as (select doc_id, md5(array_to_string(w[i*16+1:i*16+16], ' ')) as ph
                  from toks, unnest(generate_series(0, cast(ceil(len(w)/16.0) as int) - 1)) as t(i)
                  where len(w) > 0),
            cnts as (select ph, count(*) as cnt from p group by 1),
            pstat as (select p.doc_id, count(*) as n_pass,
                             sum(case when cnt > 1 then 1 else 0 end) as n_dup
                      from p join cnts using (ph) group by 1),
            s3 as (select s2.doc_id, s2.text from s2 left join pstat using (doc_id)
                   where coalesce(n_dup, 0)::double / greatest(coalesce(n_pass, 1), 1) <= 0.5),
            t3 as (select doc_id, case when length(trim(text)) > 0
                      then string_split_regex(lower(trim(text)), '\s+') else [] end as w from s3),
            tb as (select case when length(trim(text)) > 0
                      then string_split_regex(lower(trim(text)), '\s+') else [] end as w from bench),
            g3 as (select doc_id, dg.g from t3,
                   unnest(list_distinct(list_transform(generate_series(1, greatest(len(w)-3, 0)),
                     i -> array_to_string(w[i:i+3], ' ')))) as dg(g)),
            gb as (select distinct bg.g from tb,
                   unnest(list_transform(generate_series(1, greatest(len(w)-3, 0)),
                     i -> array_to_string(w[i:i+3], ' '))) as bg(g)),
            dirty as (select distinct doc_id from g3 join gb using (g)),
            s4 as (select s3.doc_id, s3.text from s3 anti join dirty using (doc_id)),
            f as (
              select 0 as stage_idx, 'input' as stage, count(*) as n_docs,
                     coalesce(sum(case when length(trim(text)) = 0 then 0
                       else len(string_split_regex(trim(text), '\s+')) end), 0) as n_words from train
              union all select 1, 'quality_filter', count(*),
                     coalesce(sum(case when length(trim(text)) = 0 then 0
                       else len(string_split_regex(trim(text), '\s+')) end), 0) from s1
              union all select 2, 'exact_dedup', count(*),
                     coalesce(sum(case when length(trim(text)) = 0 then 0
                       else len(string_split_regex(trim(text), '\s+')) end), 0) from s2
              union all select 3, 'passage_dedup', count(*),
                     coalesce(sum(case when length(trim(text)) = 0 then 0
                       else len(string_split_regex(trim(text), '\s+')) end), 0) from s3
              union all select 4, 'decontamination', count(*),
                     coalesce(sum(case when length(trim(text)) = 0 then 0
                       else len(string_split_regex(trim(text), '\s+')) end), 0) from s4
            )
            select stage_idx, stage, n_docs, n_words::bigint as n_words
            from f order by stage_idx
        """,
        "curation_funnel_gated": r"""
            with train0 as (select doc_id, source, text from documents where doc_id % 10 <> 0),
            bench as (select doc_id, text from documents where doc_id % 10 = 0),
            -- gate flags re-derived from the url-construction arithmetic:
            -- host blocked iff source in (src3, src7) (dot-boundary suffix
            -- also catches the ads. variants); casino path iff doc_id%4=0;
            -- robots (trainbot) disallows '/no-<source>' on non-ads hosts,
            -- and ads. hosts have no rules table entry -> allowed
            s_uf as (select doc_id, text from train0
                     where source not in ('src3', 'src7') and doc_id % 4 <> 0),
            s_rb as (select doc_id, text from s_uf
                     where not (doc_id % 7 = 0 and doc_id % 5 <> 0)),
            q as (
              select doc_id, text,
                (case when length(text) between 100 and 20000 then 0.4 else 0 end)
                + (case when (case when length(regexp_replace(text, '\s+', '', 'g')) > 0
                     then len(regexp_extract_all(regexp_replace(text, '\s+', '', 'g'), '[^A-Za-z0-9]'))::double
                          / length(regexp_replace(text, '\s+', '', 'g')) else 0 end) < 0.2 then 0.3 else 0 end)
                + (case when (case when length(trim(text)) > 0
                     then len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                              x -> list_contains(['the','and','of','to','is','in','that','for','with','a','an','it','on','as','at','by'], x)))::double
                          / len(string_split_regex(lower(trim(text)), '\s+')) else 0 end) > 0.01 then 0.3 else 0 end)
                as quality
              from s_rb
            ),
            s1 as (select doc_id, text from q where quality >= 0.4),
            -- hashed-n-gram classifier replay: same md5-bucket + derived
            -- integer weight recipe the quality_classifier oracle pins
            ctk as (select t.doc_id, t.w
                    from (select doc_id,
                                 unnest(case when length(trim(text)) > 0
                                    then string_split_regex(lower(trim(text)), '\s+')
                                    else [] end) as w
                          from s1) t),
            csc as (select doc_id,
                           sum(((('0x' || substr(md5(w), 1, 8))::bigint % 256)
                             * 2654435761) % 1001 - 500)::bigint as score
                    from ctk group by doc_id),
            s_qc as (select s1.doc_id, s1.text from s1 left join csc using (doc_id)
                     where coalesce(score, 0) >= 0),
            s2 as (select doc_id, text from (
              select doc_id, text, row_number() over (partition by md5(text) order by doc_id) as rn
              from s_qc) where rn = 1),
            toks as (select doc_id, case when length(trim(text)) > 0
                      then string_split_regex(lower(trim(text)), '\s+') else [] end as w from s2),
            p as (select doc_id, md5(array_to_string(w[i*16+1:i*16+16], ' ')) as ph
                  from toks, unnest(generate_series(0, cast(ceil(len(w)/16.0) as int) - 1)) as t(i)
                  where len(w) > 0),
            cnts as (select ph, count(*) as cnt from p group by 1),
            pstat as (select p.doc_id, count(*) as n_pass,
                             sum(case when cnt > 1 then 1 else 0 end) as n_dup
                      from p join cnts using (ph) group by 1),
            s3 as (select s2.doc_id, s2.text from s2 left join pstat using (doc_id)
                   where coalesce(n_dup, 0)::double / greatest(coalesce(n_pass, 1), 1) <= 0.5),
            t3 as (select doc_id, case when length(trim(text)) > 0
                      then string_split_regex(lower(trim(text)), '\s+') else [] end as w from s3),
            tb as (select case when length(trim(text)) > 0
                      then string_split_regex(lower(trim(text)), '\s+') else [] end as w from bench),
            g3 as (select doc_id, dg.g from t3,
                   unnest(list_distinct(list_transform(generate_series(1, greatest(len(w)-3, 0)),
                     i -> array_to_string(w[i:i+3], ' ')))) as dg(g)),
            gb as (select distinct bg.g from tb,
                   unnest(list_transform(generate_series(1, greatest(len(w)-3, 0)),
                     i -> array_to_string(w[i:i+3], ' '))) as bg(g)),
            dirty as (select distinct doc_id from g3 join gb using (g)),
            s4 as (select s3.doc_id, s3.text from s3 anti join dirty using (doc_id)),
            f as (
              select 0 as stage_idx, 'input' as stage, count(*) as n_docs,
                     coalesce(sum(case when length(trim(text)) = 0 then 0
                       else len(string_split_regex(trim(text), '\s+')) end), 0) as n_words from train0
              union all select 1, 'url_filter', count(*),
                     coalesce(sum(case when length(trim(text)) = 0 then 0
                       else len(string_split_regex(trim(text), '\s+')) end), 0) from s_uf
              union all select 2, 'robots', count(*),
                     coalesce(sum(case when length(trim(text)) = 0 then 0
                       else len(string_split_regex(trim(text), '\s+')) end), 0) from s_rb
              union all select 3, 'quality_filter', count(*),
                     coalesce(sum(case when length(trim(text)) = 0 then 0
                       else len(string_split_regex(trim(text), '\s+')) end), 0) from s1
              union all select 4, 'quality_classifier', count(*),
                     coalesce(sum(case when length(trim(text)) = 0 then 0
                       else len(string_split_regex(trim(text), '\s+')) end), 0) from s_qc
              union all select 5, 'exact_dedup', count(*),
                     coalesce(sum(case when length(trim(text)) = 0 then 0
                       else len(string_split_regex(trim(text), '\s+')) end), 0) from s2
              union all select 6, 'passage_dedup', count(*),
                     coalesce(sum(case when length(trim(text)) = 0 then 0
                       else len(string_split_regex(trim(text), '\s+')) end), 0) from s3
              union all select 7, 'decontamination', count(*),
                     coalesce(sum(case when length(trim(text)) = 0 then 0
                       else len(string_split_regex(trim(text), '\s+')) end), 0) from s4
            )
            select stage_idx, stage, n_docs, n_words::bigint as n_words
            from f order by stage_idx
        """,
        # funnel with the CCNet-style LM stage: the LM CTEs are the
        # lm_perplexity oracle's, scored over the quality survivors
        "curation_funnel_lm": r"""
            with train as (select doc_id, text from documents where doc_id % 10 <> 0),
            bench as (select doc_id, text from documents where doc_id % 10 = 0),
            q as (
              select doc_id, text,
                (case when length(text) between 100 and 20000 then 0.4 else 0 end)
                + (case when (case when length(regexp_replace(text, '\s+', '', 'g')) > 0
                     then len(regexp_extract_all(regexp_replace(text, '\s+', '', 'g'), '[^A-Za-z0-9]'))::double
                          / length(regexp_replace(text, '\s+', '', 'g')) else 0 end) < 0.2 then 0.3 else 0 end)
                + (case when (case when length(trim(text)) > 0
                     then len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                              x -> list_contains(['the','and','of','to','is','in','that','for','with','a','an','it','on','as','at','by'], x)))::double
                          / len(string_split_regex(lower(trim(text)), '\s+')) else 0 end) > 0.01 then 0.3 else 0 end)
                as quality
              from train
            ),
            s1 as (select doc_id, text from q where quality >= 0.4),
            ltoks as (select case when length(trim(text)) > 0
                      then string_split_regex(lower(trim(text)), '\s+')
                      else [] end as w from bench),
            lm_grams as (
              select array_to_string(w[i:i+1], ' ') as g
              from ltoks, unnest(generate_series(1, greatest(len(w) - 1, 0))) as t(i)
            ),
            big as (select g, count(*)::bigint as c2 from lm_grams group by g),
            ctx as (select string_split(g, ' ')[1] as w1, sum(c2)::bigint as c_ctx
                    from big group by 1),
            v as (select count(distinct u.tok)::bigint as vs
                  from (select unnest(w) as tok from ltoks) u),
            s1toks as (select doc_id, case when length(trim(text)) > 0
                       then string_split_regex(lower(trim(text)), '\s+')
                       else [] end as w from s1),
            tg as (
              select doc_id, array_to_string(w[i:i+1], ' ') as g
              from s1toks, unnest(generate_series(1, greatest(len(w) - 1, 0))) as t(i)
            ),
            scored as (
              select tg.doc_id,
                     floor(ln((coalesce(b.c2, 0) + 1)::double
                              / (coalesce(c.c_ctx, 0)
                                 + (select vs from v))::double)
                           * 1e6)::bigint as wgt
              from tg
              left join big b on b.g = tg.g
              left join ctx c on c.w1 = string_split(tg.g, ' ')[1]
            ),
            lmagg as (
              select s1.doc_id,
                     count(s.doc_id)::bigint as n_grams,
                     coalesce(sum(s.wgt), 0)::bigint as s_lp
              from s1 left join scored s on s.doc_id = s1.doc_id
              group by s1.doc_id
            ),
            s_lm as (select s1.doc_id, s1.text from s1 join lmagg using (doc_id)
                     where n_grams > 0 and s_lp > -3650000 * n_grams),
            s2 as (select doc_id, text from (
              select doc_id, text, row_number() over (partition by md5(text) order by doc_id) as rn
              from s_lm) where rn = 1),
            toks as (select doc_id, case when length(trim(text)) > 0
                      then string_split_regex(lower(trim(text)), '\s+') else [] end as w from s2),
            p as (select doc_id, md5(array_to_string(w[i*16+1:i*16+16], ' ')) as ph
                  from toks, unnest(generate_series(0, cast(ceil(len(w)/16.0) as int) - 1)) as t(i)
                  where len(w) > 0),
            cnts as (select ph, count(*) as cnt from p group by 1),
            pstat as (select p.doc_id, count(*) as n_pass,
                             sum(case when cnt > 1 then 1 else 0 end) as n_dup
                      from p join cnts using (ph) group by 1),
            s3 as (select s2.doc_id, s2.text from s2 left join pstat using (doc_id)
                   where coalesce(n_dup, 0)::double / greatest(coalesce(n_pass, 1), 1) <= 0.5),
            t3 as (select doc_id, case when length(trim(text)) > 0
                      then string_split_regex(lower(trim(text)), '\s+') else [] end as w from s3),
            tb as (select case when length(trim(text)) > 0
                      then string_split_regex(lower(trim(text)), '\s+') else [] end as w from bench),
            g3 as (select doc_id, dg.g from t3,
                   unnest(list_distinct(list_transform(generate_series(1, greatest(len(w)-3, 0)),
                     i -> array_to_string(w[i:i+3], ' ')))) as dg(g)),
            gb as (select distinct bg.g from tb,
                   unnest(list_transform(generate_series(1, greatest(len(w)-3, 0)),
                     i -> array_to_string(w[i:i+3], ' '))) as bg(g)),
            dirty as (select distinct doc_id from g3 join gb using (g)),
            s4 as (select s3.doc_id, s3.text from s3 anti join dirty using (doc_id)),
            f as (
              select 0 as stage_idx, 'input' as stage, count(*) as n_docs,
                     coalesce(sum(case when length(trim(text)) = 0 then 0
                       else len(string_split_regex(trim(text), '\s+')) end), 0) as n_words from train
              union all select 1, 'quality_filter', count(*),
                     coalesce(sum(case when length(trim(text)) = 0 then 0
                       else len(string_split_regex(trim(text), '\s+')) end), 0) from s1
              union all select 2, 'lm_filter', count(*),
                     coalesce(sum(case when length(trim(text)) = 0 then 0
                       else len(string_split_regex(trim(text), '\s+')) end), 0) from s_lm
              union all select 3, 'exact_dedup', count(*),
                     coalesce(sum(case when length(trim(text)) = 0 then 0
                       else len(string_split_regex(trim(text), '\s+')) end), 0) from s2
              union all select 4, 'passage_dedup', count(*),
                     coalesce(sum(case when length(trim(text)) = 0 then 0
                       else len(string_split_regex(trim(text), '\s+')) end), 0) from s3
              union all select 5, 'decontamination', count(*),
                     coalesce(sum(case when length(trim(text)) = 0 then 0
                       else len(string_split_regex(trim(text), '\s+')) end), 0) from s4
            )
            select stage_idx, stage, n_docs, n_words::bigint as n_words
            from f order by stage_idx
        """,
        "incremental_dedup": _SHINGLES_CTE
        + """
            select cast(case when id_a % 2 = 1 then id_a else id_b end as varchar) as new_url,
                   cast(case when id_a % 2 = 1 then id_b else id_a end as varchar) as match_url,
                   jaccard
            from jac
            where jaccard >= 0.8 and (id_a % 2) <> (id_b % 2)
            order by new_url, match_url
        """,
        "user_sessions": """
            with e as (
              select user_id, ts, event_id, value,
                     cast(json_extract_string(props, '$.k') as bigint) as k,
                     lag(ts) over (partition by user_id order by ts, event_id) as prev_ts
              from events
            ),
            m as (select *, case when prev_ts is null or ts > prev_ts + interval 30 minute
                                 then 1 else 0 end as brk from e),
            s as (select *, sum(brk) over (partition by user_id order by ts, event_id
                                           rows unbounded preceding) as sess from m)
            select user_id, sess::bigint as session_idx, count(*) as n_events,
                   min(ts) as first_ts, max(ts) as last_ts,
                   round(sum(value), 6) as sum_value, sum(k)::bigint as sum_k
            from s group by user_id, sess order by user_id, session_idx
        """,
        "length_percentiles": r"""
            select lang,
                   round(quantile_cont(n_tok, 0.5), 6) as p50,
                   round(quantile_cont(n_tok, 0.9), 6) as p90,
                   round(quantile_cont(n_tok, 0.99), 6) as p99,
                   true as p50_approx_ok,
                   true as p90_approx_ok,
                   true as p99_approx_ok
            from (select lang,
                         (case when length(trim(text)) = 0 then 0
                               else len(string_split_regex(trim(text), '\s+')) end)::double as n_tok
                  from documents)
            group by lang order by lang
        """,
        "pricing_summary": """
            select l_returnflag, l_linestatus,
                   sum(cast(round(l_quantity) as bigint))::bigint as sum_qty,
                   round(sum(cast(round(l_extendedprice*100) as bigint))/100.0, 2) as sum_base_price,
                   round(sum(cast(round(l_extendedprice*100) as bigint)
                             * (100 - cast(round(l_discount*100) as bigint)))/10000.0, 2) as sum_disc_price,
                   round(sum(cast(round(l_extendedprice*100) as bigint)
                             * (100 - cast(round(l_discount*100) as bigint))
                             * (100 + cast(round(l_tax*100) as bigint)))/1000000.0, 2) as sum_charge,
                   count(*) as n_rows
            from lineitem
            where l_shipdate <= timestamp '2000-01-01'
            group by 1, 2 order by 1, 2
        """,
        "revenue_by_nation": """
            select n_name, count(*) as n,
                   round(sum(cast(round(l_extendedprice*100) as bigint)
                             * (100 - cast(round(l_discount*100) as bigint)))/10000.0, 2) as revenue
            from lineitem
            join orders on l_orderkey = o_orderkey
            join customer on o_custkey = c_custkey
            join supplier on l_suppkey = s_suppkey and c_nationkey = s_nationkey
            join nation on s_nationkey = n_nationkey
            join region on n_regionkey = r_regionkey
            where r_name = 'AFRICA'
              and o_orderdate >= timestamp '1996-01-01'
              and o_orderdate < timestamp '1997-01-01'
            group by 1 order by revenue desc, n_name
        """,
        "token_stats_cube": r"""
            select coalesce(lang, 'ALL') as lang,
                   coalesce(source, 'ALL') as source,
                   count(*) as n_docs,
                   sum(case when length(trim(text)) = 0 then 0
                       else len(string_split_regex(trim(text), '\s+')) end)::bigint as n_tokens
            from documents
            group by cube (lang, source)
            order by lang, source
        """,
        # decoded pixel values re-derived from the same UTF-8 bytes via hex
        # digit arithmetic (hex() is uppercase in DuckDB). round_even, not
        # round: pixel means are exact multiples of 2^-8, so 6-decimal
        # ties are common and the decoder's Python round() is half-even
        "image_decode_stats": """
            with d as (
              select doc_id, hex(encode(text)) as hx,
                     octet_length(encode(text)) as n
              from documents
            ),
            sized as (
              select doc_id, hx, least(n // 16, 16) as h from d where n >= 16
            ),
            px as (
              select doc_id, h,
                     (strpos('0123456789ABCDEF', substr(hx, 2*i - 1, 1)) - 1) * 16
                     + strpos('0123456789ABCDEF', substr(hx, 2*i, 1)) - 1 as v
              from sized, unnest(generate_series(1, h * 16)) as t(i)
            )
            select cast(doc_id as varchar) as url,
                   16::bigint as width, h::bigint as height, 1::bigint as channels,
                   round_even(avg(v), 6) as mean_intensity
            from px group by doc_id, h order by url
        """,
        # decoded-pixel mean re-derived from the planting arithmetic: at
        # quality 75 (DC quantizer 8) per-block-uniform images roundtrip
        # exactly through the lossy codec, so mean over planted blocks ==
        # mean over decoded pixels (tests/test_jpeg.py pins the exactness)
        "jpeg_decode_stats": """
            with blocks as (
              select doc_id,
                     (doc_id * 37 + 29 * i + 13 * j) % 256 as v
              from documents,
                   unnest(generate_series(0, 3)) as t1(i),
                   unnest(generate_series(0, 5)) as t2(j)
            )
            select cast(doc_id as varchar) as url,
                   48::bigint as width, 32::bigint as height,
                   (case when doc_id % 2 = 0 then 1 else 3 end)::bigint as channels,
                   round_even(avg(v), 6) as mean_intensity
            from blocks group by doc_id order by url
        """,
        "png_decode_stats": """
            with d as (
              select doc_id, hex(encode(text)) as hx,
                     octet_length(encode(text)) as n
              from documents
            ),
            sized as (
              select doc_id, hx, least(n // 16, 16) as h from d where n >= 16
            ),
            px as (
              select doc_id, h,
                     (strpos('0123456789ABCDEF', substr(hx, 2*i - 1, 1)) - 1) * 16
                     + strpos('0123456789ABCDEF', substr(hx, 2*i, 1)) - 1 as v
              from sized, unnest(generate_series(1, h * 16)) as t(i)
            )
            select cast(doc_id as varchar) as url,
                   16::bigint as width, h::bigint as height, 1::bigint as channels,
                   round_even(avg(v), 6) as mean_intensity
            from px group by doc_id, h order by url
        """,
        "events_hourly": """
            select date_trunc('hour', ts) as hour, event_type,
                   count(*) as n, round(sum(value), 6) as sum_value
            from events group by 1, 2 order by hour, event_type
        """,
        "html_extraction": """
            select doc_id, true as extract_ok, md5(text) as extract_md5,
                   length(text)::bigint as n_chars
            from documents order by doc_id
        """,
        "warc_roundtrip": """
            select doc_id, 200::bigint as http_status,
                   epoch(timestamp '2024-01-01 00:00:00+00')::bigint
                     + doc_id * 61 as ts_epoch,
                   md5(text) as extract_md5
            from documents order by doc_id
        """,
        "warc_wet_roundtrip": """
            select doc_id,
                   epoch(timestamp '2024-01-01 00:00:00+00')::bigint
                     + doc_id * 61 as ts_epoch,
                   md5(text) as text_md5,
                   1 as has_refers
            from documents order by doc_id
        """,
        "main_content": """
            select doc_id, true as main_ok, true as had_boilerplate,
                   md5(text) as main_md5
            from documents order by doc_id
        """,
        "pii_scrub": r"""
            with aug as (
              select doc_id,
                     text || ' contact user' || doc_id
                     || '@mail.example.org, backup 10.0.' || (doc_id % 256)
                     || '.77 tel +4915123'
                     || lpad((doc_id % 1000)::varchar, 3, '0') as t
              from documents
            ),
            s1 as (
              select doc_id,
                     len(regexp_extract_all(t,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) as n_email,
                     regexp_replace(t,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g') as t1
              from aug
            ),
            s2 as (
              select doc_id, n_email,
                     len(regexp_extract_all(t1,
                       '\b(\d{1,3}\.){3}\d{1,3}\b')) as n_ipv4,
                     regexp_replace(t1, '\b(\d{1,3}\.){3}\d{1,3}\b',
                       '<IP>', 'g') as t2
              from s1
            ),
            s3 as (
              select doc_id, n_email, n_ipv4,
                     len(regexp_extract_all(t2,
                       '\+\d{1,3}([-. ()]{0,2}\d{2,4}){2,5}')) as n_phone,
                     regexp_replace(t2, '\+\d{1,3}([-. ()]{0,2}\d{2,4}){2,5}',
                       '<PHONE>', 'g') as t3
              from s2
            )
            select doc_id, n_email, n_ipv4, n_phone, md5(t3) as redacted_md5
            from s3 order by doc_id
        """,
        "source_similarity": """
            with sh as (
              select source, substr(hx, 2*i - 1, 42) as s
              from (select source, hex(encode(text)) as hx,
                           unnest(generate_series(1, octet_length(encode(text)) - 20)) as i
                    from documents where octet_length(encode(text)) >= 21)
            ),
            dsh as (select distinct source, s from sh),
            ds as (select source, count(*) as n from dsh group by 1),
            inter as (
              select a.source as src_a, b.source as src_b, count(*) as i
              from dsh a join dsh b on a.s = b.s and a.source < b.source
              group by 1, 2
            )
            select x.source as src_a, y.source as src_b,
                   round(coalesce(i, 0)::double
                         / (x.n + y.n - coalesce(i, 0)), 6) as jaccard
            from ds x join ds y on x.source < y.source
            left join inter on inter.src_a = x.source and inter.src_b = y.source
            order by src_a, src_b
        """,
        "gopher_rules": r"""
            with w as (
              select doc_id, text,
                     case when length(trim(text)) > 0
                          then string_split_regex(lower(trim(text)), '\s+')
                          else [] end as w
              from documents
            ),
            m as (
              select doc_id, text, w,
                     list_filter(string_split(text, chr(10)),
                                 x -> length(trim(x)) > 0) as lines,
                     len(w) as n_words,
                     greatest(len(w), 1)::double as nw,
                     coalesce(list_aggregate(
                       list_transform(w, x -> length(x)), 'sum'), 0) as total_len
              from w
            ),
            r as (
              select doc_id, text, w, lines, n_words, nw, total_len,
                     greatest(len(lines), 1)::double as nl
              from m
            )
            select doc_id,
              (n_words >= 50 and n_words <= 100000) as r_nwords,
              (total_len / nw >= 3.0 and total_len / nw <= 10.0) as r_meanlen,
              (len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) / nw > 0.8)
                as r_alpha,
              (len(list_filter(lines,
                   x -> regexp_matches(trim(x), '^(-|\*|•)'))) / nl < 0.9)
                as r_bullet,
              (len(list_filter(lines,
                   x -> regexp_matches(trim(x), '(\.\.\.|…)$'))) / nl < 0.3)
                as r_ellipsis,
              (((length(text) - length(replace(text, '#', '')))
                + (length(text) - length(replace(text, '...', ''))) / 3
                + (length(text) - length(replace(text, '…', '')))) / nw < 0.1)
                as r_symbol,
              (len(list_filter(list_distinct(w),
                   x -> list_contains(['the','and','of','to','is','in','that',
                                       'for','with','a','an','it','on','as',
                                       'at','by'], x))) >= 2)
                as r_stop,
              ((n_words >= 50 and n_words <= 100000)
               and (total_len / nw >= 3.0 and total_len / nw <= 10.0)
               and (len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) / nw > 0.8)
               and (len(list_filter(lines,
                        x -> regexp_matches(trim(x), '^(-|\*|•)'))) / nl < 0.9)
               and (len(list_filter(lines,
                        x -> regexp_matches(trim(x), '(\.\.\.|…)$'))) / nl < 0.3)
               and (((length(text) - length(replace(text, '#', '')))
                     + (length(text) - length(replace(text, '...', ''))) / 3
                     + (length(text) - length(replace(text, '…', '')))) / nw < 0.1)
               and (len(list_filter(list_distinct(w),
                        x -> list_contains(['the','and','of','to','is','in',
                                            'that','for','with','a','an','it',
                                            'on','as','at','by'], x))) >= 2)) as keep
            from r order by doc_id
        """,
        # CCNet-style bigram-LM filter: the LM (counts + vocab size) and
        # the per-gram floor(1e6*ln p) weights are recomputed from the
        # parquet table; sums are exact BIGINTs, the band is an integer
        # comparison — engine-independent modulo one IEEE ln per
        # distinct (c2, c_ctx) pair, floored at 1e-6 resolution
        "lm_perplexity": r"""
            with toks as (
              select doc_id, case when length(trim(text)) > 0
                     then string_split_regex(lower(trim(text)), '\s+')
                     else [] end as w
              from documents
            ),
            lm_grams as (
              select array_to_string(w[i:i+1], ' ') as g
              from toks, unnest(generate_series(1, greatest(len(w) - 1, 0)))
                   as t(i)
              where doc_id % 10 = 0
            ),
            big as (select g, count(*)::bigint as c2 from lm_grams group by g),
            ctx as (select string_split(g, ' ')[1] as w1,
                           sum(c2)::bigint as c_ctx
                    from big group by 1),
            v as (select count(distinct u.tok)::bigint as vs
                  from (select unnest(w) as tok from toks
                        where doc_id % 10 = 0) u),
            train_grams as (
              select doc_id, array_to_string(w[i:i+1], ' ') as g
              from toks, unnest(generate_series(1, greatest(len(w) - 1, 0)))
                   as t(i)
              where doc_id % 10 != 0
            ),
            scored as (
              select tg.doc_id,
                     floor(ln((coalesce(b.c2, 0) + 1)::double
                              / (coalesce(c.c_ctx, 0)
                                 + (select vs from v))::double)
                           * 1e6)::bigint as wgt,
                     (b.c2 is null)::bigint as oov
              from train_grams tg
              left join big b on b.g = tg.g
              left join ctx c on c.w1 = string_split(tg.g, ' ')[1]
            ),
            agg as (
              select t.doc_id,
                     count(s.doc_id)::bigint as n_grams,
                     coalesce(sum(s.oov), 0)::bigint as n_oov,
                     coalesce(sum(s.wgt), 0)::bigint as sum_logp_e6
              from (select doc_id from toks where doc_id % 10 != 0) t
              left join scored s on s.doc_id = t.doc_id
              group by t.doc_id
            )
            select doc_id, n_grams, n_oov, sum_logp_e6,
                   case when n_grams = 0 then 'empty'
                        when sum_logp_e6 > -3450000 * n_grams then 'head'
                        when sum_logp_e6 > -3650000 * n_grams then 'middle'
                        else 'tail' end as band
            from agg order by doc_id
        """,
        # DSIR: both hashed-feature models and the integer log-prob
        # ratio recomputed from parquet; bucket = the classifier's
        # md5 idiom, feature set = unigrams + space-joined bigrams
        "dsir_select": r"""
            with docsw as (
              select doc_id, case when length(trim(text)) > 0
                     then string_split_regex(lower(trim(text)), '\s+')
                     else [] end as w
              from documents
            ),
            fl as (
              select doc_id,
                     list_concat(w, list_transform(
                       generate_series(1, greatest(len(w) - 1, 0)),
                       i -> array_to_string(w[i:i+1], ' '))) as fs
              from docsw
            ),
            tb as (
              select ('0x' || substr(md5(u.f), 1, 8))::bigint % 512 as b,
                     count(*)::bigint as c
              from (select unnest(fs) as f from fl where doc_id % 10 = 0) u
              group by 1
            ),
            tt as (select coalesce(sum(c), 0)::bigint as t from tb),
            rfeat as (
              select doc_id, u.f,
                     ('0x' || substr(md5(u.f), 1, 8))::bigint % 512 as b
              from fl, unnest(fs) as u(f)
              where doc_id % 10 <> 0
            ),
            rb as (select b, count(*)::bigint as c from rfeat group by b),
            rt as (select coalesce(sum(c), 0)::bigint as t from rb),
            scored as (
              select rf.doc_id,
                     floor(ln((coalesce(tb.c, 0) + 1)::double
                              / ((select t from tt) + 512)::double) * 1e6)::bigint
                     - floor(ln((coalesce(rb.c, 0) + 1)::double
                                / ((select t from rt) + 512)::double) * 1e6)::bigint
                       as wgt
              from rfeat rf
              left join tb on tb.b = rf.b
              left join rb on rb.b = rf.b
            ),
            agg as (select doc_id, count(*)::bigint as n_feats,
                           sum(wgt)::bigint as weight_e6
                    from scored group by doc_id)
            select doc_id, n_feats, weight_e6
            from agg
            order by weight_e6 desc, doc_id asc limit 50
        """,
        "semdedup_prune": """
            with base as (
              select vec_id, embedding from embeddings
              union all
              select vec_id + 100000 as vec_id,
                     list_transform(embedding,
                       x -> cast(cast(x as double) * cast(0.99 as double) as real))
                       as embedding
              from embeddings
            ),
            pts as (
              select vec_id, q,
                     cast(list_sum(list_transform(q, v -> v * v)) as bigint) as norm2
              from (
                select vec_id,
                       list_transform(embedding,
                         x -> cast(floor(cast(x as double) * 1000) as bigint)) as q
                from base
              )
            ),
            dim as (select len(q) as m from pts limit 1),
            c0 as (
              select row_number() over
                       (order by md5(cast(vec_id as varchar)), vec_id) - 1 as cid,
                     q, norm2
              from pts
              qualify row_number() over
                       (order by md5(cast(vec_id as varchar)), vec_id) <= 10
            ),
            d1 as (
              select p.vec_id, c.cid,
                     p.norm2 - 2 * cast(list_sum(list_transform(
                       generate_series(1, len(p.q)), i -> p.q[i] * c.q[i]))
                       as bigint) + c.norm2 as d
              from pts p cross join c0 c
            ),
            a1 as (
              select vec_id, cid from d1
              qualify row_number() over
                       (partition by vec_id order by d, cid) = 1
            ),
            s1 as (
              select a.cid, idx.i, sum(p.q[idx.i]) as s, count(*) as n
              from a1 a join pts p using (vec_id)
              cross join (select unnest(generate_series(1, (select m from dim))) as i) idx
              group by a.cid, idx.i
            ),
            u1 as (
              select cid, array_agg(comp order by i) as q,
                     cast(sum(comp * comp) as bigint) as norm2
              from (select cid, i,
                           cast((s - (((s % n) + n) % n)) // n as bigint) as comp
                    from s1)
              group by cid
            ),
            c1 as (
              select c0.cid, coalesce(u1.q, c0.q) as q,
                     coalesce(u1.norm2, c0.norm2) as norm2
              from c0 left join u1 using (cid)
            ),
            d2 as (
              select p.vec_id, c.cid,
                     p.norm2 - 2 * cast(list_sum(list_transform(
                       generate_series(1, len(p.q)), i -> p.q[i] * c.q[i]))
                       as bigint) + c.norm2 as d
              from pts p cross join c1 c
            ),
            a2 as (
              select vec_id, cid from d2
              qualify row_number() over
                       (partition by vec_id order by d, cid) = 1
            ),
            s2 as (
              select a.cid, idx.i, sum(p.q[idx.i]) as s, count(*) as n
              from a2 a join pts p using (vec_id)
              cross join (select unnest(generate_series(1, (select m from dim))) as i) idx
              group by a.cid, idx.i
            ),
            u2 as (
              select cid, array_agg(comp order by i) as q,
                     cast(sum(comp * comp) as bigint) as norm2
              from (select cid, i,
                           cast((s - (((s % n) + n) % n)) // n as bigint) as comp
                    from s2)
              group by cid
            ),
            c2 as (
              select c1.cid, coalesce(u2.q, c1.q) as q,
                     coalesce(u2.norm2, c1.norm2) as norm2
              from c1 left join u2 using (cid)
            ),
            df as (
              select p.vec_id, c.cid,
                     p.norm2 - 2 * cast(list_sum(list_transform(
                       generate_series(1, len(p.q)), i -> p.q[i] * c.q[i]))
                       as bigint) + c.norm2 as d
              from pts p cross join c2 c
            ),
            af as (
              select vec_id, cid, d from df
              qualify row_number() over
                       (partition by vec_id order by d, cid) = 1
            ),
            ranked as (
              select af.vec_id, af.cid as cluster_id, af.d as dist2,
                     p.q, p.norm2,
                     row_number() over (partition by af.cid
                                        order by af.d desc, af.vec_id asc) as rnk
              from af join pts p using (vec_id)
            ),
            dots as (
              select hi.vec_id,
                     cast(list_sum(list_transform(
                       generate_series(1, len(hi.q)), i -> hi.q[i] * lo.q[i]))
                       as bigint) as dot,
                     hi.norm2 as n2h, lo.norm2 as n2l
              from ranked hi join ranked lo
                on hi.cluster_id = lo.cluster_id and lo.rnk < hi.rnk
            ),
            rem as (
              select distinct vec_id from dots
              where dot > 0
                and cast(dot as hugeint) * cast(dot as hugeint)
                    * cast(1000000000000 as hugeint)
                    >= cast(902500000000 as hugeint)
                      * cast(n2h as hugeint) * cast(n2l as hugeint)
            )
            select r.vec_id, cast(r.cluster_id as bigint) as cluster_id,
                   r.dist2, (rem.vec_id is null) as kept
            from ranked r left join rem on rem.vec_id = r.vec_id
            order by r.vec_id
        """,
        # signed hashed-TF embedding: the oracle recomputes the bucket/sign
        # sums by group-by (vs Spark's fold-into-the-scan accumulator) and
        # the identical posmod floor division — independent mechanics, same
        # exact integers
        "doc_embedding": r"""
            with toks as (
              select doc_id,
                     unnest(case when length(trim(text)) > 0
                        then string_split_regex(lower(trim(text)), '\s+')
                        else [] end) as w
              from documents
            ),
            nt as (select doc_id, count(*)::bigint as n from toks group by doc_id),
            bsum as (
              select doc_id,
                     ('0x' || substr(md5(w), 1, 8))::bigint % 8 as pos,
                     sum(case when ('0x' || substr(md5(w), 9, 8))::bigint % 2 = 0
                         then 1 else -1 end)::bigint as s
              from toks group by doc_id, pos
            ),
            grid as (
              select d.doc_id, p.pos
              from documents d
              cross join (select unnest(generate_series(0, 7)) as pos) p
            )
            select g.doc_id, g.pos::int as pos,
                   (case when coalesce(nt.n, 0) = 0 then 0
                         else ((coalesce(bs.s, 0) * 100)
                               - ((((coalesce(bs.s, 0) * 100) % nt.n) + nt.n) % nt.n))
                              // nt.n
                    end)::bigint as val
            from grid g
            left join nt on nt.doc_id = g.doc_id
            left join bsum bs on bs.doc_id = g.doc_id and bs.pos = g.pos
            order by g.doc_id, g.pos
        """,
        # text -> embedding -> k-means -> cosine prune, ALL replayed: the
        # tokenize/bucket/floor-div chain feeds the same unrolled-Lloyd +
        # HUGEINT prune structure as the semdedup_prune oracle (1 iteration,
        # k=8, dim=16, tau 0.98 -> tau^2 = 960400000000)
        "semdedup_text_prune": r"""
            with base as (
              select doc_id, text from documents
              union all
              select doc_id + 100000 as doc_id, text from documents
            ),
            toks as (
              select doc_id,
                     unnest(case when length(trim(text)) > 0
                        then string_split_regex(lower(trim(text)), '\s+')
                        else [] end) as w
              from base
            ),
            nt as (select doc_id, count(*)::bigint as n from toks group by doc_id),
            bsum as (
              select doc_id,
                     ('0x' || substr(md5(w), 1, 8))::bigint % 16 as pos,
                     sum(case when ('0x' || substr(md5(w), 9, 8))::bigint % 2 = 0
                         then 1 else -1 end)::bigint as s
              from toks group by doc_id, pos
            ),
            grid as (
              select b.doc_id, p.pos
              from base b
              cross join (select unnest(generate_series(0, 15)) as pos) p
            ),
            vecs as (
              select g.doc_id,
                     list((case when coalesce(nt.n, 0) = 0 then 0
                           else ((coalesce(bs.s, 0) * 100)
                                 - ((((coalesce(bs.s, 0) * 100) % nt.n) + nt.n) % nt.n))
                                // nt.n
                      end)::bigint order by g.pos) as v
              from grid g
              left join nt on nt.doc_id = g.doc_id
              left join bsum bs on bs.doc_id = g.doc_id and bs.pos = g.pos
              group by g.doc_id
            ),
            pts as (
              select doc_id, q,
                     cast(list_sum(list_transform(q, x -> x * x)) as bigint) as norm2
              from (
                select doc_id,
                       list_transform(v, x -> cast(x * 1000 as bigint)) as q
                from vecs
              )
            ),
            dim as (select len(q) as m from pts limit 1),
            c0 as (
              select row_number() over
                       (order by md5(cast(doc_id as varchar)), doc_id) - 1 as cid,
                     q, norm2
              from pts
              qualify row_number() over
                       (order by md5(cast(doc_id as varchar)), doc_id) <= 8
            ),
            d1 as (
              select p.doc_id, c.cid,
                     p.norm2 - 2 * cast(list_sum(list_transform(
                       generate_series(1, len(p.q)), i -> p.q[i] * c.q[i]))
                       as bigint) + c.norm2 as d
              from pts p cross join c0 c
            ),
            a1 as (
              select doc_id, cid from d1
              qualify row_number() over
                       (partition by doc_id order by d, cid) = 1
            ),
            s1 as (
              select a.cid, idx.i, sum(p.q[idx.i]) as s, count(*) as n
              from a1 a join pts p using (doc_id)
              cross join (select unnest(generate_series(1, (select m from dim))) as i) idx
              group by a.cid, idx.i
            ),
            u1 as (
              select cid, array_agg(comp order by i) as q,
                     cast(sum(comp * comp) as bigint) as norm2
              from (select cid, i,
                           cast((s - (((s % n) + n) % n)) // n as bigint) as comp
                    from s1)
              group by cid
            ),
            c1 as (
              select c0.cid, coalesce(u1.q, c0.q) as q,
                     coalesce(u1.norm2, c0.norm2) as norm2
              from c0 left join u1 using (cid)
            ),
            df as (
              select p.doc_id, c.cid,
                     p.norm2 - 2 * cast(list_sum(list_transform(
                       generate_series(1, len(p.q)), i -> p.q[i] * c.q[i]))
                       as bigint) + c.norm2 as d
              from pts p cross join c1 c
            ),
            af as (
              select doc_id, cid, d from df
              qualify row_number() over
                       (partition by doc_id order by d, cid) = 1
            ),
            ranked as (
              select af.doc_id, af.cid as cluster_id, af.d as dist2,
                     p.q, p.norm2,
                     row_number() over (partition by af.cid
                                        order by af.d desc, af.doc_id asc) as rnk
              from af join pts p using (doc_id)
            ),
            dots as (
              select hi.doc_id,
                     cast(list_sum(list_transform(
                       generate_series(1, len(hi.q)), i -> hi.q[i] * lo.q[i]))
                       as bigint) as dot,
                     hi.norm2 as n2h, lo.norm2 as n2l
              from ranked hi join ranked lo
                on hi.cluster_id = lo.cluster_id and lo.rnk < hi.rnk
            ),
            rem as (
              select distinct doc_id from dots
              where dot > 0
                and cast(dot as hugeint) * cast(dot as hugeint)
                    * cast(1000000000000 as hugeint)
                    >= cast(960400000000 as hugeint)
                      * cast(n2h as hugeint) * cast(n2l as hugeint)
            )
            select r.doc_id, cast(r.cluster_id as bigint) as cluster_id,
                   r.dist2, (rem.doc_id is null) as kept
            from ranked r left join rem on rem.doc_id = r.doc_id
            order by r.doc_id
        """,
        # CDX dedup: the oracle rebuilds the planted three-captures-per-url
        # index from the construction arithmetic and collapses it with its
        # own window function (vs the engine's Window-free max(struct) winner)
        "cdx_dedup": """
            with caps as (
              select 'com,example,' || source || ',www)/page/' || doc_id as surt,
                     '202602' || lpad((10 + t.k)::varchar, 2, '0') || '103000'
                       as ts_raw,
                     'D' || doc_id
                       || (case when t.k = 2 then 'x' else '' end) as digest
              from documents, unnest([0, 1, 2]) as t(k)
            ),
            g as (
              select surt, digest, min(ts_raw) as first_ts,
                     max(ts_raw) as last_ts, count(*)::bigint as n_captures
              from caps group by surt, digest
            )
            select surt, digest, first_ts, last_ts, n_captures,
                   (n_captures - 1)::bigint as n_revisits,
                   (row_number() over (partition by surt
                                       order by last_ts desc, digest desc) = 1)
                     as is_latest
            from g order by surt, digest
        """,
        "url_canonical": """
            select doc_id,
                   (case when doc_id % 3 = 2 then 'https' else 'http' end)
                   || '://www.' || source || '.example.com'
                   || (case when doc_id % 4 = 0 then
                              (case when doc_id % 3 = 2 then ':80' else '' end)
                            when doc_id % 4 = 1 then
                              (case when doc_id % 3 = 2 then '' else ':443' end)
                            when doc_id % 4 = 2 then ':8080'
                            else '' end)
                   || '/Docs/' || doc_id
                   || (case when doc_id % 2 = 0 then '?a=1&b=2' else '' end)
                     as canonical,
                   'www.' || source || '.example.com' as host
            from documents order by doc_id
        """,
        # the shard/order keys are md5 over seed-prefixed urls — the exact
        # idiom the Spark side computes with conv(substr(md5(..),1,8),16,10)
        "training_shards": r"""
            with assigned as (
              select (('0x' || substr(md5('shard:42:' || cast(doc_id as varchar)), 1, 8))::bigint % 8)::int as shard_id,
                     md5('order:42:' || cast(doc_id as varchar)) as sort_key,
                     text
              from documents
            )
            select shard_id, count(*) as n_docs,
                   sum(case when length(trim(text)) = 0 then 0
                       else len(string_split_regex(trim(text), '\s+')) end)::bigint as n_tokens,
                   sum(length(text))::bigint as n_chars,
                   min(sort_key) as first_key,
                   max(sort_key) as last_key
            from assigned group by shard_id order by shard_id
        """,
        # the oracle never sees the shard files: it recomputes each shard's
        # routing and per-row 32-bit md5 fold straight from documents, so a
        # mismatch means the write/read cycle lost, altered or misrouted a row
        "training_export_roundtrip": """
            with assigned as (
              select (('0x' || substr(md5('shard:42:' || cast(doc_id as varchar)), 1, 8))::bigint % 8)::int as shard_id,
                     ('0x' || substr(md5(cast(doc_id as varchar) || chr(31) || text), 1, 8))::bigint as v
              from documents
            )
            select shard_id, count(*) as n_docs, sum(v)::bigint as sum_val
            from assigned group by shard_id order by shard_id
        """,
    }
