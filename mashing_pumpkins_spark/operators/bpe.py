"""Distributed byte-pair-encoding (BPE) tokenizer training.

Word-count-table BPE (Sennrich et al. 2016, arXiv:1508.07909 — the same
trainer shape GPT-2/tiktoken vocabularies were built with): the corpus is
touched ONCE to build the distinct-pretoken count table, and every merge
iteration runs on that table. At web scale the word table (|V| distinct
pretokens, ~10^8-10^9 rows at 10^12 documents) is orders of magnitude
smaller than the corpus, so the pretokenize scan + one groupBy is the only
corpus-scale cost; training cost is independent of corpus size after that.

Scale design (the 100x plan):
- corpus pass: ``regexp_extract_all`` pretokenize -> explode ->
  groupBy(word) -> count.  ONE shuffle with map-side partial aggregation;
  the scan is column-pruned to the text column.
- per merge: adjacent-pair ``zip_with`` explode + groupBy + a global
  ONE-ROW argmax collected to the driver and re-broadcast as literals
  (the same broadcast-scalar discipline as pagerank's dangling-mass
  aggregate, operators/graph.py) + a pure-Column greedy left-to-right
  fold rewrite (``F.aggregate``).  No Python runs in any per-row path —
  the whole trainer is JVM Column algebra (plan-guarded in
  tests/test_bpe.py).
- lineage: the rewritten word table is ``localCheckpoint``'ed every
  ``checkpoint_every`` merges so the plan stays flat over hundreds of
  merges (same discipline as the pagerank iteration loop).
- greedy-apply semantics: within one merge step, occurrences of the
  winning pair are merged leftmost-first and non-overlapping; freshly
  created symbols only participate from the NEXT step — exactly
  Sennrich's ``merge_vocab``.  Pair statistics count overlapping
  occurrences (``zip(symbols, symbols[1:])``), exactly Sennrich's
  ``get_stats``.
- tie-break: the winning pair is max by (count, left, right) with binary
  string comparison — deterministic on any engine/cluster.
- variants (end-of-word marker, byte-level alphabet) are orthogonal to
  the distribution strategy; merges never cross pretoken boundaries
  (word-internal BPE).

Reference-parity note: the reference library (lgautier/mashing-pumpkins)
has no tokenizer surface; this operator extends the training-data
pipeline tier (SURVEY.md "beyond the reference" list: token counting →
tokenizer *training*).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

__all__ = [
    "BpeModel",
    "adjacent_pairs",
    "apply_merge",
    "fit_bpe",
    "merges_df",
    "token_counts",
]

# Letter runs, lowercased: the simplest pretokenizer both Spark and an
# ANSI-SQL oracle replay byte-identically.  Production callers pass the
# GPT-2 regex from functions.textstats.BPE_PRETOKEN_RE instead.
DEFAULT_PRETOKEN_RE = "[a-z]+"


@dataclass(frozen=True)
class BpeModel:
    """Result of :func:`fit_bpe`.

    ``merges``: ordered list of ``(step, left, right, pair_count)``.
    ``words``: the final word table ``(word, cnt, syms)`` — ``syms`` is
    the symbol sequence after all merges, so ``size(syms)`` is the
    token count of ``word`` under the trained vocabulary.
    """

    merges: list = field(default_factory=list)
    words: DataFrame = None


def pretoken_words(
    df: DataFrame, text_col: str = "text", pretoken_re: str = DEFAULT_PRETOKEN_RE
) -> DataFrame:
    """Corpus -> distinct-pretoken count table.  The ONLY corpus-scale
    pass of the trainer: one explode + one groupBy (map-side combined)."""
    return (
        df.select(
            F.explode(
                F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(pretoken_re), 0)
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def adjacent_pairs(syms: Column) -> Column:
    """Overlapping adjacent symbol pairs — Sennrich get_stats semantics
    (``zip(symbols, symbols[1:])``).  Empty for single- OR zero-symbol
    words (the slice length is clamped at 0: ``slice`` throws on negative
    lengths, so an empty array previously errored at runtime)."""
    n = F.size(syms)
    length = F.greatest(n - 1, F.lit(0))
    return F.zip_with(
        F.slice(syms, 1, length),
        F.slice(syms, 2, length),
        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
    )


def apply_merge(syms: Column, left: str, right: str) -> Column:
    """Merge every leftmost-first non-overlapping (left, right) adjacency
    into one symbol — Sennrich merge_vocab as a pure-Column greedy fold.
    Newly created symbols cannot re-match within the same pass because
    ``concat(left, right) == left`` would need an empty ``right``."""
    merged = F.lit(left + right)
    return F.aggregate(
        syms,
        F.expr("cast(array() as array<string>)"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (s == F.lit(right)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def _pair_counts(words: DataFrame) -> DataFrame:
    return (
        words.where(F.size("syms") >= 2)
        .select(F.explode(adjacent_pairs(F.col("syms"))).alias("p"), "cnt")
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("cnt").alias("c"))
    )


# Cost dispatch bound for the driver-side merge loop (fit_bpe): below this
# many distinct pretokens the whole word table fits the driver comfortably
# (~100 B/row -> ~20 MB) and the per-merge Spark jobs are pure overhead —
# the same small-side dispatch discipline as connected_components_auto's
# driver labelling. At web scale (10^8-10^9 distinct pretokens) the
# distributed loop below is the plan.
FIT_DRIVER_MAX_WORDS = 200_000


def _fit_bpe_driver(
    collected: list, n_merges: int, min_count: int
) -> "tuple[list, list] | None":
    """Driver-side merge loop over the collected (word, cnt) rows.

    Returns (merges, final_word_rows) with EXACTLY the distributed loop's
    semantics — overlapping pair stats weighted by cnt, argmax by
    (count, left, right), greedy leftmost non-overlapping rewrite — or
    None when any word contains a non-BMP character: Spark's
    ``split(word, '')`` splits Java UTF-16 code UNITS (surrogate halves),
    Python iterates code POINTS, so only BMP-clean vocabularies are
    provably identical and anything else keeps the distributed path."""
    for w, _ in collected:
        for ch in w:
            if ord(ch) > 0xFFFF:
                return None
    vocab = [[list(w), int(c)] for w, c in collected]
    merges: list = []
    for step in range(1, n_merges + 1):
        pairs: dict = {}
        for syms, cnt in vocab:
            for i in range(len(syms) - 1):
                key = (syms[i], syms[i + 1])
                pairs[key] = pairs.get(key, 0) + cnt
        if not pairs:
            break
        # max by (count, left, right); Python str order == Spark UTF8String
        # binary order for BMP strings (UTF-8 preserves code-point order)
        (left, right), c = max(pairs.items(), key=lambda kv: (kv[1], kv[0]))
        if c < min_count:
            break
        merges.append(
            {"step": step, "left_sym": left, "right_sym": right, "pair_count": int(c)}
        )
        merged = left + right
        for ws in vocab:
            syms = ws[0]
            acc: list = []
            for s in syms:
                if acc and acc[-1] == left and s == right:
                    acc[-1] = merged
                else:
                    acc.append(s)
            ws[0] = acc
    rows = [(w, int(c), vocab[i][0]) for i, (w, c) in enumerate(collected)]
    return merges, rows


def fit_bpe(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
    min_count: int = 1,
    pretoken_re: str = DEFAULT_PRETOKEN_RE,
    checkpoint_every: int = 8,
    driver_max_words: int = FIT_DRIVER_MAX_WORDS,
) -> BpeModel:
    """Train ``n_merges`` BPE merges over ``df[text_col]``.

    Stops early when no adjacent pair reaches ``min_count`` (or no pairs
    remain).  Physical dispatch (round 8): the distinct-pretoken table is
    probed with ``limit(driver_max_words + 1)``; when it fits, the merge
    loop runs driver-side in plain Python with bit-identical semantics
    (pinned by test_fit_bpe_driver_path_equals_distributed and the
    bpe_train SQL oracle) — the sequential one-job-per-merge Spark loop
    is pure scheduling overhead at vocabulary sizes a driver holds
    trivially.  Above the bound (or with any non-BMP pretoken, or
    ``driver_max_words <= 0``) every merge iteration is one shuffle over
    the word table plus a one-row argmax job; the corpus is read exactly
    once either way.
    """
    if n_merges < 0:
        raise ValueError(f"n_merges must be >= 0, got {n_merges}")
    if checkpoint_every < 1:
        raise ValueError(f"checkpoint_every must be >= 1, got {checkpoint_every}")
    base = pretoken_words(df, text_col, pretoken_re)
    if driver_max_words > 0:
        probe = base.limit(driver_max_words + 1).collect()
        if len(probe) <= driver_max_words:
            fast = _fit_bpe_driver(
                [(r["word"], int(r["cnt"])) for r in probe], n_merges, min_count
            )
            if fast is not None:
                merges, rows = fast
                spark = df.sparkSession
                schema = "word string, cnt bigint, syms array<string>"
                words = spark.createDataFrame(rows, schema=schema).persist()
                return BpeModel(merges=merges, words=words)
    words = (
        base
        .withColumn("syms", F.split("word", ""))
        .persist()
    )
    merges: list = []
    prev: DataFrame = None
    try:
        for step in range(1, n_merges + 1):
            # This one-row argmax job also materializes the current word
            # table's cache, so each iteration costs exactly ONE job —
            # the previous table can then be released.
            top = (
                _pair_counts(words)
                .agg(F.max(F.struct(F.col("c"), F.col("l"), F.col("r"))).alias("m"))
                .collect()[0]["m"]
            )
            if prev is not None:
                prev.unpersist()
                prev = None
            if top is None or top["c"] < min_count:
                break
            merges.append(
                {
                    "step": step,
                    "left_sym": top["l"],
                    "right_sym": top["r"],
                    "pair_count": int(top["c"]),
                }
            )
            nxt = words.withColumn(
                "syms", apply_merge(F.col("syms"), top["l"], top["r"])
            )
            if step % checkpoint_every == 0:
                # Flatten lineage so hundreds of merges keep a flat plan
                # (materialized by the next iteration's argmax job).
                nxt = nxt.localCheckpoint(eager=False)
            prev = words
            words = nxt.persist()
        if prev is not None:
            # Pin the final table before releasing its parent so no
            # consumer ever recomputes from the corpus scan.
            words.count()
            prev.unpersist()
    except Exception:
        words.unpersist()
        if prev is not None:
            prev.unpersist()
        raise
    return BpeModel(merges=merges, words=words)


def merges_df(spark: SparkSession, model: BpeModel) -> DataFrame:
    """The learned merge list as a DataFrame (gate-query surface)."""
    schema = "step int, left_sym string, right_sym string, pair_count bigint"
    return spark.createDataFrame(model.merges, schema=schema)


def token_counts(
    df: DataFrame,
    model: BpeModel,
    text_col: str = "text",
    id_cols: tuple = ("doc_id",),
    pretoken_re: str = DEFAULT_PRETOKEN_RE,
) -> DataFrame:
    """Per-document token counts under the trained vocabulary.

    Encoding = broadcast join of the corpus pretokens against the final
    word table (word -> size(syms)); no merge re-application ever runs on
    the corpus.  Words unseen at fit time fall back to their character
    count (every character is a base symbol).  One corpus shuffle (the
    per-doc aggregate)."""
    pretokens = df.select(
        *id_cols,
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(pretoken_re), 0)
        ).alias("word"),
    )
    vocab = model.words.select(
        "word", F.size("syms").cast("bigint").alias("n_tokens")
    )
    return (
        pretokens.join(F.broadcast(vocab), "word", "left")
        .groupBy(*id_cols)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.coalesce(F.col("n_tokens"), F.length("word"))).alias("n_tokens"),
        )
    )
