"""Corpus-curation operators for training-data pipelines.

Four operators a 100 TB curation run needs beyond near-dup detection,
each pure JVM Column expressions (no Python UDFs anywhere) with exact
ANSI-SQL equivalents so the DuckDB oracle can replay every value:

- passage-level exact dedup (fixed word-window "passages"; the
  CCNet/Dolma paragraph-dedup analog for newline-free text)
- benchmark decontamination (word n-gram overlap vs a held-out set,
  the Llama/GPT eval-contamination check)
- repetition statistics (Gopher-style quality signals: top-word /
  top-2-gram mass, distinct-word ratio)
- deterministic hash sampling (md5-prefix threshold; reproducible
  corpus subsampling with no RNG state)

Scale notes (100 TB):
- passage dedup shuffles md5(passage) (32 hex chars), never passage
  text; one groupBy + one equi-join, both map-side combinable.
- decontamination broadcasts the benchmark n-gram set — benchmark
  suites are tiny (MMLU ~10^6 grams) so the eval-side scan never
  shuffles; for 10^9-gram blocklists `decontaminate_bloom` replaces the
  broadcast gram join with a broadcast Bloom BITARRAY probed in one
  shuffle-free mapInPandas pass (round-4; no false negatives, sized FPR).
- repetition stats: explode + two-level groupBy keyed by doc_id;
  Catalyst's partial aggregation keeps the shuffle at one row per
  (doc, distinct word).
- hash sampling is a stateless filter — full predicate pushdown, no
  shuffle, reproducible across runs and cluster sizes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def words_array(text: Column) -> Column:
    """Lowercased whitespace tokens; empty array for blank text."""
    trimmed = F.lower(F.trim(text))
    return F.when(F.length(trimmed) > 0, F.split(trimmed, r"\s+")).otherwise(
        F.array().cast("array<string>")
    )


def word_gram_array(w: Column, n: int) -> Column:
    """Overlapping word n-grams joined by single spaces (empty when
    fewer than n words) — same guard as dedup.word_ngram_jaccard_pairs.

    Built as a zip_with chain over n shifted slices, NOT as
    transform(sequence, i -> slice(w, i+1, n)): higher-order lambdas
    are interpreted (no codegen, no common-subexpression elimination),
    so when `w` is itself an expression like split(lower(trim(text)))
    the transform form re-tokenizes the WHOLE document once per gram —
    O(words^2) per doc. Short fixture docs hid it; on ~200-word crawl
    pages the round-7 LM probe measured ~15 ms/doc from exactly this.
    Here `w` appears only as a zip_with ARGUMENT (evaluated once per
    row per slice, n evaluations total) and the lambdas touch only
    their element variables."""
    if n < 1:
        raise ValueError(f"n-gram size must be >= 1, got {n}")
    if n == 1:
        return w
    m = F.greatest(F.size(w) - F.lit(n - 1), F.lit(0))
    out = F.slice(w, 1, m)
    for k in range(1, n):
        out = F.zip_with(
            out,
            F.slice(w, k + 1, m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return out


def passage_array(w: Column, passage_words: int) -> Column:
    """Non-overlapping windows of `passage_words` words (last window may
    be shorter). The paragraph analog for text without line structure."""
    if passage_words < 1:
        raise ValueError(f"passage_words must be >= 1, got {passage_words}")
    n_pass = F.ceil(F.size(w) / F.lit(float(passage_words))).cast("int")
    return F.when(
        F.size(w) > 0,
        F.transform(
            F.sequence(F.lit(0), n_pass - 1),
            lambda i: F.concat_ws(
                " ", F.slice(w, i * passage_words + 1, passage_words)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def passage_dedup_stats(
    docs: DataFrame,
    passage_words: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-doc passage duplication: (id, n_passages, n_dup_passages,
    dup_frac), where a passage instance is "dup" when its text occurs
    more than once corpus-wide (including repeats inside one doc).

    The shuffle key is md5(passage) — fixed 32 bytes regardless of
    passage length, so the global count groupBy and the count join
    stay narrow at any document size."""
    ids = docs.select(F.col(id_col).alias("id"))
    p = docs.select(
        F.col(id_col).alias("id"),
        F.explode(passage_array(words_array(F.col(text_col)), passage_words)).alias(
            "passage"
        ),
    ).select("id", F.md5(F.encode(F.col("passage"), "utf-8")).alias("ph"))
    counts = p.groupBy("ph").agg(F.count("*").alias("cnt"))
    per_doc = (
        p.join(counts, "ph")
        .groupBy("id")
        .agg(
            F.count("*").alias("n_passages"),
            F.sum((F.col("cnt") > 1).cast("long")).alias("n_dup_passages"),
        )
    )
    return (
        ids.join(per_doc, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_passages", F.lit(0)).alias("n_passages"),
            F.coalesce("n_dup_passages", F.lit(0)).alias("n_dup_passages"),
            F.when(
                F.coalesce("n_passages", F.lit(0)) > 0,
                F.round(
                    F.col("n_dup_passages").cast("double")
                    / F.col("n_passages").cast("double"),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_frac"),
        )
        .orderBy(id_col)
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Flag training docs sharing any word n-gram with a benchmark set:
    (id, n_overlap, contaminated) for every doc in `docs`, where
    n_overlap counts the doc's DISTINCT n-grams that appear anywhere in
    `benchmark`.

    The benchmark gram set is broadcast (eval suites are small); the
    training side is scanned once with no shuffle before the final
    per-doc count."""
    doc_grams = docs.select(
        F.col(id_col).alias("id"),
        F.explode(word_gram_array(words_array(F.col(text_col)), n)).alias("g"),
    ).distinct()
    bench_grams = (
        benchmark.select(
            F.explode(word_gram_array(words_array(F.col(text_col)), n)).alias("g")
        )
        .distinct()
    )
    hits = doc_grams.join(F.broadcast(bench_grams), "g").groupBy("id").agg(
        F.count("*").alias("n_overlap")
    )
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(hits, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
            (F.coalesce("n_overlap", F.lit(0)) > 0).cast("int").alias("contaminated"),
        )
        .orderBy(id_col)
    )


def repetition_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition signals per doc: word count, distinct-word
    ratio, mass of the most frequent word, and mass of the most frequent
    word 2-gram (each rounded to 6 places).

    explode → groupBy(doc, term) → groupBy(doc): the wide explode never
    shuffles raw text, and partial aggregation collapses it to one row
    per (doc, distinct term) before the exchange."""
    base = docs.select(
        F.col(id_col).alias("id"), words_array(F.col(text_col)).alias("w")
    )
    wc = (
        base.select("id", F.explode("w").alias("t"))
        .groupBy("id", "t")
        .agg(F.count("*").alias("c"))
        .groupBy("id")
        .agg(
            F.sum("c").alias("n_words"),
            F.count("*").alias("n_distinct"),
            F.max("c").alias("top_word"),
        )
    )
    gc = (
        base.select("id", F.explode(word_gram_array(F.col("w"), 2)).alias("t"))
        .groupBy("id", "t")
        .agg(F.count("*").alias("c"))
        .groupBy("id")
        .agg(F.sum("c").alias("n_grams2"), F.max("c").alias("top_gram2"))
    )
    return (
        base.select("id")
        .join(wc, "id", "left")
        .join(gc, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_words", F.lit(0)).alias("n_words"),
            F.when(
                F.coalesce("n_words", F.lit(0)) > 0,
                F.round(
                    F.col("n_distinct").cast("double")
                    / F.col("n_words").cast("double"),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("distinct_word_ratio"),
            F.when(
                F.coalesce("n_words", F.lit(0)) > 0,
                F.round(
                    F.col("top_word").cast("double") / F.col("n_words").cast("double"),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("top_word_frac"),
            F.when(
                F.coalesce("n_grams2", F.lit(0)) > 0,
                F.round(
                    F.col("top_gram2").cast("double")
                    / F.col("n_grams2").cast("double"),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("top_2gram_frac"),
        )
        .orderBy(id_col)
    )


def hash_sample_flag(text: Column, threshold_hex: str = "1999") -> Column:
    """Deterministic sampling flag: 1 iff the first len(threshold_hex)
    hex chars of md5(text) compare below `threshold_hex`. Lowercase
    fixed-width hex compares lexicographically == numerically, and md5
    is identical across Spark and DuckDB, so the sample is reproducible
    everywhere ('1999' ≈ 0x1999/0x10000 ≈ 10%)."""
    t = threshold_hex.lower()
    if not t or any(c not in "0123456789abcdef" for c in t):
        raise ValueError(f"threshold_hex must be nonempty hex, got {threshold_hex!r}")
    prefix = F.substring(F.md5(F.encode(text, "utf-8")), 1, len(t))
    return (prefix < F.lit(t)).cast("int")


def hash_sample_stats(
    docs: DataFrame,
    threshold_hex: str = "1999",
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-group sample accounting for a deterministic md5-prefix sample:
    (group, n_docs, n_sampled). Stateless filter → full pushdown, no RNG,
    byte-identical across runs and cluster sizes."""
    return (
        docs.select(
            F.col(group_col),
            hash_sample_flag(F.col(text_col), threshold_hex).alias("s"),
        )
        .groupBy(group_col)
        .agg(F.count("*").alias("n_docs"), F.sum("s").alias("n_sampled"))
        .orderBy(group_col)
    )


def gopher_rules(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher/C4-style rule-filter battery (Rae et al. 2021 §A1.1; Raffel
    et al. 2020): one boolean per rule plus the conjunctive `keep` flag,
    so a curation run can report per-rule kill counts, not just survivors.
    Complements `repetition_stats` (which measures repetition mass) and
    textstats.quality_score (a scalar score): these are the hard
    structural gates.

    Rules (all pure JVM Column algebra — array lambdas + regexp — and
    exact ANSI-SQL replayable; thresholds are the published ones):
      r_nwords   50 <= word count <= 100000
      r_meanlen  3 <= mean word length <= 10
      r_alpha    > 80% of words contain an ASCII [a-z] character
      r_bullet   < 90% of lines start with a bullet (-, *, •)
      r_ellipsis < 30% of lines end with an ellipsis
      r_symbol   (# + ellipsis occurrences) / words < 0.1
      r_stop     contains >= 2 distinct common ENGLISH stopwords

    ENGLISH-ONLY battery (as in Gopher itself, whose rules were tuned on
    English MassiveWeb): r_alpha tests ASCII letters and r_stop uses an
    English stoplist, so non-Latin-script documents fail both. Run it
    DOWNSTREAM of lang_id on the English partition; for a
    language-neutral gate, swap r_alpha's class for \\p{L} and supply a
    per-language stoplist (both keep the no-shuffle shape).

    Scale: one projection, no shuffle at all — the filter runs at scan
    speed and the per-rule aggregation (if wanted) is one groupBy over
    booleans."""
    rules = gopher_rule_columns(F.col(text_col))
    flags = docs.select(F.col(id_col), *[c.alias(name) for name, c in rules])
    keep = F.lit(True)
    for name, _c in rules:
        keep = keep & F.col(name)
    return flags.withColumn("keep", keep)


def gopher_rule_columns(
    text: Column,
    alpha_class: str = "[a-z]",
    stopwords: list[str] | None = None,
) -> list[tuple[str, Column]]:
    """The (name, boolean Column) list behind gopher_rules — exposed so a
    caller can apply the identical gates as plain Columns (pure Column
    algebra, so they also run unchanged on a streaming DataFrame) without
    an id-keyed join.

    English defaults (as published); for a language-neutral or
    per-language battery pass ``alpha_class`` (e.g. ``"\\p{L}"`` — Java
    regex Unicode letter class, still zero-shuffle) and the target
    language's ``stopwords`` downstream of lang_id."""
    w = words_array(text)
    n_words = F.size(w)
    nw = F.greatest(n_words, F.lit(1)).cast("double")
    mean_len = (
        F.aggregate(w, F.lit(0), lambda acc, x: acc + F.length(x)).cast("double") / nw
    )
    alpha_frac = (
        F.size(F.filter(w, lambda x: x.rlike(alpha_class))).cast("double") / nw
    )
    lines = F.filter(F.split(text, "\n"), lambda l: F.length(F.trim(l)) > 0)
    nl = F.greatest(F.size(lines), F.lit(1)).cast("double")
    bullet_frac = (
        F.size(F.filter(lines, lambda l: F.trim(l).rlike("^(-|\\*|•)"))).cast(
            "double"
        )
        / nl
    )
    ellipsis_frac = (
        F.size(
            F.filter(lines, lambda l: F.trim(l).rlike("(\\.\\.\\.|…)$"))
        ).cast("double")
        / nl
    )
    n_hash = F.length(text) - F.length(F.replace(text, F.lit("#"), F.lit("")))
    n_ellipsis = (
        F.length(text) - F.length(F.replace(text, F.lit("..."), F.lit("")))
    ) / F.lit(3) + (F.length(text) - F.length(F.replace(text, F.lit("…"), F.lit(""))))
    symbol_ratio = (n_hash + n_ellipsis).cast("double") / nw
    # the engine-wide 16-word English stoplist (textstats._EN_STOPWORDS) —
    # one stopword definition across quality_score, lang_id, and this gate
    from ..functions.textstats import _EN_STOPWORDS

    stops = F.array(*[F.lit(s) for s in (stopwords or _EN_STOPWORDS)])
    stop_hits = F.size(
        F.filter(F.array_distinct(w), lambda x: F.array_contains(stops, x))
    )
    return [
        ("r_nwords", (n_words >= 50) & (n_words <= 100000)),
        ("r_meanlen", (mean_len >= 3.0) & (mean_len <= 10.0)),
        ("r_alpha", alpha_frac > 0.8),
        ("r_bullet", bullet_frac < 0.9),
        ("r_ellipsis", ellipsis_frac < 0.3),
        ("r_symbol", symbol_ratio < 0.1),
        ("r_stop", stop_hits >= 2),
    ]


def build_gram_bloom(
    grams: list[str], m_bits: int = 1 << 22, k_hashes: int = 4
):
    """Driver-side Bloom filter over a gram blocklist: a numpy uint64
    bitarray with k xxh64(seed=0..k-1) probes per gram (our own vectorized
    kernel — the same hash family the sketches use, so the filter is
    reproducible across runs and languages). Returns the bitarray; size it
    with m ~= 1.44 * k * n_grams bits for the classic (1/2)^k FPR.

    At 10^9 grams x ~30 B/gram, broadcasting the raw gram set (the
    equi-join in `decontaminate`) ships ~30 GB per executor; a 2^33-bit
    bloom is 1 GB and k=4 gives FPR ~6e-2 at that load, ~1e-3 when sized
    at 2 bytes/gram. False POSITIVES only — a bloom can never miss a real
    contamination, so the filter is sound for decontamination (it can only
    over-drop)."""
    import numpy as np

    from ..functions.simhash import _hash_token_bytes

    if m_bits < 64 or m_bits & (m_bits - 1):
        raise ValueError(f"m_bits must be a power of two >= 64, got {m_bits}")
    arr = np.zeros(m_bits >> 6, dtype=np.uint64)
    if not grams:
        return arr
    enc = [g.encode("utf-8") for g in grams]
    for seed in range(k_hashes):
        idx = _hash_token_bytes(enc, seed) % np.uint64(m_bits)
        np.bitwise_or.at(
            arr, (idx >> np.uint64(6)).astype(np.int64),
            np.uint64(1) << (idx & np.uint64(63)),
        )
    return arr



def bench_gram_bloom(
    benchmark: DataFrame,
    n: int = 4,
    m_bits: int = 1 << 22,
    k_hashes: int = 4,
    text_col: str = "text",
):
    """Bloom bitarray over a benchmark's distinct word n-grams — the
    blocklist build of decontaminate_bloom (one definition, one
    tokenization, one hash family).
    The distinct-gram collect is a one-off driver job; the returned array
    is the caller's to broadcast (and to reuse across corpora/streams)."""
    grams = [
        r["g"]
        for r in benchmark.select(
            F.explode(word_gram_array(words_array(F.col(text_col)), n)).alias("g")
        )
        .distinct()
        .collect()
    ]
    return build_gram_bloom(grams, m_bits=m_bits, k_hashes=k_hashes)


def decontaminate_bloom(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 4,
    m_bits: int = 1 << 22,
    k_hashes: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The 10^9-gram scale path promised by `decontaminate`'s docstring:
    membership against a broadcast Bloom BITARRAY instead of a broadcast
    gram-set join. Returns (id, contaminated) where contaminated=1 iff
    ANY of the doc's n-grams probes fully set.

    Contract: NO false negatives (every doc `decontaminate` flags is
    flagged here — bloom membership is a superset of true membership);
    false positives at the sized FPR only over-drop, the safe direction
    for decontamination. The driver query value-checks the per-row
    no-false-negative boolean against the exact operator; the FPR bound
    is a pytest property.

    Plan shape: benchmark grams stream to the driver once (one distinct
    job — the blocklist build is one-off and reusable across corpora);
    the training side is ONE mapInPandas over (id, text) — no gram
    explode, no shuffle at all, grams are generated and probed in numpy
    inside the Arrow batch."""
    bc = docs.sparkSession.sparkContext.broadcast(
        bench_gram_bloom(benchmark, n, m_bits, k_hashes, text_col)
    )

    from pyspark.sql.types import IntegerType, StructField, StructType

    out_schema = StructType(
        [
            docs.schema[id_col],
            StructField("contaminated", IntegerType(), False),
        ]
    )

    def _check(batches):
        import pandas as _pd

        arr = bc.value
        for pdf in batches:
            flags = bloom_contamination_flags(
                pdf[text_col], arr, n, m_bits, k_hashes
            )
            yield _pd.DataFrame({id_col: pdf[id_col], "contaminated": flags})

    return docs.select(id_col, text_col).mapInPandas(_check, out_schema)


def bloom_contamination_flags(texts, arr, n: int, m_bits: int, k_hashes: int):
    """int32 flag per text: 1 iff ANY word n-gram probes fully set in the
    bloom bitarray `arr` (decontaminate_bloom's probe).

    Gram tokenization mirrors words_array's JVM semantics exactly (the
    no-false-negative contract vs `decontaminate` needs byte-identical
    gram sets): trim strips SPACES only, split is Java \\s = ASCII
    whitespace, and — because Spark's F.split uses limit=-1 — trailing
    empty tokens are KEPT, exactly as re.split keeps them (round-4 review
    fix: popping them made grams on '\\n'-terminated docs diverge and
    produced false negatives). Each DISTINCT gram in the batch hashes
    once (the simhash factorize pattern)."""
    import re

    import numpy as np
    import pandas as _pd

    from ..functions.simhash import _hash_token_bytes

    ws = re.compile(r"[ \t\n\x0b\f\r]+")
    mb = np.uint64(m_bits)
    flags = np.zeros(len(texts), dtype=np.int32)
    per_doc: list[list[str]] = []
    for t in _pd.Series(texts).fillna(""):
        t2 = t.lower().strip(" ")
        w = ws.split(t2) if t2 else []
        per_doc.append(
            [" ".join(w[i : i + n]) for i in range(len(w) - n + 1)]
            if len(w) >= n
            else []
        )
    flat = [g for gs in per_doc for g in gs]
    if flat:
        codes, uniques = _pd.factorize(_pd.Series(flat, dtype=object))
        enc = [u.encode("utf-8") for u in uniques]
        member = np.ones(len(uniques), dtype=bool)
        for seed in range(k_hashes):
            idx = _hash_token_bytes(enc, seed) % mb
            word = (idx >> np.uint64(6)).astype(np.int64)
            bit = np.uint64(1) << (idx & np.uint64(63))
            member &= (arr[word] & bit) != 0
        hit = member[codes]
        pos = 0
        for di, gs in enumerate(per_doc):
            if gs:
                flags[di] = int(hit[pos : pos + len(gs)].any())
                pos += len(gs)
    return flags


def _hash_fraction(key: Column) -> Column:
    """Deterministic uniform-[0,1) value from a string key: the first 8
    hex chars of md5 as an integer over 2^32. md5 and the hex->int
    conversion are engine-portable (Spark `conv` == DuckDB `'0x'||...`
    cast), so a rate comparison replays exactly in ANSI SQL."""
    prefix = F.substring(F.md5(F.encode(key, "utf-8")), 1, 8)
    return F.conv(prefix, 16, 10).cast("double") / F.lit(4294967296.0)


def mixture_sample(
    docs: DataFrame,
    token_budget_per_source: int,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-source corpus mixture sampling to a token budget: each source
    is downsampled at rate min(1, budget / its total whitespace tokens)
    with a deterministic per-document hash draw, so an over-represented
    crawl source shrinks to ~budget tokens while small sources pass
    through whole. Returns per-source accounting
    (group, n_docs, n_tokens, rate, kept_docs, kept_tokens).

    The training-mixture step after curation: dedup/quality gates decide
    WHAT is admissible; this decides HOW MUCH of each source enters the
    mix (cf. the per-source weights of Pile/ROOTS-style corpora).

    Scale shape: one narrow aggregate per source (token totals — map-side
    partial, |sources| rows), broadcast back onto the scan, then one
    stateless hash compare per row; the keep decision never shuffles
    text and is byte-identical across runs and cluster sizes. The rate
    division is exact IEEE double arithmetic on two integers, so any
    engine recomputes the same comparison.
    """
    if token_budget_per_source <= 0:
        raise ValueError("token_budget_per_source must be positive")
    from ..functions.textstats import whitespace_token_count

    toks = docs.select(
        F.col(group_col),
        F.col(id_col),
        whitespace_token_count(F.col(text_col)).cast("bigint").alias("_nt"),
    )
    totals = toks.groupBy(group_col).agg(F.sum("_nt").alias("_tot"))
    rate = F.least(
        F.lit(1.0), F.lit(float(token_budget_per_source)) / F.col("_tot")
    )
    flagged = toks.join(F.broadcast(totals), group_col).select(
        F.col(group_col),
        F.col("_nt"),
        F.col("_tot"),
        rate.alias("_rate"),
        (_hash_fraction(F.col(id_col).cast("string")) < rate).cast("int").alias("_k"),
    )
    return (
        flagged.groupBy(group_col)
        .agg(
            F.count("*").alias("n_docs"),
            F.first("_tot").alias("n_tokens"),
            F.round(F.first("_rate"), 6).alias("rate"),
            F.sum("_k").alias("kept_docs"),
            F.sum(F.col("_nt") * F.col("_k")).alias("kept_tokens"),
        )
        .orderBy(group_col)
    )


def line_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 10,
) -> DataFrame:
    """C4-style corpus-wide line deduplication: of every exact line that
    occurs more than once anywhere in the corpus, keep only its first
    occurrence (earliest (doc_id, position)) and drop the rest; lines
    shorter than `min_len` characters are exempt (blank lines and short
    structural fragments stay put). Returns one row per input doc:
    (id, n_lines, n_kept, clean_text) with the surviving lines rejoined
    in original order — C4 (Raffel et al. 2020) applies exactly this
    before training; boilerplate lines ("cookie policy...") are the
    dominant near-dup source in web text.

    Scale shape: the winner per line is `min(struct(doc_id, pos))` via a
    line-keyed groupBy — partial aggregation combines map-side, so a
    boilerplate line occurring 10^9 times costs one row per input
    partition in the shuffle, NOT a 10^9-row hot partition (a window
    `row_number over (partition by line)` — the obvious formulation —
    would funnel every occurrence of the hottest line into one task).
    Reassembly is one groupBy on the doc id. No joins, no Python."""
    if min_len < 0:
        raise ValueError(f"min_len must be >= 0, got {min_len}")
    lines = docs.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("_pos", "_line"),
    )
    long_ = lines.where(F.length("_line") >= min_len)
    winners = (
        long_.groupBy("_line")
        .agg(F.min(F.struct("_id", "_pos")).alias("_w"))
        .select(
            F.col("_w._id").alias("_id"),
            F.col("_w._pos").alias("_pos"),
            "_line",
        )
    )
    kept = lines.where(F.length("_line") < min_len).unionByName(winners)
    rebuilt = kept.groupBy("_id").agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_line"))),
                lambda s: s["_line"],
            ),
            "\n",
        ).alias("clean_text"),
    )
    # per-doc line totals come from the UN-exploded split array — the
    # kept-lines union already reads the exploded corpus twice (exempt
    # branch + winners branch); a third exploded scan for a count would
    # be pure waste, and persisting the exploded corpus to save the two
    # scans costs more than the re-scan at the sizes this targets
    totals = docs.select(
        F.col(id_col).alias("_id"),
        F.size(F.split(F.col(text_col), "\n")).cast("long").alias("n_lines"),
    )
    return (
        totals.join(rebuilt, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            "n_lines",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


def pack_sequences(
    docs: DataFrame,
    budget_tokens: int,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """GPT-style sequence packing, concat-then-chunk: within each group,
    documents are laid out in id order as one token stream and cut into
    fixed `budget_tokens` blocks; a doc belongs to the pack where its
    FIRST token lands (docs may straddle the boundary — that's the
    actual GPT/LLaMA pretraining layout, not greedy bin packing, whose
    sequential fill order can't parallelize). Returns one row per pack:
    (group, pack_id, n_docs, n_tokens, first_id, last_id).

    Scale shape: one window cumsum per group — parallel across groups,
    so partition the stream by (source, shard) upstream to bound any
    single group's window to one executor's worth; then one groupBy on
    (group, pack). Token counts are whitespace counts (swap in
    bpe_pretoken_count for tokenizer-faithful budgets)."""
    from pyspark.sql.window import Window

    from ..functions.textstats import whitespace_token_count

    if budget_tokens < 1:
        raise ValueError(f"budget_tokens must be >= 1, got {budget_tokens}")
    toks = docs.select(
        F.col(group_col).alias("_g"),
        F.col(id_col).alias("_id"),
        whitespace_token_count(F.col(text_col)).cast("bigint").alias("_nt"),
    )
    w = Window.partitionBy("_g").orderBy("_id")
    laid = toks.withColumn("_cum", F.sum("_nt").over(w)).select(
        "_g",
        "_id",
        "_nt",
        F.expr(f"(_cum - _nt) div {int(budget_tokens)}").alias("_pack"),
    )
    return (
        laid.groupBy("_g", "_pack")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_nt").alias("n_tokens"),
            F.min("_id").alias("first_id"),
            F.max("_id").alias("last_id"),
        )
        .select(
            F.col("_g").alias(group_col),
            F.col("_pack").cast("bigint").alias("pack_id"),
            "n_docs",
            "n_tokens",
            "first_id",
            "last_id",
        )
        .orderBy(group_col, "pack_id")
    )
