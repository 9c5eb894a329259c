"""Sketch/pipeline configuration.

The reference enforces (nsize, hashfun, seed) compatibility dynamically at
every merge (/root/reference/src/minhashsketch.py:183-198); here the
quadruple is a frozen job-level config whose hash is recorded in checkpoint
manifests, so a resume with a different config is rejected once instead of
per-merge.
"""

from __future__ import annotations

import hashlib
import json
import math
from dataclasses import asdict, dataclass, field


def banding_p_hit(tau: float, n_bands: int, rows_per_band: int) -> float:
    """S-curve value at similarity ``tau``: probability a pair whose
    sketch Jaccard is tau shares at least one band key,
    1 - (1 - tau^r)^b."""
    return 1.0 - (1.0 - tau**rows_per_band) ** n_bands


def choose_banding(
    tau: float,
    p_hit_target: float = 0.99,
    bg_jaccard: float = 0.3,
    max_components: int = 256,
    max_rows: int = 32,
) -> tuple[int, int]:
    """Pick (n_bands, rows_per_band) for an LSH threshold ``tau`` by
    minimizing expected verify cost subject to p_hit(tau) >= target.

    For each rows-per-band r, the cheapest feasible band count is the
    minimal b with 1-(1-tau^r)^b >= p_hit_target (pairs AT the threshold
    must surface directly — the round-5 sweep showed recall on tau-edge
    pairs collapses when the implied threshold sits above tau). Among
    feasible (b, r) the chooser minimizes b * bg_jaccard^r — the expected
    number of bands a BACKGROUND pair at similarity bg_jaccard fires,
    i.e. the false-candidate volume the exact-Jaccard verify stage pays
    for (candidate precision at the fixed 32x8 was 0.41: 2.5x the verify
    work of a tighter choice at the same recall). bg_jaccard=0.3 is a
    hard background (real crawl non-dup mass sits lower; a higher value
    only pushes the choice toward larger r, never below the recall
    floor). Ties break to fewer total components b*r (banding CPU), then
    fewer bands. b*r is capped at ``max_components`` — the banding stage
    computes b*r multiply-shift minima per doc, so the cap bounds
    banding CPU; PipelineConfig passes its band_input_k.

    Pure arithmetic — same inputs, same choice, on any machine:
      tau=0.8  -> (26, 8)   p_hit 0.9915, 26/32 the verify cost of 32x8
      tau=0.7  -> (37, 6)
      tau=0.9  -> (18, 14)
    """
    if not 0.0 < tau <= 1.0:
        raise ValueError(f"tau must be in (0, 1], got {tau}")
    if not 0.0 < p_hit_target < 1.0:
        raise ValueError(f"p_hit_target must be in (0, 1), got {p_hit_target}")
    if not 0.0 <= bg_jaccard < tau:
        raise ValueError(
            f"bg_jaccard must be in [0, tau), got {bg_jaccard} (tau={tau})"
        )
    best_key: tuple | None = None
    best: tuple[int, int] | None = None
    for r in range(1, max_rows + 1):
        p = tau**r
        if p >= 1.0:  # tau == 1: identical sketches match any band
            b = 1
        else:
            b = max(1, math.ceil(math.log(1.0 - p_hit_target) / math.log(1.0 - p)))
        if b * r > max_components:
            continue
        key = (b * (bg_jaccard**r), b * r, b)
        if best_key is None or key < best_key:
            best_key, best = key, (b, r)
    if best is None:
        raise ValueError(
            f"no (bands, rows) meets p_hit({tau}) >= {p_hit_target} within "
            f"{max_components} components; raise max_components or lower the target"
        )
    return best



def _config_hash(cfg, layout: int | None = None) -> str:
    """One hashing recipe for every frozen config dataclass: JSON of every
    field (and of a stage-layout version, when given), sorted keys,
    sha256[:16]. A single definition keeps the manifest-hash format
    identical across Sketch/Pipeline/Curation configs — divergent copies
    would silently desynchronize checkpoint gating."""
    fields = asdict(cfg)
    if layout is not None:
        fields["_layout"] = layout
    payload = json.dumps(fields, sort_keys=True).encode()
    return hashlib.sha256(payload).hexdigest()[:16]


# Version of what the pipeline's stages hold for a given PipelineConfig.
# Bump it when a stage's rows change for the same config, so a checkpoint
# written by the old stages is never resumed. 2: the candidates stage holds
# round-1 hub pairs and the edges stage round-1 and round-2 edges
# (operators/candidates.py).
PIPELINE_LAYOUT = 2


@dataclass(frozen=True)
class SketchConfig:
    """Canonical config per FIXTURES.md §3 (reference defaults)."""

    nsize: int = 21  # shingle width in bytes (reference tests' standard)
    maxsize: int = 256  # sketch size k
    hash_name: str = "xxh64"  # /root/reference/src/_xxhash.c:4 (seed 0)
    seed: int = 0
    minmax: str = "min"  # bottom-k MinSketch ("max" = top-k MaxSketch)
    # pre-hash window canonicalization: "none" hashes each window as-is;
    # "dna_rc" hashes the lexicographically smaller of (window,
    # reverse-complement(window)) — the MASH canonical k-mer scheme of the
    # reference's hasharray_withrc (/root/reference/src/_murmurhash3_mash.cpp
    # :13-81). Named (not a callable) so the config stays hashable/picklable;
    # kernels resolve it via functions.sketch_np.CANONICALIZERS.
    canonical: str = "none"

    def config_hash(self) -> str:
        return _config_hash(self)


@dataclass(frozen=True)
class PipelineConfig:
    sketch: SketchConfig = field(default_factory=SketchConfig)
    # LSH banding: n_bands OPH multiply-shift rehash keys per doc, each key
    # digesting rows_per_band dense-OPH slots of the sketch contents
    # (operators/banding.py — NOT a sorted-prefix split).
    # Default None/None = ADAPTIVE (round-7): choose_banding picks the
    # cheapest (b, r) whose S-curve still hits p_hit(tau) >= 0.99 — at
    # tau=0.8 that is (26, 8), 26/32 the verify work of the old fixed
    # 32x8 (p_hit 0.9915 vs 0.9972, both >= target; the round-5 sweep in
    # BENCH/BASELINE.md showed 32x8's candidate precision 0.41 = 2.5x the
    # verify cost of tighter choices). Setting a non-0.8 tau now retunes
    # banding automatically instead of silently reusing an 0.8-tuned
    # shape (the round-5 16x16 bug class). Explicit n_bands+rows_per_band
    # (both together) still pin the shape exactly.
    n_bands: int | None = None
    rows_per_band: int | None = None
    jaccard_threshold: float = 0.8
    # banding reads only the bottom band_input_k sketch values: a KMV
    # prefix of the sketch is itself a KMV sketch, so component-match
    # probability is still the (sub)sketch Jaccard — at maxsize=1000 this
    # cuts banding CPU 4x with the same S-curve
    band_input_k: int = 256
    # skew control: every band bucket is first star-linked (each member
    # pairs with the bucket's min id); only a bucket of at most this many
    # docs is then paired across the star's verified components (round 2,
    # operators/candidates.py), so the cap bounds round 2's lists. Caveat:
    # if one over-cap bucket holds multiple distinct near-dup cliques,
    # intra-bucket edges between non-center members are not emitted and
    # recall for those pairs relies on the other n_bands-1 bands.
    band_group_cap: int = 2000
    min_doc_bytes: int = 21  # docs shorter than one shingle produce no sketch
    # long-document sharding: when > 0, docs whose UTF-8 encoding exceeds
    # this many bytes are sketched as overlapping chunks and merged
    # (operators/sharding.py) — bounds per-task input; 0 disables. The
    # merged sketch is bit-identical either way, so this is a physical
    # knob, but it changes stage row counts and thus participates in
    # config_hash like everything else.
    shard_chunk_bytes: int = 0
    # verify phase-1 prefix width: the bottom-prefilter_k prefix of each
    # signature estimates full-sketch Jaccard with sigma ~ sqrt(t(1-t)/K);
    # pairs below tau - 6*sigma are dropped before the exact pass. The
    # normal 6-sigma reading (~1e-9) overstates the guarantee — the
    # Binomial(K, tau) tail at that cut is ~1e-7 per pair at K=64 — so for
    # exactness-sensitive runs (the final edge set must be EXACTLY the
    # tau-set with overwhelming probability at billions of candidates)
    # raise this to 128-256; 64 keeps the join payload at 512B/side.
    prefilter_k: int = 64
    # where document text comes from: "column" trusts the pages table's
    # text column (the default — a crawl store that already ran extraction
    # with the byte-identity invariant); "html" runs the native HTML
    # extractor (operators/extraction.py) on the html column inside the
    # extract stage, the raw-WARC ingest shape. Output-affecting (the text
    # fed to sketching differs if the stored column ever drifts from the
    # html), so it participates in config_hash.
    text_source: str = "column"
    # Unicode normalization applied to the extracted text before any
    # hashing: "none" (default — preserves the byte-identity invariant
    # with a store that did its own normalization), "nfc" or "nfkc"
    # (functions/unicode_norm.py, Arrow-batched). Composed-vs-decomposed
    # variants of the same visible text hash to different sketches, so a
    # raw-crawl ingest should turn this on. Output-affecting.
    normalize: str = "none"
    # C4-style corpus-wide line dedup inside the extract stage: lines of
    # at least this many chars keep only their first (url, position)
    # occurrence corpus-wide (operators/corpus.line_dedup — skew-proof
    # min(struct) winner). 0 disables (default). Output-affecting: the
    # text fed to sketching loses duplicated boilerplate lines — and a
    # doc whose EVERY line is a dup (e.g. a single-line exact duplicate)
    # is emptied and dropped by min_doc_bytes here, so it never reaches
    # the exact-collapse stage or the finalize election: C4 ordering
    # removes duplicated CONTENT before doc-level dedup sees it.
    line_dedup_min_len: int = 0

    def __post_init__(self) -> None:
        # adaptive banding: both unset -> derive from (tau, band_input_k);
        # the resolved ints are what config_hash sees, so two configs that
        # resolve identically hash identically and a tau change that moves
        # the choice invalidates checkpoints exactly as an explicit change
        # would
        if (self.n_bands is None) != (self.rows_per_band is None):
            raise ValueError(
                "set n_bands and rows_per_band together, or neither "
                "(adaptive); one without the other is ambiguous"
            )
        if self.n_bands is None:
            b, r = choose_banding(
                self.jaccard_threshold, max_components=self.band_input_k
            )
            object.__setattr__(self, "n_bands", b)
            object.__setattr__(self, "rows_per_band", r)

    def config_hash(self) -> str:
        # hash EVERY field: any output-affecting config change (band_input_k
        # changes band keys, band_group_cap changes candidate pairs,
        # min_doc_bytes changes extract) must invalidate checkpoints —
        # resuming across a semantic change would silently give wrong clusters
        return _config_hash(self, PIPELINE_LAYOUT)


@dataclass(frozen=True)
class CurationConfig:
    """Funnel-stage knobs for operators/curation.curation_funnel, hashed
    into the run manifest the same way PipelineConfig gates checkpoint
    resume: every field is output-affecting (it changes which documents
    survive), so the recorded hash pins exactly which funnel produced a
    curated table. Tables (robots rules, benchmark set) are referenced by
    PATH here — the hash covers the pointer; content-addressing the table
    itself is the store's job (plans/versioned.py snapshots)."""

    quality_min: float = 0.4
    passage_words: int = 16
    max_dup_frac: float = 0.5
    ngram: int = 4
    # round-6 gate stages (all off by default — the funnel is then
    # byte-identical to the pre-round-6 five-stage output)
    url_col: str | None = None
    blocked_hosts: tuple[str, ...] = ()
    blocked_path_terms: tuple[str, ...] = ()
    robots_path: str | None = None  # parquet of (host, body) robots bodies
    agent: str = "*"
    classifier_weights: tuple[int, ...] = ()
    classifier_min: int = 0
    # round-7 CCNet-style LM filter (off unless lm_reference_path set)
    lm_reference_path: str | None = None
    lm_head_cut_e6: int | None = None
    lm_tail_cut_e6: int | None = None
    lm_keep: tuple[str, ...] = ("head", "middle")

    def config_hash(self) -> str:
        return _config_hash(self)

    def funnel_kwargs(self) -> dict:
        """kwargs for curation_funnel (the robots table itself is loaded
        by the caller from robots_path)."""
        return {
            "quality_min": self.quality_min,
            "passage_words": self.passage_words,
            "max_dup_frac": self.max_dup_frac,
            "ngram": self.ngram,
            "url_col": self.url_col,
            "blocked_hosts": list(self.blocked_hosts),
            "blocked_path_terms": list(self.blocked_path_terms),
            "agent": self.agent,
            "classifier_weights": list(self.classifier_weights),
            "classifier_min": self.classifier_min,
            "lm_head_cut_e6": self.lm_head_cut_e6,
            "lm_tail_cut_e6": self.lm_tail_cut_e6,
            "lm_keep": tuple(self.lm_keep),
        }
