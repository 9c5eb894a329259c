"""Seeded input generators and their planted ground truth.

Every generator is a pure function of ``(seed, size)``: the same seed gives
byte-identical inputs. The program under test only ever sees the written
``(url, text)`` tables; the planted structure (cluster labels, planted
pairs) stays on the benchmark side for the output checks.

- ``crawl_dedup``: the library's own synthetic crawl corpus
  (``sources.synthetic.generate_pages``): long docs, light duplication.
- ``dup_storm``: short docs in a few huge near-dup clusters (hundreds of
  members each, every pair above the threshold) plus one template cluster
  larger than ``band_group_cap`` so the star path runs, and a slice of
  byte-identical copies for the exact stage.
- ``index_refresh``: a committed corpus of distinct docs and a new batch
  that plants near-dups of committed docs, intra-batch near-dup groups
  and fresh singles.
"""

from __future__ import annotations

import random
import string
from dataclasses import dataclass, field

import numpy as np

# Doc counts per size. "full" is what the benchmark measures; "tiny" is the
# smoke-run size (every code path, seconds per call).
SIZES = {
    "crawl_dedup": {"full": {"pages": 2000}, "tiny": {"pages": 300}},
    "dup_storm": {
        "full": {"clusters": 6, "members": 400, "template": 3500, "copies": 400},
        "tiny": {"clusters": 2, "members": 40, "template": 3500, "copies": 20},
    },
    "index_refresh": {
        "full": {"committed": 1500, "near": 100, "groups": 50, "singles": 200},
        "tiny": {"committed": 300, "near": 20, "groups": 10, "singles": 30},
    },
}


@dataclass
class Corpus:
    """A generated doc table with its planted cluster labels.

    ``label[i]`` is the planted cluster of doc ``i``; docs planted as
    unrelated carry distinct labels."""

    urls: list[str]
    texts: list[str]
    label: np.ndarray

    @property
    def n_docs(self) -> int:
        return len(self.urls)

    @property
    def n_bytes(self) -> int:
        return sum(len(t.encode("utf-8")) for t in self.texts)


@dataclass
class RefreshInputs:
    """index_refresh inputs: the committed corpus, the new batch, and the
    planted (batch index, committed index) near-dup pairs."""

    committed: Corpus
    batch: Corpus
    planted: list[tuple[int, int]] = field(default_factory=list)


def _vocab(rng: random.Random, n: int) -> list[str]:
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(string.ascii_lowercase) for _ in range(rng.randint(3, 9))))
    return sorted(words)


def _url(prefix: str, seed: int, i: int) -> str:
    # stable, seed-dependent, and not in generation order (so min-url hubs
    # are not simply the first member planted)
    h = random.Random(f"{prefix}-{seed}-{i}").getrandbits(48)
    return f"https://{prefix}{i % 97:02d}.ex/{h:012x}"


def _substitute(tokens: list[str], vocab: list[str], rng: random.Random, n_edits: int) -> list[str]:
    out = list(tokens)
    for _ in range(n_edits):
        out[rng.randrange(len(out))] = rng.choice(vocab)
    return out


def crawl_dedup(seed: int, pages: int) -> Corpus:
    from mashing_pumpkins_spark.sources.synthetic import generate_pages

    pages_pd, oracle = generate_pages(pages, seed=seed)
    assert list(oracle["url"]) == list(pages_pd["url"])
    return Corpus(
        list(pages_pd["url"]),
        list(pages_pd["text"]),
        oracle["oracle_cluster_id"].to_numpy(np.int64),
    )


def dup_storm(seed: int, clusters: int, members: int, template: int, copies: int) -> Corpus:
    """Short docs (110 words) in ``clusters`` near-dup clusters of
    ``members`` docs, each member one token substitution away from its
    base (pairwise sketch Jaccard ~0.85-0.9, so every pair is a dup pair
    and whole clusters land in shared band buckets), plus a template
    cluster of ``template`` docs that differ only in a 3-byte trailing tag —
    its band buckets exceed the default band_group_cap (2000), which
    forces the star-linking path — and ``copies`` byte-identical copies of
    cluster members."""
    rng = random.Random(seed * 7919 + 1)
    vocab = _vocab(rng, 4000)
    urls: list[str] = []
    texts: list[str] = []
    label: list[int] = []
    seen: set[str] = set()

    def add(text: str, lab: int) -> None:
        urls.append(_url("storm", seed, len(urls)))
        texts.append(text)
        label.append(lab)

    for c in range(clusters):
        base = [rng.choice(vocab) for _ in range(110)]
        made = 0
        while made < members:
            text = " ".join(_substitute(base, vocab, rng, 1))
            if text in seen:
                continue
            seen.add(text)
            add(text, c)
            made += 1
    # the template and its 3-byte tag keep every shingle inside the 256-value
    # sketch: no member's tag can evict a template value from its sketch,
    # so a band key changes only when a tag shingle wins a component minimum
    words = []
    while len(" ".join(words)) < 230:
        words.append(rng.choice(vocab))
    tmpl = " ".join(words)
    ids: set[str] = set()
    while len(ids) < template:
        ids.add("".join(rng.choice(string.ascii_lowercase + string.digits) for _ in range(3)))
    for tag in sorted(ids):
        add(f"{tmpl} {tag}", clusters)
    cluster_rows = clusters * members
    for _ in range(copies):
        j = rng.randrange(cluster_rows)
        add(texts[j], label[j])
    return Corpus(urls, texts, np.asarray(label, np.int64))


def index_refresh(seed: int, committed: int, near: int, groups: int, singles: int) -> RefreshInputs:
    """Committed corpus of distinct 120-250 word docs; batch of ``near``
    one-substitution near-dups of distinct committed docs (each must
    match its source), ``groups`` intra-batch near-dup groups of 2-3 new
    docs (the intra-batch pass keeps one per group) and ``singles`` fresh
    docs."""
    rng = random.Random(seed * 104729 + 3)
    vocab = _vocab(rng, 6000)

    def doc(lo: int, hi: int) -> list[str]:
        return [rng.choice(vocab) for _ in range(rng.randint(lo, hi))]

    c_tokens = [doc(120, 250) for _ in range(committed)]
    c_urls = [_url("corpus", seed, i) for i in range(committed)]
    comm = Corpus(c_urls, [" ".join(t) for t in c_tokens], np.arange(committed, dtype=np.int64))

    b_urls: list[str] = []
    b_texts: list[str] = []
    b_label: list[int] = []
    planted: list[tuple[int, int]] = []
    next_label = committed

    def add(text: str, lab: int) -> int:
        b_urls.append(_url("batch", seed, len(b_urls)))
        b_texts.append(text)
        b_label.append(lab)
        return len(b_urls) - 1

    for src in rng.sample(range(committed), near):
        i = add(" ".join(_substitute(c_tokens[src], vocab, rng, 1)), src)
        planted.append((i, src))
    for _ in range(groups):
        base = doc(120, 250)
        for _ in range(rng.randint(2, 3)):
            add(" ".join(_substitute(base, vocab, rng, 1)), next_label)
        next_label += 1
    for _ in range(singles):
        add(" ".join(doc(60, 250)), next_label)
        next_label += 1
    # shuffle the batch so planted kinds interleave across partitions
    order = list(range(len(b_urls)))
    rng.shuffle(order)
    pos = {old: new for new, old in enumerate(order)}
    batch = Corpus(
        [b_urls[o] for o in order],
        [b_texts[o] for o in order],
        np.asarray([b_label[o] for o in order], np.int64),
    )
    return RefreshInputs(comm, batch, [(pos[i], s) for i, s in planted])


def generate(workload: str, seed: int, size: str):
    params = SIZES[workload][size]
    return {"crawl_dedup": crawl_dedup, "dup_storm": dup_storm, "index_refresh": index_refresh}[
        workload
    ](seed, **params)
