"""Streaming heap re-implementation of the reference sketch semantics.

This is the *test oracle*: an independently written, deliberately naive
single-pass insert-or-replace heap sketch with the same observable
semantics as the reference's `_minmaxhash_add_ngrams`
(reference src/minhashsketch.py:13-82) — k distinct extreme uint64
hashes, `nvisited` counting shingles considered, associative/commutative
merge with config compatibility checks. The Spark engine never calls this;
tests assert engine output == oracle output, mirroring how the reference's
own suite recomputes brute-force oracles in-test
(reference src/tests/test_minhashsketch.py:15-27).

Known reference defects intentionally NOT reproduced (SURVEY.md §7.3):
``__iadd__`` returning None, ``SketchList.map_sequences`` generator
exhaustion, Bray-Curtis summing keys.
"""

from __future__ import annotations

import heapq
from collections import Counter

from mashing_pumpkins_spark.config import SketchConfig
from mashing_pumpkins_spark.functions.sketch_np import doc_hashes

MASK64 = (1 << 64) - 1


class HeapSketch:
    """Bottom-k ('min') or top-k ('max') sketch of distinct uint64 hashes."""

    def __init__(self, cfg: SketchConfig):
        self.cfg = cfg
        self.nvisited = 0
        # heap root must be the *eviction candidate*: for bottom-k that is
        # the largest retained value, so store negated values (the same
        # trick as reference src/minhashsketch.py:8-10, :396).
        self._sign = -1 if cfg.minmax == "min" else 1
        self._heap: list[int] = []
        self._members: set[int] = set()

    def __len__(self) -> int:
        return len(self._heap)

    def __contains__(self, h: int) -> bool:
        return (h & MASK64) in self._members

    def _consider(self, h: int) -> None:
        h &= MASK64
        if h in self._members:
            return
        key = self._sign * h
        if len(self._heap) < self.cfg.maxsize:
            heapq.heappush(self._heap, key)
            self._members.add(h)
        elif key > self._heap[0]:
            evicted = heapq.heapreplace(self._heap, key)
            self._members.discard(self._sign * evicted)
            self._members.add(h)

    def add(self, data: bytes) -> "HeapSketch":
        hashes = doc_hashes(data, self.cfg)
        for h in hashes.tolist():
            self._consider(h)
        self.nvisited += int(hashes.shape[0])
        return self

    def add_hashvalues(self, values) -> "HeapSketch":
        """Ingest pre-hashed values; does NOT bump nvisited (reference
        behavior, reference src/minhashsketch.py:272-275)."""
        for h in values:
            self._consider(int(h))
        return self

    def update(self, other: "HeapSketch") -> "HeapSketch":
        self._check_compat(other)
        for h in other._members:
            self._consider(h)
        self.nvisited += other.nvisited
        return self

    def __add__(self, other: "HeapSketch") -> "HeapSketch":
        self._check_compat(other)
        res = type(self)(self.cfg)
        res.update(self)
        res.update(other)
        return res

    def _check_compat(self, other: "HeapSketch") -> None:
        if self.cfg != other.cfg:
            raise ValueError(
                f"incompatible sketch configs: {self.cfg} vs {other.cfg}"
            )

    def freeze(self) -> frozenset:
        return frozenset(self._members)

    def sorted_values(self) -> list[int]:
        return sorted(self._members)


class HeapCountSketch(HeapSketch):
    """Sketch + per-retained-hash sighting counts (reference CountTrait,
    reference src/minhashsketch.py:536-565)."""

    def __init__(self, cfg: SketchConfig):
        super().__init__(cfg)
        self.counts: Counter = Counter()

    def _consider(self, h: int) -> None:
        h &= MASK64
        if h in self._members:
            self.counts[h] += 1
            return
        before = len(self._members)
        super()._consider(h)
        if h in self._members:
            self.counts[h] += 1
            if len(self._members) == before:  # something was evicted
                for key in list(self.counts):
                    if key not in self._members:
                        del self.counts[key]

    def update(self, other: "HeapCountSketch") -> "HeapCountSketch":
        self._check_compat(other)
        for h in other._members:
            h &= MASK64
            if h in self._members:
                self.counts[h] += other.counts[h]
            else:
                before_members = set(self._members)
                super(HeapCountSketch, self)._consider(h)
                if h in self._members:
                    self.counts[h] += other.counts[h]
                    for key in before_members - self._members:
                        del self.counts[key]
        self.nvisited += other.nvisited
        return self
