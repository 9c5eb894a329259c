"""Ground truth and output checks.

The truth is computed on the benchmark side from the generated texts:
sketches with the library's single-core kernel
(``functions.sketch_np.signatures_from_buffer``) and pair Jaccard with its
sorted-merge kernel (``operators._intersect_cext``), with the numpy
intersection as the fallback when no C compiler is present. A dup pair is
a pair planted in one cluster whose sketch Jaccard is at least the
threshold, the same definition the pipeline tests use.
"""

from __future__ import annotations

import hashlib

import numpy as np


class Sketches:
    """Flat layout of one sketch per text: values, starts, lens."""

    def __init__(self, texts: list[str], sketch_cfg):
        from mashing_pumpkins_spark.functions.sketch_np import signatures_from_buffer

        raw = [t.encode("utf-8") for t in texts]
        lens = np.fromiter((len(r) for r in raw), np.int64, len(raw))
        starts = np.zeros(len(raw), np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        buf = np.frombuffer(b"".join(raw), dtype=np.uint8)
        flat, offs, _ = signatures_from_buffer(buf, starts, lens, sketch_cfg)
        offs = offs.astype(np.int64)
        self.vals = flat
        self.starts = offs[:-1]
        self.lens = np.diff(offs)

    def jaccard(self, ia: np.ndarray, ib: np.ndarray) -> np.ndarray:
        from mashing_pumpkins_spark.operators import _intersect_cext

        ia = np.asarray(ia, np.int64)
        ib = np.asarray(ib, np.int64)
        inter = _intersect_cext.intersect_counts_indexed(
            self.vals, self.starts, self.lens, ia, ib
        )
        if inter is None:
            inter = np.array(
                [
                    np.intersect1d(self._row(a), self._row(b), assume_unique=True).size
                    for a, b in zip(ia, ib)
                ],
                np.int64,
            )
        union = self.lens[ia] + self.lens[ib] - inter
        out = np.zeros(ia.shape[0], np.float64)
        ok = (self.lens[ia] > 0) & (self.lens[ib] > 0)
        out[ok] = inter[ok] / union[ok]
        return out

    def _row(self, i: int) -> np.ndarray:
        return self.vals[self.starts[i] : self.starts[i] + self.lens[i]]


def within_label_pairs(label: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Every (i, j), i < j, with label[i] == label[j]."""
    order = np.argsort(label, kind="stable")
    bounds = np.flatnonzero(np.diff(label[order])) + 1
    ia, ib = [], []
    for grp in np.split(order, bounds):
        if grp.size < 2:
            continue
        a, b = np.triu_indices(grp.size, 1)
        ia.append(grp[a])
        ib.append(grp[b])
    if not ia:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    return np.concatenate(ia), np.concatenate(ib)


def truth_pairs(
    label: np.ndarray, sk: Sketches, tau: float, seed: int, cap: int = 20000
) -> tuple[np.ndarray, np.ndarray]:
    """Planted dup pairs: same planted cluster and sketch Jaccard >= tau.
    A cluster with more than ``cap`` pairs contributes a seeded uniform
    sample of ``cap`` of them."""
    ia, ib = within_label_pairs(label)
    _, first, counts = np.unique(label[ia], return_index=True, return_counts=True)
    rng = np.random.default_rng(seed)
    pick = [
        (np.sort(rng.choice(c, cap, replace=False)) if c > cap else np.arange(c)) + f
        for f, c in zip(first, counts)
    ]
    if pick:
        sel = np.concatenate(pick)
        ia, ib = ia[sel], ib[sel]
    keep = sk.jaccard(ia, ib) >= tau
    return ia[keep], ib[keep]


def cluster_labels(urls: list[str], assign: dict[str, str]) -> np.ndarray:
    """Output cluster per doc as an int array; docs the pipeline left out
    (singletons) each get a label of their own."""
    ids: dict[str, int] = {}
    out = np.empty(len(urls), np.int64)
    for i, u in enumerate(urls):
        cid = assign.get(u)
        out[i] = ids.setdefault(cid, len(ids)) if cid is not None else -1 - i
    return out


def _co_pairs(labels: np.ndarray) -> int:
    _, counts = np.unique(labels, return_counts=True)
    return int((counts * (counts - 1) // 2).sum())


def pair_quality(
    planted: np.ndarray, found: np.ndarray, truth: tuple[np.ndarray, np.ndarray]
) -> tuple[float, float]:
    """(recall, precision). Recall: share of truth pairs the output puts in
    one cluster. Precision: share of the output's co-clustered pairs that
    lie in one planted cluster."""
    ia, ib = truth
    recall = float(np.mean(found[ia] == found[ib])) if ia.size else 1.0
    # one label per (output cluster, planted cluster) cell; singleton
    # output labels are negative, so shift them to start at 0 first
    both = (found - found.min()) * (int(planted.max()) + 1) + planted
    co_out = _co_pairs(found)
    precision = _co_pairs(both) / co_out if co_out else 1.0
    return recall, precision


def digest(rows: list[tuple[str, str]]) -> str:
    h = hashlib.sha256()
    for a, b in sorted(rows):
        h.update(f"{a}\t{b}\n".encode())
    return h.hexdigest()


def union_find(n: int, ia: np.ndarray, ib: np.ndarray) -> np.ndarray:
    parent = np.arange(n)

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(ia.tolist(), ib.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return np.array([find(i) for i in range(n)])


def refresh_expectation(inputs, cfg) -> tuple[dict, set]:
    """Brute-force expectation for index_refresh: (matches, fresh).

    Intra-batch: every batch pair with sketch Jaccard >= tau is an edge;
    in each component all but the minimum url lose. Matches: every planted
    (survivor, committed source) pair with sketch Jaccard >= tau, keyed
    (new_url, match_url) -> Jaccard rounded as the program rounds it.
    Fresh: the survivors that matched nothing."""
    tau = cfg.jaccard_threshold
    batch, comm = inputs.batch, inputs.committed
    bsk = Sketches(batch.texts, cfg.sketch)
    n = batch.n_docs
    ia, ib = np.triu_indices(n, 1)
    edge = bsk.jaccard(ia, ib) >= tau
    root = union_find(n, ia[edge], ib[edge])
    min_url: dict[int, str] = {}
    for i, r in enumerate(root.tolist()):
        u = batch.urls[i]
        if r not in min_url or u < min_url[r]:
            min_url[r] = u
    losers = {batch.urls[i] for i, r in enumerate(root.tolist()) if batch.urls[i] != min_url[r]}

    both = Sketches(batch.texts + comm.texts, cfg.sketch)
    pa = np.array([b for b, _ in inputs.planted], np.int64)
    pc = np.array([n + c for _, c in inputs.planted], np.int64)
    jac = both.jaccard(pa, pc)
    matches = {}
    for b, c, j in zip(pa.tolist(), pc.tolist(), jac.tolist()):
        if j >= tau and batch.urls[b] not in losers:
            matches[(batch.urls[b], comm.urls[c - n])] = round(j, 9)
    matched = {u for u, _ in matches}
    fresh = {u for u in batch.urls if u not in losers and u not in matched}
    return matches, fresh
