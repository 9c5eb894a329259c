"""Star-first verify rounds: the clusters of round-1 and round-2 edges equal
the clusters of verifying every pair the full pairing would score (every
pair of an under-cap bucket, the hub pairs of an over-cap one), on band
tables built to break a round-1-only linking."""

from __future__ import annotations

import itertools

import pytest

from mashing_pumpkins_spark.config import PipelineConfig
from mashing_pumpkins_spark.operators.candidates import candidate_pairs
from mashing_pumpkins_spark.operators.connected_components import connected_components_auto
from mashing_pumpkins_spark.plans.pipeline import verified_rounds

TAU = 0.75
CAP = 6


def _window(i: int) -> list[int]:
    """Sliding windows along a line: J(i, i+1) = 0.82, J(i, i+2) = 0.67,
    so at tau 0.75 only neighbours verify."""
    return list(range(10 * i, 10 * i + 100))


def _far(i: int) -> list[int]:
    """Disjoint from every other signature."""
    return list(range(100_000 + 1_000 * i, 100_000 + 1_000 * i + 100))


# bucket -> members (url -> signature). url order fixes each bucket's hub.
BUCKETS = {
    # two cliques in one under-cap bucket; the hub is in clique a, so
    # round 1 verifies clique a only and round 2 must find clique b
    (0, 1): {
        "a1": _window(0), "a2": _window(0), "a3": _window(0),
        "b1": _window(50), "b2": _window(50), "b3": _window(50),
    },
    # a chain c0~c1~c2~c3: round 1 links only c0-c1, round 2 joins c2, c3
    (0, 2): {"c0": _window(20), "c1": _window(21), "c2": _window(22), "c3": _window(23)},
    # every pair fails in both rounds
    (0, 3): {"p": _far(0), "q": _far(1), "r": _far(2), "s": _far(3)},
    # an over-cap bucket of two cliques: the star links the hub's clique,
    # the other clique stays unlinked, as under the full pairing
    (1, 1): {
        **{f"o{i}": _window(70) for i in range(4)},
        **{f"x{i}": _window(90) for i in range(4)},
    },
    # a second band re-collides two of clique b with a fresh member, so a
    # round-2 pair can also be a round-1 pair of another bucket
    (1, 2): {"b2": _window(50), "b3": _window(50), "b4": _window(51)},
}


def _jaccard(a: list[int], b: list[int]) -> float:
    sa, sb = set(a), set(b)
    return len(sa & sb) / len(sa | sb)


def _reference(buckets: dict) -> tuple[dict[str, str], int]:
    """(url -> min url of its component, scored pairs) of the full pairing:
    a driver union-find over every verified pair of the same buckets."""
    parent: dict[str, str] = {}

    def find(u: str) -> str:
        while parent.setdefault(u, u) != u:
            u = parent[u]
        return u

    scored, linked = set(), set()
    for members in buckets.values():
        urls = sorted(members)
        if len(urls) > CAP:
            pairs = [(urls[0], u) for u in urls[1:]]
        else:
            pairs = list(itertools.combinations(urls, 2))
        for a, b in pairs:
            scored.add((a, b))
            if _jaccard(members[a], members[b]) >= TAU:
                ra, rb = find(a), find(b)
                parent[max(ra, rb)] = min(ra, rb)
                linked |= {a, b}
    return {u: find(u) for u in linked}, len(scored)


@pytest.fixture(scope="module")
def rounds(spark):
    sigs = {u: s for members in BUCKETS.values() for u, s in members.items()}
    signatures = spark.createDataFrame(sorted(sigs.items()), "url string, sig array<bigint>")
    bands = spark.createDataFrame(
        [(u, bid, key) for (bid, key), members in BUCKETS.items() for u in members],
        "url string, band_id int, band_key bigint",
    )
    cfg = PipelineConfig(jaccard_threshold=TAU, band_group_cap=CAP)
    pairs, _ = candidate_pairs(bands, cfg)
    edges, round1 = verified_rounds(pairs, bands, signatures, cfg)
    try:
        got_edges = {(r["url_a"], r["url_b"]) for r in edges.collect()}
        clusters, _ = connected_components_auto(edges)
        got = {r["url"]: r["cluster_id"] for r in clusters.collect()}
        n_round1 = pairs.count()
    finally:
        round1.unpersist()
    return got, got_edges, n_round1


def test_rounds_clusters_equal_full_pairing(rounds):
    got, _, _ = rounds
    want, _ = _reference(BUCKETS)
    assert got == want


@pytest.mark.parametrize(
    "members, cluster",
    [
        (["b1", "b2", "b3", "b4"], "b1"),  # the second clique of one bucket
        (["c0", "c1", "c2", "c3"], "c0"),  # the chain round 1 splits
        (["a1", "a2", "a3"], "a1"),
        (["o0", "o1", "o2", "o3"], "o0"),
    ],
)
def test_rounds_link_each_planted_group(rounds, members, cluster):
    got, _, _ = rounds
    assert {got.get(u) for u in members} == {cluster}


def test_rounds_leave_failing_and_unstarred_members_alone(rounds):
    got, edges, _ = rounds
    # the all-fail bucket and the over-cap bucket's non-hub clique
    for u in ["p", "q", "r", "s", "x0", "x1", "x2", "x3"]:
        assert u not in got
    sigs = {u: s for members in BUCKETS.values() for u, s in members.items()}
    assert all(_jaccard(sigs[a], sigs[b]) >= TAU for a, b in edges)


def test_rounds_score_no_more_pairs_than_the_full_pairing(rounds):
    _, edges, n_round1 = rounds
    _, n_full = _reference(BUCKETS)
    # round 1 is one hub pair per non-hub member and bucket, deduped
    assert n_round1 == 5 + 3 + 3 + 7 + 2
    assert n_round1 < n_full
    # b1 (whose only round-1 pair was the failing one to hub a1) and the
    # chain tail are linked by round-2 edges
    assert {("b1", "b2"), ("b1", "b3"), ("c1", "c2"), ("c2", "c3")} <= edges


def test_rounds_skip_round_two_when_every_hub_pair_verifies(spark):
    """When every round-1 pair verifies, each bucket is one component and
    round 2 would be empty: the edges are round 1's, with no labelling."""
    buckets = {k: BUCKETS[k] for k in [(1, 2)]}
    buckets[(0, 1)] = {u: s for u, s in BUCKETS[(0, 1)].items() if u.startswith("a")}
    sigs = {u: s for members in buckets.values() for u, s in members.items()}
    signatures = spark.createDataFrame(sorted(sigs.items()), "url string, sig array<bigint>")
    bands = spark.createDataFrame(
        [(u, bid, key) for (bid, key), members in buckets.items() for u in members],
        "url string, band_id int, band_key bigint",
    )
    cfg = PipelineConfig(jaccard_threshold=TAU, band_group_cap=CAP)
    pairs, _ = candidate_pairs(bands, cfg)
    edges, round1 = verified_rounds(pairs, bands, signatures, cfg)
    try:
        assert edges is round1
        clusters, _ = connected_components_auto(edges)
        got = {r["url"]: r["cluster_id"] for r in clusters.collect()}
    finally:
        round1.unpersist()
    assert got == _reference(buckets)[0]
    assert set(got.values()) == {"a1", "b2"}
