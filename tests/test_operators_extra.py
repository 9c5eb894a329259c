"""Tests: simhash, ANN (exact + LSH recall), multimodal plumbing, streaming."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from mashing_pumpkins_spark.functions.simhash import (
    hamming64,
    simhash_batch,
    simhash_near_pairs,
    simhash_pairs_from_values,
)
from mashing_pumpkins_spark.operators.ann import cosine_topk, lsh_cosine_topk
from mashing_pumpkins_spark.operators.multimodal import (
    decode_image,
    extract_binary_features,
)


def _simhash_scalar_oracle(tokens: list[str], seed: int) -> int:
    """Per-token reference implementation (the round-1 code path) — the
    vectorized simhash_batch must be bit-identical to it."""
    from mashing_pumpkins_spark.hashkernels import xxh64

    if not tokens:
        return 0
    votes = np.zeros(64, dtype=np.int64)
    counts: dict[str, int] = {}
    for t in tokens:
        counts[t] = counts.get(t, 0) + 1
    for tok, w in counts.items():
        h = xxh64(tok.encode("utf-8"), seed)
        bits = (h >> np.arange(64, dtype=np.uint64)) & np.uint64(1)
        votes += np.where(bits.astype(bool), w, -w)
    out = 0
    for i in range(64):
        if votes[i] > 0:
            out |= 1 << i
    return out - (1 << 64) if out >= 1 << 63 else out


def _sh1(text: str, seed: int = 0) -> int:
    return int(simhash_batch(pd.Series([text]), seed)[0])


def test_simhash_properties():
    a = _sh1("the quick brown fox jumps over the lazy dog")
    b = _sh1("the quick brown fox jumps over the lazy cat")
    c = _sh1("completely different words entirely unrelated")

    def ham(x, y):
        return bin((x & (1 << 64) - 1) ^ (y & (1 << 64) - 1)).count("1")

    assert ham(a, a) == 0
    assert ham(a, b) < ham(a, c)
    assert _sh1("") == 0
    # order-insensitive (bag of words)
    d = _sh1("dog lazy the over jumps fox brown quick the")
    assert d == a


def test_simhash_batch_matches_scalar_oracle():
    import random

    rng = random.Random(17)
    texts = [
        " ".join(
            rng.choice(["alpha", "Beta", "γάμμα", "delta42", "x", "", "naïve-café"])
            for _ in range(rng.randrange(0, 40))
        )
        for _ in range(64)
    ] + ["", "   ", "single"]
    got = simhash_batch(pd.Series(texts), seed=0)
    for t, g in zip(texts, got):
        assert int(g) == _simhash_scalar_oracle(t.lower().split(), 0), repr(t)
    # a second seed too
    got7 = simhash_batch(pd.Series(texts), seed=7)
    for t, g in zip(texts, got7):
        assert int(g) == _simhash_scalar_oracle(t.lower().split(), 7), repr(t)


def test_xxh64_fixed_matches_scalar():
    import random

    from mashing_pumpkins_spark.hashkernels import xxh64, xxh64_fixed

    rng = random.Random(3)
    for L in [0, 1, 3, 4, 7, 8, 9, 15, 16, 31, 32, 33, 40, 64, 100]:
        rows = [bytes(rng.randrange(256) for _ in range(L)) for _ in range(5)]
        mat = np.frombuffer(b"".join(rows), dtype=np.uint8).reshape(5, L)
        got = xxh64_fixed(mat, seed=0)
        for r, g in zip(rows, got):
            assert int(g) == xxh64(r, 0), (L, r)
        got42 = xxh64_fixed(mat, seed=42)
        for r, g in zip(rows, got42):
            assert int(g) == xxh64(r, 42), (L, r)


def test_simhash_blocking_recovers_planted_pairs_up_to_max_hamming(spark):
    """Round-1 recall hole: quarter blocking missed pairs at hamming 4..8.
    Pigeonhole blocking (max_hamming+1 blocks) must be lossless at d <=
    max_hamming — plant pairs at every d in 1..8 with adversarially spread
    bit flips (one per block, the worst case for the old scheme)."""
    import random

    rng = random.Random(29)
    rows = []
    expected = set()
    next_id = 0
    for d in range(1, 9):
        for rep in range(3):
            base = rng.getrandbits(64)
            # spread the d flips across distinct 16-bit quarters first (kills
            # quarter blocking), then anywhere
            positions = rng.sample(range(64), d)
            mutant = base
            for p in positions:
                mutant ^= 1 << p
            a, b = next_id, next_id + 1
            next_id += 2
            to_i64 = lambda v: v - (1 << 64) if v >= 1 << 63 else v
            rows.append((a, to_i64(base)))
            rows.append((b, to_i64(mutant)))
            expected.add((a, b))
    sim = spark.createDataFrame(rows, "id long, sh long")
    got = {
        (r["id_a"], r["id_b"])
        for r in simhash_pairs_from_values(sim, max_hamming=8).collect()
    }
    missed = expected - got
    assert not missed, f"planted pairs missed: {missed}"


def test_simhash_index_modes_equal(spark):
    """The block-pair multi-index (scale-safe ~13-bit keys at d=8) must
    produce EXACTLY the single-block pigeonhole pair set — both are lossless
    at the radius, and the exact hamming verify makes them precision-1."""
    import random

    rng = random.Random(41)
    to_i64 = lambda v: v - (1 << 64) if v >= 1 << 63 else v
    rows = []
    next_id = 0
    for _ in range(40):
        base = rng.getrandbits(64)
        rows.append((next_id, to_i64(base)))
        next_id += 1
        for d in (1, 4, 8, 9, 12):  # in-radius and out-of-radius mutants
            m = base
            for p in rng.sample(range(64), d):
                m ^= 1 << p
            rows.append((next_id, to_i64(m)))
            next_id += 1
    sim = spark.createDataFrame(rows, "id long, sh long")
    block = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_pairs_from_values(sim, max_hamming=8, index="block").collect()
    }
    pair = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_pairs_from_values(sim, max_hamming=8, index="pair").collect()
    }
    assert block == pair and len(block) > 0


def test_simhash_auto_index_is_cost_based(spark):
    """Round-4: index="auto" at radius >= 4 picks the physical index from
    the distinct-value count (estimated block-mode candidate volume vs
    block_candidate_cap), not radius alone — the pair set must be
    byte-identical down BOTH branches of the cost rule."""
    import random

    rng = random.Random(53)
    to_i64 = lambda v: v - (1 << 64) if v >= 1 << 63 else v
    rows = []
    for i in range(30):
        base = rng.getrandbits(64)
        rows.append((2 * i, to_i64(base)))
        m = base
        for p in rng.sample(range(64), 5):
            m ^= 1 << p
        rows.append((2 * i + 1, to_i64(m)))
    sim = spark.createDataFrame(rows, "id long, sh long")
    # default cap: 60 distinct values -> est block candidates ~ 9*60^2/256
    # ~ 127 << 5e7 -> the cheap "block" branch
    auto_block = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_pairs_from_values(sim, max_hamming=8).collect()
    }
    # cap=0 forces the "pair" branch of the same auto rule
    auto_pair = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_pairs_from_values(
            sim, max_hamming=8, block_candidate_cap=0
        ).collect()
    }
    assert auto_block == auto_pair and len(auto_block) >= 30
    # radius < 4 (>= 13-bit single-block keys): width rule, no count job
    narrow = simhash_pairs_from_values(sim, max_hamming=3).collect()
    assert {(r["id_a"], r["id_b"]) for r in narrow} <= {
        (a, b) for a, b, _ in auto_block
    }


def test_embedding_pairs_lsh_planted_recall(spark):
    """Threshold-pair LSH at production density (8 bits x 16 tables) must
    recover planted high-cosine twins; the dense (2 x 64) index must equal
    the exact pair set on the same data (the driver-gate form)."""
    import numpy as np

    from mashing_pumpkins_spark.operators.ann import (
        embedding_near_dup_pairs,
        embedding_near_dup_pairs_lsh,
    )

    rng = np.random.default_rng(17)
    dim = 64
    rows = []
    expected_twins = set()
    vid = 0
    for _ in range(30):
        base = rng.standard_normal(dim)
        twin = base + 0.08 * rng.standard_normal(dim)  # cos ~ 0.99
        rows.append((vid, base.tolist()))
        rows.append((vid + 1, twin.tolist()))
        expected_twins.add((vid, vid + 1))
        vid += 2
    for _ in range(140):
        rows.append((vid, rng.standard_normal(dim).tolist()))
        vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    prod = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs_lsh(
            emb, threshold=0.9, n_tables=16, bits_per_table=8
        ).collect()
    }
    recall = len(prod & expected_twins) / len(expected_twins)
    assert recall >= 0.95, recall

    exact = {
        (r["id_a"], r["id_b"], r["cos_sim"])
        for r in embedding_near_dup_pairs(emb, threshold=0.9).collect()
    }
    dense = {
        (r["id_a"], r["id_b"], r["cos_sim"])
        for r in embedding_near_dup_pairs_lsh(
            emb, threshold=0.9, n_tables=64, bits_per_table=2
        ).collect()
    }
    assert dense == exact


def test_embedding_pairs_lsh_bucket_cap(spark):
    """bucket_cap drops degenerate buckets from candidate generation without
    touching pairs found through healthy buckets."""
    import numpy as np

    from mashing_pumpkins_spark.operators.ann import embedding_near_dup_pairs_lsh

    rng = np.random.default_rng(9)
    dim = 16
    base = rng.standard_normal(dim)
    rows = [(i, (base + 0.01 * rng.standard_normal(dim)).tolist()) for i in range(20)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # a 20-member near-identical cluster lands in one bucket per table:
    # cap below 20 kills every candidate source
    capped = embedding_near_dup_pairs_lsh(
        emb, threshold=0.9, n_tables=4, bits_per_table=4, bucket_cap=10
    ).count()
    uncapped = embedding_near_dup_pairs_lsh(
        emb, threshold=0.9, n_tables=4, bits_per_table=4
    ).count()
    assert capped == 0 and uncapped == 190


def test_embedding_pairs_lsh_string_ids_and_empty_input(spark):
    """Round-4 ADVICE: id dtype passes through (urls are valid dedup keys),
    and construction on an empty DataFrame must not crash (the old first()
    dim probe raised TypeError and burned a Spark job per call)."""
    import numpy as np

    from mashing_pumpkins_spark.operators.ann import embedding_near_dup_pairs_lsh

    rng = np.random.default_rng(23)
    base = rng.standard_normal(32)
    rows = [
        ("url-a", base.tolist()),
        ("url-b", (base + 0.01 * rng.standard_normal(32)).tolist()),
        ("url-c", rng.standard_normal(32).tolist()),
    ]
    emb = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    out = embedding_near_dup_pairs_lsh(
        emb, threshold=0.95, n_tables=8, bits_per_table=2
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in out} == {("url-a", "url-b")}
    assert all(isinstance(r["id_a"], str) for r in out)

    empty = spark.createDataFrame([], "vec_id string, embedding array<double>")
    assert (
        embedding_near_dup_pairs_lsh(
            empty, threshold=0.9, n_tables=4, bits_per_table=2
        ).count()
        == 0
    )


def test_simhash_near_pairs_spark(spark):
    import random

    rng = random.Random(5)
    base = [f"tok{rng.randrange(500)}" for _ in range(120)]
    near = list(base)
    near[10] = "changed"  # 1/120 token edit -> tiny hamming distance
    other = [f"unrelated{rng.randrange(500)}" for _ in range(120)]
    rows = [
        (0, " ".join(base)),
        (1, " ".join(near)),
        (2, " ".join(other)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = simhash_near_pairs(df, max_hamming=8).collect()
    ids = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (0, 1) in ids
    assert (0, 2) not in ids and (1, 2) not in ids


def test_hamming64_column(spark):
    df = spark.createDataFrame([(0b1011, 0b0001)], "a long, b long")
    assert df.select(hamming64(F.col("a"), F.col("b")).alias("h")).first()["h"] == 2


def _random_unit_vectors(n, dim, seed):
    rng = np.random.default_rng(seed)
    v = rng.standard_normal((n, dim))
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def test_ann_exact_matches_numpy(spark):
    vecs = _random_unit_vectors(60, 16, 7)
    pdf = pd.DataFrame(
        {"vec_id": range(60), "embedding": [v.astype(np.float32).tolist() for v in vecs]}
    )
    df = spark.createDataFrame(pdf)
    out = cosine_topk(df, df.where(F.col("vec_id") < 3), k=4).collect()
    sims = vecs @ vecs.T
    for qid in range(3):
        order = [
            i for i in np.argsort(-np.round(sims[qid], 6), kind="stable") if i != qid
        ][:4]
        got = [r["neighbor_id"] for r in out if r["query_id"] == qid]
        assert got == order, qid


def test_ann_lsh_recall_vs_exact(spark):
    """LSH must recover planted near-duplicate neighbors (cos >= ~0.95);
    random far-apart vectors are exactly what hyperplane LSH prunes."""
    rng = np.random.default_rng(11)
    base = _random_unit_vectors(10, 32, 11)
    planted = base + rng.standard_normal((10, 32)) * 0.05  # near-dup of each query
    planted = planted / np.linalg.norm(planted, axis=1, keepdims=True)
    noise = _random_unit_vectors(200, 32, 13)
    all_vecs = np.vstack([base, planted, noise])
    pdf = pd.DataFrame(
        {
            "vec_id": range(len(all_vecs)),
            "embedding": [v.astype(np.float32).tolist() for v in all_vecs],
        }
    )
    df = spark.createDataFrame(pdf)
    queries = df.where(F.col("vec_id") < 10)
    approx = lsh_cosine_topk(df, queries, k=3, n_planes=64).collect()
    top1 = {r["query_id"]: r["neighbor_id"] for r in approx if r["rank"] == 1}
    # each query's nearest planted twin (vec_id = query+10) must be found
    hits = sum(1 for q in range(10) if top1.get(q) == q + 10)
    assert hits >= 9, (hits, top1)


def test_ann_ivf_recall_on_planted_twins(spark):
    from mashing_pumpkins_spark.operators.ann import ivf_cosine_topk

    rng = np.random.default_rng(21)
    base = _random_unit_vectors(10, 32, 21)
    planted = base + rng.standard_normal((10, 32)) * 0.05
    planted = planted / np.linalg.norm(planted, axis=1, keepdims=True)
    noise = _random_unit_vectors(200, 32, 23)
    all_vecs = np.vstack([base, planted, noise])
    pdf = pd.DataFrame(
        {
            "vec_id": range(len(all_vecs)),
            "embedding": [v.astype(np.float32).tolist() for v in all_vecs],
        }
    )
    df = spark.createDataFrame(pdf)
    approx = ivf_cosine_topk(
        df, df.where(F.col("vec_id") < 10), k=3, n_cells=8, n_probe=3
    ).collect()
    top1 = {r["query_id"]: r["neighbor_id"] for r in approx if r["rank"] == 1}
    hits = sum(1 for q in range(10) if top1.get(q) == q + 10)
    assert hits >= 9, (hits, top1)


def test_multimodal_plumbing(spark):
    df = spark.createDataFrame(
        [("u1", b"\x00\x10\x20\xff"), ("u2", None), ("u3", b"")],
        "url string, payload binary",
    )
    out = {r["url"]: r for r in extract_binary_features(df, "url", "payload").collect()}
    assert out["u1"]["payload_bytes"] == 4
    assert len(out["u1"]["features"]) == 16
    assert abs(sum(out["u1"]["features"]) - 1.0) < 1e-9
    assert out["u2"]["payload_bytes"] == 0
    assert sum(out["u3"]["features"]) == 0.0
    # baseline JPEG decodes natively since round-5; a truncated JPEG is a
    # ValueError, and only codec-less formats (WebP) stay stubbed
    with pytest.raises(ValueError):
        decode_image(b"\xff\xd8\xff")
    with pytest.raises(NotImplementedError):
        decode_image(b"RIFF\x00\x00\x00\x00WEBPVP8 ")


def test_ann_lsh_multiprobe_beats_single_probe(spark):
    """Multi-probe (flip weakest-margin bits) must recover planted twins a
    single 16-plane table misses."""
    rng = np.random.default_rng(31)
    base = _random_unit_vectors(10, 32, 31)
    planted = base + rng.standard_normal((10, 32)) * 0.15  # farther twins
    planted = planted / np.linalg.norm(planted, axis=1, keepdims=True)
    noise = _random_unit_vectors(150, 32, 33)
    all_vecs = np.vstack([base, planted, noise])
    pdf = pd.DataFrame(
        {
            "vec_id": range(len(all_vecs)),
            "embedding": [v.astype(np.float32).tolist() for v in all_vecs],
        }
    )
    df = spark.createDataFrame(pdf)
    queries = df.where(F.col("vec_id") < 10)

    def hits(n_probe):
        out = lsh_cosine_topk(
            df, queries, k=3, n_planes=16, n_probe=n_probe
        ).collect()
        top1 = {r["query_id"]: r["neighbor_id"] for r in out if r["rank"] == 1}
        return sum(1 for q in range(10) if top1.get(q) == q + 10)

    h0, h4 = hits(0), hits(4)
    assert h4 >= h0
    assert h4 >= 8, (h0, h4)


def test_streaming_near_dup_matches(spark, tmp_path):
    """New pages streaming in are matched against the committed corpus
    index (stream-static band join + exact verify), sketched by the same
    operator as the batch pipeline."""
    import pandas as pd

    from mashing_pumpkins_spark.config import PipelineConfig
    from mashing_pumpkins_spark.operators.banding import band_table
    from mashing_pumpkins_spark.operators.signature import sketch_table
    from mashing_pumpkins_spark.operators.incremental import (
        streaming_near_dup_matches,
    )

    cfg = PipelineConfig(n_bands=32, rows_per_band=8, jaccard_threshold=0.8)
    base = " ".join(f"word{i}" for i in range(400))
    corpus = spark.createDataFrame(
        pd.DataFrame(
            {
                "url": ["c0", "c1", "c2"],
                "text": [base, base.replace("word3 ", "word3x "), "completely " * 200],
            }
        )
    )
    static_sigs = sketch_table(corpus, cfg.sketch)
    static_bands = band_table(static_sigs, cfg)
    # persist the static index as parquet (the committed-stage shape)
    sp, bp = str(tmp_path / "sigs"), str(tmp_path / "bands")
    static_sigs.write.parquet(sp)
    static_bands.write.parquet(bp)

    src = tmp_path / "incoming"
    src.mkdir()
    pd.DataFrame(
        {
            "url": ["n0", "n1"],
            "text": [base + " tail42", "unrelated " * 150],
        }
    ).to_parquet(src / "b1.parquet")
    stream = spark.readStream.schema("url string, text string").parquet(str(src))
    out = streaming_near_dup_matches(
        stream, spark.read.parquet(sp), spark.read.parquet(bp), cfg
    )
    # the stream is sketched and banded by the batch operators
    # (sketch_table's and band_table's mapInArrow): no per-row UDF, no
    # explode of a band-key array
    plan = out._jdf.queryExecution().analyzed().toString()
    assert plan.count("MapInArrow") == 2, plan
    assert "Generate" not in plan and "band_keys_udf" not in plan, plan
    q = (
        out.writeStream.format("memory")
        .queryName("near_dup_stream_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from near_dup_stream_test").collect()
    got = {(r["new_url"], r["match_url"]) for r in rows}
    assert ("n0", "c0") in got, got
    assert ("n0", "c1") in got, got
    assert all(u != "n1" for u, _ in got), got
    assert all(r["jaccard"] >= 0.8 for r in rows)
