"""Similarity search: brute-force exactness properties + IVF recall."""

from __future__ import annotations

from pyspark.sql import functions as F

from uma_etl_iis_loader_spark.operators.similarity import brute_force_topk, ivf_topk


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _queries(emb):
    return emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def test_brute_force_topk_shape(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    out = brute_force_topk(emb, _queries(emb), k=10).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rows in by_q.items():
        assert len(rows) == 10
        assert sorted(r.rank for r in rows) == list(range(1, 11))
        # rank 1 must be the query itself (cosine with itself = 1)
        top = min(rows, key=lambda r: r.rank)
        assert top.neighbor_id == q


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    q = _queries(emb)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, q, k=10).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(emb, q, k=10, nlist=8, nprobe=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    # nprobe/nlist = 0.5 of the corpus scanned → decent recall floor
    assert recall >= 0.5, f"IVF recall too low: {recall:.2f}"


def test_srp_lsh_recall_vs_brute_force(spark, sf_dir):
    from uma_etl_iis_loader_spark.operators.similarity import srp_lsh_topk

    emb = _emb(spark, sf_dir)
    q = _queries(emb)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, q, k=10).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in srp_lsh_topk(emb, q, k=10, n_bits=16, bands=8).collect()
    }
    recall = len(exact & approx) / len(exact)
    # 2-bit bands × 8: p(≥1 band) ≈ 1-(1-(1-θ/π)²)⁸ — measured 0.965 here
    assert recall >= 0.85, f"SRP-LSH recall too low: {recall:.2f}"
    # a query always collides with itself (identical signature)
    assert all((qq, qq) in approx for qq in {r.query_id for r in q.collect()})


def test_brute_force_query_cap(spark, sf_dir):
    """brute_force_topk collects the query set to the driver — the guard
    must refuse unbounded query sets and point at the ANN paths."""
    import pytest

    emb = _emb(spark, sf_dir)
    q = emb.select(F.col("vec_id").alias("query_id"), "embedding")
    with pytest.raises(ValueError, match="ivf_topk"):
        brute_force_topk(emb, q, k=5, max_queries=10)


def test_quantize_roundtrip_bound(spark):
    """int8 round-trip: per-component error <= scale/2; cosine between
    original and reconstruction stays ~1; zero vectors survive."""
    import math

    from pyspark.sql import functions as F

    from uma_etl_iis_loader_spark.functions.vectors import (
        cosine,
        dequantize_int8,
        l2_normalize,
        quantize_int8,
    )

    vecs = [
        (1, [0.3, -1.7, 2.5, 0.0]),
        (2, [100.0, -50.0, 0.25, 12.0]),
        (3, [0.0, 0.0, 0.0, 0.0]),
        (4, [1e-6, -1e-6, 1e-6, 1e-6]),
    ]
    df = spark.createDataFrame(vecs, "id long, v array<double>")
    out = df.select(
        "id",
        "v",
        quantize_int8("v").alias("p"),
        dequantize_int8(quantize_int8("v")).alias("r"),
        cosine("v", dequantize_int8(quantize_int8("v"))).alias("cos"),
        l2_normalize("v").alias("u"),
    ).collect()
    for r in out:
        scale = r["p"]["scale"]
        assert all(-127 <= q <= 127 for q in r["p"]["q"])
        for orig, rec in zip(r["v"], r["r"]):
            assert abs(orig - rec) <= scale / 2 + 1e-12
        if any(x != 0 for x in r["v"]):
            assert r["cos"] > 0.999
            n = math.sqrt(sum(x * x for x in r["u"]))
            assert abs(n - 1.0) < 1e-9
        else:
            assert r["p"]["scale"] == 0.0 and all(q == 0 for q in r["p"]["q"])
            assert r["u"] == [0.0, 0.0, 0.0, 0.0]


def test_pq_roundtrip_compression_and_recall(spark, sf_dir):
    """PQ codes are m bytes (32x smaller than d=64 float32); ADC top-k
    over codes reaches a sane recall, and the refine stage lifts it to
    near-exact on the fixture."""
    from pyspark.sql import functions as F

    from uma_etl_iis_loader_spark.io import read_fixture
    from uma_etl_iis_loader_spark.operators.similarity import (
        brute_force_topk,
        pq_encode,
        pq_topk,
        train_pq_codebooks,
    )

    emb = read_fixture(spark, sf_dir, "embeddings", split=False)
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    books = train_pq_codebooks(emb, m=8, ksub=256)
    assert books.shape == (8, 256, 8)
    codes = pq_encode(emb, books).localCheckpoint()
    lens = {len(r.codes) for r in codes.limit(20).collect()}
    assert lens == {8}  # m bytes per vector

    brute = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, queries, k=10).collect()
    }

    def recall(df):
        got = {(r.query_id, r.neighbor_id) for r in df.collect()}
        return len(got & brute) / len(brute)

    adc = pq_topk(codes, books, queries, k=10)
    refined = pq_topk(
        codes, books, queries, k=10, refine_corpus=emb, refine_factor=4
    )
    r_adc, r_ref = recall(adc), recall(refined)
    assert r_adc >= 0.4, r_adc
    assert r_ref >= 0.7, r_ref
    assert r_ref >= r_adc  # refine can only help on average


def test_pq_encoding_deterministic(spark, sf_dir):
    from uma_etl_iis_loader_spark.io import read_fixture
    from uma_etl_iis_loader_spark.operators.similarity import (
        pq_encode,
        train_pq_codebooks,
    )

    emb = read_fixture(spark, sf_dir, "embeddings", split=False).limit(200)
    b1 = train_pq_codebooks(emb, m=8, ksub=64, sample_size=256)
    b2 = train_pq_codebooks(emb, m=8, ksub=64, sample_size=256)
    assert (b1 == b2).all()
    c1 = sorted((r.vec_id, bytes(r.codes)) for r in pq_encode(emb, b1).collect())
    c2 = sorted((r.vec_id, bytes(r.codes)) for r in pq_encode(emb, b2).collect())
    assert c1 == c2


def test_ivf_cell_balance_bound(spark, sf_dir):
    """Cell occupancy: the Lloyd-refined centroids must not collapse the
    fixture into a few hot cells — pin a max/mean ceiling so a
    centroid-quality regression fails loudly."""
    from pyspark.sql import functions as F

    from uma_etl_iis_loader_spark.io import read_fixture
    from uma_etl_iis_loader_spark.operators.similarity import (
        _assign_centroid,
        _ivf_centroids,
    )

    emb = read_fixture(spark, sf_dir, "embeddings", split=False)
    c = emb.filter(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cvec")
    )
    cent = _ivf_centroids(c, 16)
    counts = [
        r["count"]
        for r in _assign_centroid(c, cent, "neighbor_id", "cvec", 1)
        .groupBy("centroid_id")
        .count()
        .collect()
    ]
    assert len(counts) <= 16
    assert sum(counts) == c.count()
    # skew ceiling on the fixture: measured ~2-3x at nlist=16; 6x is the
    # regression alarm, not a physics bound
    max_over_mean = max(counts) / (sum(counts) / len(counts))
    assert 1.0 <= max_over_mean <= 6.0, counts


def test_opq_rotation_laws():
    """OPQ training laws, pure numpy (no Spark): on ANISOTROPIC data
    (correlated dims straddling the subspace split — the case plain PQ
    handles worst) the learned rotation must (a) be orthogonal, (b) cut
    quantization error vs identity-rotation PQ, (c) be bitwise
    deterministic across reruns."""
    import numpy as np

    from uma_etl_iis_loader_spark.operators.similarity import (
        _pq_reconstruct,
        _train_books_on,
        _train_opq_on,
    )

    rng = np.random.default_rng(7)
    # low-rank mixing smears correlated structure across all subspaces
    base = rng.standard_normal((4000, 8))
    mix = rng.standard_normal((8, 64))
    vm = base @ mix + 0.05 * rng.standard_normal((4000, 64))
    vm /= np.linalg.norm(vm, axis=1, keepdims=True)

    m, ksub = 8, 64
    rot, books = _train_opq_on(vm, m, ksub, iters=10, opq_iters=8)
    assert np.allclose(rot @ rot.T, np.eye(64), atol=1e-8)

    plain_books = _train_books_on(vm, m, ksub, iters=10)
    err_plain = np.sum((vm - _pq_reconstruct(vm, plain_books)) ** 2)
    xr = vm @ rot.T
    err_opq = np.sum((xr - _pq_reconstruct(xr, books)) ** 2)
    # rotation preserves norms, so the errors are directly comparable
    assert err_opq < err_plain * 0.9, (err_opq, err_plain)

    rot2, books2 = _train_opq_on(vm, m, ksub, iters=10, opq_iters=8)
    assert np.array_equal(rot, rot2) and np.array_equal(books, books2)

    # opq_iters=0 degenerates to plain PQ under the identity rotation
    rot0, books0 = _train_opq_on(vm, m, ksub, iters=10, opq_iters=0)
    assert np.array_equal(rot0, np.eye(64))
    assert np.array_equal(books0, plain_books)


def test_brute_force_distributed_matches_driver(spark, sf_dir):
    """The tiled exact path must return EXACTLY the broadcast path's
    results with NO collect of the query set (whole corpus as queries),
    and its plan must be the co-grouped tile kernel."""
    from pyspark.sql import functions as F

    from uma_etl_iis_loader_spark.operators.similarity import (
        brute_force_topk,
        brute_force_topk_distributed,
    )

    emb = _emb(spark, sf_dir)
    all_q = emb.select(F.col("vec_id").alias("query_id"), "embedding")
    driver = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in brute_force_topk(emb, all_q, k=5, max_queries=10_000).collect()
    }
    dist_df = brute_force_topk_distributed(
        emb, all_q, k=5, query_blocks=4, corpus_blocks=3
    )
    plan = dist_df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan
    dist = {(r.query_id, r.neighbor_id, r.rank) for r in dist_df.collect()}
    assert dist == driver


def test_local_topk_exact_under_duplicate_ties(spark, sf_dir):
    """Duplicate embeddings (the pre-dedup norm) tie EXACTLY; every
    local-top-k kernel must resolve boundary ties by lowest neighbor id
    — the global window's order — or the distributed==driver equality
    breaks on precisely the data dedup pipelines feed it."""
    from pyspark.sql import functions as F

    from uma_etl_iis_loader_spark.operators.similarity import (
        brute_force_topk,
        brute_force_topk_distributed,
    )

    emb = _emb(spark, sf_dir).limit(40)
    # replicate every vector under 5 distinct ids → massive exact ties
    dup = emb.select(
        F.explode(F.sequence(F.lit(0), F.lit(4))).alias("__r"),
        "vec_id",
        "embedding",
    ).select(
        (F.col("vec_id") * 10 + F.col("__r")).alias("vec_id"), "embedding"
    )
    q = emb.limit(6).select(F.col("vec_id").alias("query_id"), "embedding")
    a = {
        (r.query_id, r.rank, r.neighbor_id)
        for r in brute_force_topk(dup, q, k=8).collect()
    }
    b = {
        (r.query_id, r.rank, r.neighbor_id)
        for r in brute_force_topk_distributed(
            dup, q, k=8, query_blocks=3, corpus_blocks=4
        ).collect()
    }
    assert a == b
    # deterministic tie order: each query's own vector exists under ids
    # q*10+0..4, all cosine 1.0 — ranks 1..5 must be exactly those ids
    # ASCENDING (the global sim-desc/neighbor-asc order)
    by_q = {}
    for qq, rk, nb in a:
        by_q.setdefault(qq, {})[rk] = nb
    for qq, ranks in by_q.items():
        assert [ranks[r] for r in range(1, 6)] == [
            qq * 10 + i for i in range(5)
        ]
