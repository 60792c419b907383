"""Dedup operator semantics on the documents fixture (sf0.001) plus
hand-built near-dup cases. MinHash-LSH is validated against exact n-gram
Jaccard (no false positives; recall on true dups)."""

from __future__ import annotations

from pyspark.sql import functions as F

from uma_etl_iis_loader_spark.io import read_fixture
from uma_etl_iis_loader_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from a warm windowsill and the rain falls quietly outside the house"
)


def _docs(spark):
    rows = [
        (1, BASE),
        (2, BASE),  # exact duplicate of 1
        (3, BASE.replace("quietly", "loudly")),  # near-dup of 1
        (4, "completely different text about spark query engines and shuffles"),
        (5, "Yet another unrelated document mentioning parquet column pruning"),
        (6, BASE + " extra trailing sentence appended here"),  # near-dup
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups_identical_texts(spark):
    out = {r.keep_id: r.dup_count for r in exact_dedup(_docs(spark)).collect()}
    assert out[1] == 2  # docs 1 and 2 share a fingerprint
    assert sum(out.values()) == 6


def test_ngram_jaccard_finds_near_dups(spark):
    pairs = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(_docs(spark), n=3, threshold=0.5).collect()
    }
    assert (1, 2) in pairs and (1, 3) in pairs and (2, 3) in pairs
    assert (1, 6) in pairs
    assert not any(4 in p or 5 in p for p in pairs)


def test_prefix_filter_matches_naive_inverted_index(spark, sf_dir):
    """PPJoin prefix-filtered path must return EXACTLY the naive join's
    pairs — on the hand-built corpus and on the real documents fixture."""
    for docs, t in [
        (_docs(spark), 0.5),
        (read_fixture(spark, sf_dir, "documents"), 0.35),
    ]:
        fast = {
            (r.id_a, r.id_b)
            for r in ngram_jaccard_pairs(
                docs, n=3, threshold=t, prefix_filter=True
            ).collect()
        }
        naive = {
            (r.id_a, r.id_b)
            for r in ngram_jaccard_pairs(
                docs, n=3, threshold=t, prefix_filter=False
            ).collect()
        }
        assert fast == naive


def test_minhash_lsh_matches_exact_jaccard(spark):
    docs = _docs(spark)
    exact = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(
            docs, n=5, threshold=0.5, char_level=True
        ).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            docs, num_hashes=64, bands=16, n=5, threshold=0.5, char_level=True
        ).collect()
    }
    # verify step kills false positives → LSH output ⊆ exact
    assert lsh <= exact
    # 16 bands × 4 rows at jaccard ≥ 0.5 → collision prob ≈ 1-(1-0.5^4)^16 ≈ 0.65/pair;
    # identical docs (jaccard 1.0) always collide
    assert (1, 2) in lsh
    assert len(lsh) >= len(exact) - 1  # at most one borderline pair missed


def _docs_with_empties(spark):
    """_docs plus zero-gram documents (empty / shorter than n): they
    share the sentinel MinHash signature, so they bucket-collide with
    each other — the verify strategies must agree on dropping them."""
    rows = [(7, ""), (8, "ab"), (9, ""), (10, None)]
    return _docs(spark).unionByName(
        spark.createDataFrame(rows, "doc_id long, text string")
    )


def _join_verify_pairs(docs, num_hashes, bands, n, threshold, char_level):
    """Reference verify for :func:`minhash_lsh_pairs`: the classic
    candidates-then-gram-join pipeline. Every (band, bucket) collision
    becomes a candidate pair, both gram arrays join in, and exact
    Jaccard filters; two zero-gram docs (sentinel-signature collision)
    yield 0/0 → NULL and drop."""
    from uma_etl_iis_loader_spark.operators.dedup import (
        _band_entries,
        minhash_signature,
    )

    sigs = minhash_signature(docs, "doc_id", "text", num_hashes, n, char_level)
    banded = _band_entries(sigs, bands, num_hashes // bands)
    la, lb = banded.alias("a"), banded.alias("b")
    candidates = (
        la.join(lb, ["band", "bucket"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    ga = sigs.select(F.col("id").alias("id_a"), F.col("grams").alias("grams_a"))
    gb = sigs.select(F.col("id").alias("id_b"), F.col("grams").alias("grams_b"))
    jac = F.try_divide(
        F.size(F.array_intersect("grams_a", "grams_b")),
        F.size(F.array_union("grams_a", "grams_b")),
    )
    return {
        (r.id_a, r.id_b)
        for r in candidates.join(ga, "id_a")
        .join(gb, "id_b")
        .filter(jac >= threshold)
        .select("id_a", "id_b")
        .collect()
    }


def test_minhash_lsh_grouped_equals_join_verify(spark):
    """LAW: the per-bucket Arrow verify kernel emits the IDENTICAL pair
    set as the reference candidate-pair join — including on zero-gram
    docs, where the kernel filters the sentinel bucket before bucketing
    and the join drops the same pairs via 0/0→NULL Jaccard."""
    docs = _docs_with_empties(spark)
    kw = dict(num_hashes=64, bands=16, n=5, threshold=0.5, char_level=True)
    grouped = {(r.id_a, r.id_b) for r in minhash_lsh_pairs(docs, **kw).collect()}
    join = _join_verify_pairs(docs, **kw)
    assert grouped == join and len(grouped) > 0
    # no sentinel pairs: empty docs never pair under either strategy
    assert all(a < 7 and b < 7 for a, b in grouped)


def _persistent_rdd_ids(spark) -> set[int]:
    m = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in m.keySet().toArray()}


def test_minhash_lsh_pin_releases_both_caches(spark):
    """pin=True must unpersist BOTH internal caches (signature frame +
    collision-stats frame): the only NEW persisted RDD
    after the call is the localCheckpoint of the pair output itself.
    pin=False leaves both persisted (the lazy plan references them) —
    documented cache-lifetime contract in the docstring.

    Accounting diffs persistent-RDD ID SETS rather than totals: in a
    shared long-suite session the ContextCleaner unpersists earlier
    tests' orphaned RDDs asynchronously, so a global count can shift
    mid-test (observed full-suite flake); ids created by THIS test are
    strongly referenced and immune to that cleanup."""
    spark.catalog.clearCache()
    before = _persistent_rdd_ids(spark)
    out = minhash_lsh_pairs(_docs(spark), num_hashes=64, bands=16, n=5,
                            threshold=0.5, pin=True)
    new_pinned = _persistent_rdd_ids(spark) - before
    assert len(new_pinned) == 1  # checkpoint only
    out.count()
    lazy = minhash_lsh_pairs(_docs(spark), num_hashes=64, bands=16, n=5,
                             threshold=0.5, pin=False)
    new_lazy = _persistent_rdd_ids(spark) - before - new_pinned
    assert len(new_lazy) == 2  # sigs + bstats stay persisted
    lazy.count()
    spark.catalog.clearCache()  # the documented release path


def test_minhash_lsh_candidate_budget_guard(spark):
    """max_candidate_pairs raises BEFORE verify work with the measured
    mass and the banding recipe; a sufficient budget passes."""
    import pytest

    docs = _docs(spark)
    kw = dict(num_hashes=64, bands=16, n=5, threshold=0.5, char_level=True)
    with pytest.raises(RuntimeError, match="16 bands x 4 rows"):
        minhash_lsh_pairs(docs, max_candidate_pairs=1, **kw)
    # generous budget: runs to completion
    assert (
        minhash_lsh_pairs(docs, max_candidate_pairs=10_000, **kw).count() > 0
    )
    # a 10-copy family is 45 pairs in each of its 16 band buckets: 720
    fam = spark.createDataFrame(
        [(i, BASE) for i in range(1, 11)], "doc_id long, text string"
    )
    with pytest.raises(RuntimeError, match="720 candidate pairs"):
        minhash_lsh_pairs(fam, max_candidate_pairs=200, **kw)


def test_lsh_bucket_stats_predict_candidate_pairs(spark):
    """The telemetry's candidate_pairs equals the pair join's actual
    pre-distinct candidate volume (Σ n·(n−1)/2 over colliding buckets)
    and identical docs land in one bucket per band."""
    from uma_etl_iis_loader_spark.operators.dedup import (
        lsh_bucket_balance,
        lsh_bucket_stats,
    )

    docs = _docs(spark)
    kw = dict(num_hashes=64, bands=16, n=5, char_level=True)
    stats = lsh_bucket_stats(docs, **kw)
    bal = lsh_bucket_balance(stats)
    # docs 1 and 2 are identical -> they share all 16 band buckets, so
    # candidate mass is at least 16 pairs
    assert bal["candidate_pairs"] >= 16
    assert bal["max_bucket"] >= 2 and bal["n_buckets"] >= 16
    # cross-check against the raw band-entry self-join count
    from uma_etl_iis_loader_spark.operators.dedup import (
        _band_entries,
        minhash_signature,
    )

    sigs = minhash_signature(docs, "doc_id", "text", 64, 5, True)
    be = _band_entries(sigs, 16, 4)
    raw = (
        be.alias("a").join(be.alias("b"), ["band", "bucket"])
        .filter(F.col("a.id") < F.col("b.id")).count()
    )
    assert bal["candidate_pairs"] == raw

    # a 10-copy family fills one size-10 bucket per band: 45 pairs each
    fam = spark.createDataFrame(
        [(i, BASE) for i in range(1, 11)], "doc_id long, text string"
    )
    fs = lsh_bucket_stats(fam, **kw)
    assert lsh_bucket_balance(fs)["candidate_pairs"] == 16 * 45


def test_simhash_flags_exact_and_near(spark):
    pairs = {
        (r.id_a, r.id_b)
        for r in simhash_pairs(_docs(spark), max_hamming=3).collect()
    }
    assert (1, 2) in pairs  # identical text → identical signature
    assert not any(4 in p or 5 in p for p in pairs)


def test_fixture_dedup_runs(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert exact_dedup(docs).count() > 0
    assert minhash_lsh_pairs(docs, n=5, char_level=True).count() >= 0


def test_embedding_cosine_tiled_matches_crossjoin(spark, sf_dir):
    """The tiled block-matmul self-join is EXACT: identical pair set to
    the crossJoin path on the embeddings fixture, at a mid threshold
    where qualifying pairs sit barely above t (the regime where LSH
    cannot be used and the exact path must carry the load)."""
    from uma_etl_iis_loader_spark.operators.dedup import embedding_cosine_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    for blocks in (1, 4, 8):
        tiled = {
            (r.id_a, r.id_b)
            for r in embedding_cosine_pairs(
                emb, threshold=0.45, method="tiled", blocks=blocks
            ).collect()
        }
        exact = {
            (r.id_a, r.id_b)
            for r in embedding_cosine_pairs(
                emb, threshold=0.45, method="crossjoin"
            ).collect()
        }
        assert tiled == exact, blocks
        assert all(a < b for a, b in tiled)


def test_embedding_cosine_srp_no_false_positives(spark, sf_dir):
    """The SRP-banded high-threshold path verifies candidates with exact
    cosine, so its output must be a SUBSET of the exact pair set (LSH
    only bounds recall, never adds false positives)."""
    from uma_etl_iis_loader_spark.operators.dedup import embedding_cosine_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    srp = {
        (r.id_a, r.id_b)
        for r in embedding_cosine_pairs(
            emb, threshold=0.45, method="srp", srp_bits=64, srp_bands=16, d=64
        ).collect()
    }
    exact = {
        (r.id_a, r.id_b)
        for r in embedding_cosine_pairs(
            emb, threshold=0.45, method="crossjoin"
        ).collect()
    }
    assert srp <= exact
    # wide-band family on this corpus still recovers most true pairs
    assert len(srp) >= 0.5 * len(exact)


def test_adaptive_path_selection(spark, sf_dir):
    """prefix_filter=None picks the naive inverted-index join below the
    threshold cutoff and PPJoin prefix filtering at/above it — pinned by
    plan shape: the prefix path carries the df-ordering aggregate (a
    collect_list over the (df, gram) order), the naive path does not."""
    from uma_etl_iis_loader_spark.io import read_fixture
    from uma_etl_iis_loader_spark.operators.dedup import (
        PREFIX_FILTER_MIN_THRESHOLD,
        ngram_jaccard_pairs,
    )

    docs = read_fixture(spark, sf_dir, "documents")
    lo = ngram_jaccard_pairs(docs, n=3, threshold=0.35, pin=False)
    hi = ngram_jaccard_pairs(docs, n=3, threshold=0.7, pin=False)
    assert 0.35 < PREFIX_FILTER_MIN_THRESHOLD <= 0.7
    lo_plan = lo._jdf.queryExecution().optimizedPlan().toString()
    hi_plan = hi._jdf.queryExecution().optimizedPlan().toString()
    # the prefix path's signature operator: df-ordered gram reassembly
    assert "collect_list" not in lo_plan  # naive: no ordering aggregate
    assert "collect_list" in hi_plan  # prefix: (df, gram) reassembly
    # and both paths stay exact: adaptive output == forced-naive output
    hi_naive = ngram_jaccard_pairs(
        docs, n=3, threshold=0.7, prefix_filter=False, pin=False
    )
    assert sorted(map(tuple, hi.collect())) == sorted(
        map(tuple, hi_naive.collect())
    )


def test_connected_components_shapes(spark):
    """Chains, stars, isolated pairs — every node labeled with the min id
    reachable; empty input keeps the (node, comp) schema."""
    from uma_etl_iis_loader_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (30, 31), (30, 32), (32, 33)],
        "id_a long, id_b long",
    )
    out = sorted(map(tuple, connected_components(pairs).collect()))
    assert out == [
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20),
        (30, 30), (31, 30), (32, 30), (33, 30),
    ]
    empty = connected_components(spark.createDataFrame([], "id_a long, id_b long"))
    assert empty.columns == ["node", "comp"] and empty.count() == 0


def test_connected_components_matches_union_find(spark):
    """Randomized graph vs a driver-side union-find reference — pins the
    exact-components claim (the recursive-CTE oracle checks the same
    property at the query level). A 60-node path buried in the random
    edges also exercises >1 propagation round (pointer-jump collapse)."""
    import random

    from uma_etl_iis_loader_spark.operators.dedup import connected_components

    rng = random.Random(7)
    edges = {(rng.randrange(200), rng.randrange(200)) for _ in range(150)}
    edges |= {(i, i + 1) for i in range(300, 360)}  # long path component
    edges = [(a, b) for a, b in edges if a != b]

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    expected = sorted((n, find(n)) for n in parent)

    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = sorted(map(tuple, connected_components(pairs).collect()))
    assert got == expected


def test_deduplicate_corpus_keeps_one_per_component(spark):
    from uma_etl_iis_loader_spark.operators.dedup import deduplicate_corpus

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(1, 8)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_a long, id_b long"
    )
    kept = sorted(
        r.doc_id for r in deduplicate_corpus(docs, pairs).collect()
    )
    # component {1,2,3} -> keep 1; {5,6} -> keep 5; unpaired 4,7 kept
    assert kept == [1, 4, 5, 7]


def test_star_contraction_equals_propagation(spark):
    """connected_components_star (large-star/small-star contraction — the
    giant-component path) must produce exactly the labeling of the
    propagation method (itself union-find-verified) on randomized graphs
    plus a high-diameter chain."""
    import random

    from uma_etl_iis_loader_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    rng = random.Random(23)
    edges = list({(rng.randrange(150), rng.randrange(150)) for _ in range(120)})
    edges = [(a, b) for a, b in edges if a != b]
    edges += [(i, i + 1) for i in range(200, 260)]  # diameter-60 chain
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    a = sorted(map(tuple, connected_components(pairs).collect()))
    b = sorted(map(tuple, connected_components_star(pairs).collect()))
    assert a == b
    empty = connected_components_star(
        spark.createDataFrame([], "id_a long, id_b long")
    )
    assert empty.columns == ["node", "comp"] and empty.count() == 0


def test_connected_components_string_ids(spark):
    """Ids keep their input type — string/UUID doc ids must cluster, not
    silently cast to NULL (which would make deduplicate_corpus a no-op)."""
    from uma_etl_iis_loader_spark.operators.dedup import (
        connected_components,
        connected_components_star,
        deduplicate_corpus,
    )

    pairs = spark.createDataFrame(
        [("aa", "bb"), ("bb", "cc"), ("xx", "yy")], "id_a string, id_b string"
    )
    exp = [("aa", "aa"), ("bb", "aa"), ("cc", "aa"), ("xx", "xx"), ("yy", "xx")]
    assert sorted(map(tuple, connected_components(pairs).collect())) == exp
    assert sorted(map(tuple, connected_components_star(pairs).collect())) == exp
    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in ["aa", "bb", "cc", "xx", "yy", "zz"]],
        "doc_id string, text string",
    )
    kept = sorted(r.doc_id for r in deduplicate_corpus(docs, pairs).collect())
    assert kept == ["aa", "xx", "zz"]


def test_semantic_dedup_planted_near_dups(spark, sf_dir):
    """SemDeDup-style cluster-scoped dedup: planted near-identical
    vectors are dropped (min id survives), distinct vectors retained,
    and the cluster-scoped pair set is a SUBSET of the global exact
    cosine pairs (the method's documented recall trade)."""
    from pyspark.sql import functions as F

    from uma_etl_iis_loader_spark.io import read_fixture
    from uma_etl_iis_loader_spark.operators.dedup import (
        embedding_cosine_pairs,
        semantic_dedup,
    )

    emb = read_fixture(spark, sf_dir, "embeddings", split=False).limit(400)
    # plant: clone 5 vectors under new ids with a tiny deterministic bend
    clones = (
        emb.filter(F.col("vec_id") < 5)
        .select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"),
            F.transform(
                "embedding", lambda x, i: x + F.when(i == 0, 0.001).otherwise(0.0)
            ).cast("array<float>").alias("embedding"),
            "label",
        )
    )
    full = emb.unionByName(clones)
    out = semantic_dedup(full, n_clusters=8, threshold=0.99)
    surv = {r.vec_id for r in out["survivors"].select("vec_id").collect()}
    for i in range(5):
        assert i in surv  # original kept (min id)
        assert i + 1_000_000 not in surv  # clone dropped
    # subset law vs the global exact pair set at the same threshold
    sem = {(r.id_a, r.id_b) for r in out["pairs"].collect()}
    glob = {
        (r.id_a, r.id_b)
        for r in embedding_cosine_pairs(
            full, id_col="vec_id", vec_col="embedding", threshold=0.99
        ).collect()
    }
    assert sem <= glob
    assert len(sem) >= 5  # every planted clone pair found (same cluster)


def test_canonical_per_cluster_picks_best_score(spark):
    import pandas as pd

    from uma_etl_iis_loader_spark.operators.dedup import canonical_per_cluster

    # two clusters + a singleton; scores make the HIGHEST-quality (not
    # min-id) member the survivor in cluster 1
    assignments = spark.createDataFrame(
        pd.DataFrame(
            {
                "node": [1, 2, 3, 10, 11, 99],
                "comp": [1, 1, 1, 10, 10, 99],
            }
        )
    )
    scores = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 10, 11, 99],
                "q": [0.2, 0.9, 0.5, 0.7, 0.7, 0.1],
            }
        )
    )
    rows = {
        r["node"]: r
        for r in canonical_per_cluster(
            assignments, scores, id_col="doc_id", score_col="q"
        ).collect()
    }
    assert len(rows) == 6
    # cluster 1: node 2 wins on score despite not being min id
    for n in (1, 2, 3):
        assert rows[n]["keep_id"] == 2
    assert rows[2]["is_canonical"] and not rows[1]["is_canonical"]
    # cluster 10: score tie 0.7 == 0.7 → min id 10 wins
    assert rows[10]["keep_id"] == 10 and rows[11]["keep_id"] == 10
    # singleton keeps itself
    assert rows[99]["keep_id"] == 99 and rows[99]["is_canonical"]


def test_canonical_per_cluster_missing_scores_rank_lowest(spark):
    import pandas as pd

    from uma_etl_iis_loader_spark.operators.dedup import canonical_per_cluster

    assignments = spark.createDataFrame(
        pd.DataFrame({"node": [1, 2, 3], "comp": [1, 1, 1]})
    )
    # node 1 and 3 have no score row at all — node 2 (scored) must win;
    # an all-unscored cluster falls back to min id
    scores = spark.createDataFrame(
        pd.DataFrame({"doc_id": [2], "q": [0.01]})
    )
    rows = {
        r["node"]: r["keep_id"]
        for r in canonical_per_cluster(
            assignments, scores, id_col="doc_id", score_col="q"
        ).collect()
    }
    assert rows == {1: 2, 2: 2, 3: 2}
    no_scores = spark.createDataFrame(
        pd.DataFrame({"doc_id": [999], "q": [1.0]})
    )
    rows2 = {
        r["node"]: r["keep_id"]
        for r in canonical_per_cluster(
            assignments, no_scores, id_col="doc_id", score_col="q"
        ).collect()
    }
    assert rows2 == {1: 1, 2: 1, 3: 1}


def test_canonical_per_cluster_plan_partial_agg(spark):
    import pandas as pd

    from uma_etl_iis_loader_spark.operators.dedup import canonical_per_cluster

    assignments = spark.createDataFrame(
        pd.DataFrame({"node": [1, 2], "comp": [1, 1]})
    )
    scores = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "q": [0.5, 0.6]})
    )
    plan = (
        canonical_per_cluster(assignments, scores, id_col="doc_id", score_col="q")
        ._jdf.queryExecution().executedPlan().toString()
    )
    # the max_by aggregate must combine map-side (partial_max_by before
    # the exchange) and nothing may cartesian
    assert "partial_max_by" in plan or "partial_maxby" in plan.lower()
    assert "CartesianProduct" not in plan


def test_deduplicate_corpus_with_scores_keeps_best(spark):
    import pandas as pd

    from uma_etl_iis_loader_spark.operators.dedup import deduplicate_corpus

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 9],
                "text": ["dup a", "dup b", "dup c", "loner"],
            }
        )
    )
    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": [1, 2], "id_b": [2, 3]})
    )
    scores = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3, 9], "q": [0.1, 0.9, 0.5, 0.2]})
    )
    # default: min id survives
    kept_min = {
        r["doc_id"] for r in deduplicate_corpus(docs, pairs).collect()
    }
    assert kept_min == {1, 9}
    # scored: the best-quality member survives instead
    kept_best = {
        r["doc_id"]
        for r in deduplicate_corpus(
            docs, pairs, scores=scores, score_col="q"
        ).collect()
    }
    assert kept_best == {2, 9}


def test_dedup_sentence_spans_c4(spark):
    import pandas as pd

    from uma_etl_iis_loader_spark.operators.dedup import dedup_sentence_spans

    A = "s1. s2. s3"
    B = "t1. t2. t3"
    C = "u1. u2. u3"
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [f"{A}. {B}", f"{B}. {C}", f"{A}. {B}"],
            }
        )
    )
    rows = {r["doc_id"]: r for r in dedup_sentence_spans(docs).collect()}
    # doc 1 is first everywhere: keeps both spans, text unchanged
    assert rows[1]["text"] == f"{A}. {B}"
    assert rows[1]["n_spans"] == 2 and rows[1]["n_spans_kept"] == 2
    # doc 2: span B already seen in doc 1 -> only C survives
    assert rows[2]["text"] == C
    assert rows[2]["n_spans"] == 2 and rows[2]["n_spans_kept"] == 1
    # doc 3 duplicates doc 1 entirely -> nothing survives
    assert rows[3]["text"] == "" and rows[3]["n_spans_kept"] == 0
    # ragged tail (< span sentences) is a chunk of its own
    docs2 = spark.createDataFrame(
        pd.DataFrame({"doc_id": [7], "text": ["a. b. c. d"]})
    )
    r7 = dedup_sentence_spans(docs2).collect()[0]
    assert r7["n_spans"] == 2 and r7["text"] == "a. b. c. d"


def test_dedup_sentence_spans_deterministic_first(spark):
    import pandas as pd

    from uma_etl_iis_loader_spark.operators.dedup import dedup_sentence_spans

    # same span in many docs under heavy parallelism: the SMALLEST
    # doc_id must keep it, every time
    span = "x1. x2. x3"
    docs = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": list(range(20)), "text": [span] * 20}
        )
    ).repartition(8)
    for _ in range(2):
        rows = {
            r["doc_id"]: r["n_spans_kept"]
            for r in dedup_sentence_spans(docs).collect()
        }
        assert rows[0] == 1
        assert all(v == 0 for k, v in rows.items() if k > 0)
