"""DSIR importance resampling: weight laws + Gumbel top-k selection."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from uma_etl_iis_loader_spark.operators.dsir import (
    dsir_log_weights,
    dsir_select,
    fit_dsir,
)


def _corpora(spark):
    # target: cooking-ish; raw: half cooking-ish, half legal-ish
    target = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [100, 101, 102],
                "text": [
                    "stir the sauce and simmer the sauce",
                    "chop the onion then stir the pan",
                    "simmer the broth and season the broth",
                ],
            }
        )
    )
    raw = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4],
                "text": [
                    "stir the sauce and season the pan",  # on-target
                    "simmer the onion and stir the broth",  # on-target
                    "the party of the first part hereby agrees",
                    "witness the clause herein and the statute thereof",
                ],
            }
        )
    )
    return raw, target


def test_dsir_weights_favor_target_like_docs(spark):
    raw, target = _corpora(spark)
    model = fit_dsir(raw, target)
    w = {
        r["doc_id"]: r["logw_q4"]
        for r in dsir_log_weights(raw, model).collect()
    }
    assert set(w) == {1, 2, 3, 4}
    # both cooking docs outscore both legal docs
    assert min(w[1], w[2]) > max(w[3], w[4])


def test_dsir_bucketed_equals_unbucketed_when_collision_free(spark):
    raw, target = _corpora(spark)
    exact = {
        r["doc_id"]: (r["n_feats"], r["logw_q4"])
        for r in dsir_log_weights(raw, fit_dsir(raw, target)).collect()
    }
    # 1<<20 buckets over a ~60-gram vocab: collision-free for this
    # fixed fixture (verified by the equality itself)
    bucketed = {
        r["doc_id"]: (r["n_feats"], r["logw_q4"])
        for r in dsir_log_weights(
            raw, fit_dsir(raw, target, num_buckets=1 << 20)
        ).collect()
    }
    assert exact == bucketed


def test_dsir_portable_hash_is_weight_equivalent(spark):
    """LAW: the feature hash is identity-only — swapping xxhash64 for
    the oracle-replayable md5-prefix hash changes no weight, bucketed
    (collision-free width) or unbucketed. Pins the dsir_wb adjudication
    rows to the production xxhash64 path's arithmetic."""
    raw, target = _corpora(spark)

    def weights(**kw):
        return {
            r["doc_id"]: (r["n_feats"], r["logw_q4"])
            for r in dsir_log_weights(raw, fit_dsir(raw, target, **kw)).collect()
        }

    assert weights() == weights(portable_hash=True)
    assert weights(num_buckets=1 << 20) == weights(
        num_buckets=1 << 20, portable_hash=True
    )


def test_dsir_weights_partition_invariant(spark):
    raw, target = _corpora(spark)
    base = {
        r["doc_id"]: r["logw_q4"]
        for r in dsir_log_weights(raw, fit_dsir(raw, target)).collect()
    }
    shuffled = {
        r["doc_id"]: r["logw_q4"]
        for r in dsir_log_weights(
            raw.repartition(7), fit_dsir(raw.repartition(5), target)
        ).collect()
    }
    assert base == shuffled


def test_dsir_empty_and_null_docs_absent(spark):
    raw, target = _corpora(spark)
    extra = spark.createDataFrame(
        pd.DataFrame({"doc_id": [9, 10], "text": ["", None]})
    )
    w = dsir_log_weights(
        raw.unionByName(extra), fit_dsir(raw, target)
    ).collect()
    assert {r["doc_id"] for r in w} == {1, 2, 3, 4}


def test_dsir_select_tilts_and_is_deterministic(spark):
    raw, target = _corpora(spark)
    model = fit_dsir(raw, target)
    w = dsir_log_weights(raw, model)
    picked = {r["doc_id"] for r in dsir_select(w, 2).collect()}
    assert len(picked) == 2
    # temperature → 0 makes selection greedy: exactly the top-2 weights
    greedy = {
        r["doc_id"] for r in dsir_select(w, 2, temperature=1e-9).collect()
    }
    assert greedy == {1, 2}
    # deterministic replay, partition-invariant
    again = {
        r["doc_id"]
        for r in dsir_select(w.repartition(11), 2).collect()
    }
    assert picked == again


def test_dsir_select_k_exceeding_corpus_returns_all(spark):
    raw, target = _corpora(spark)
    w = dsir_log_weights(raw, fit_dsir(raw, target))
    assert len(dsir_select(w, 50).collect()) == 4


def test_dsir_select_plan_is_take_ordered(spark):
    raw, target = _corpora(spark)
    w = dsir_log_weights(raw, fit_dsir(raw, target))
    plan = (
        dsir_select(w, 2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan


def test_dsir_bucketed_ratio_table_is_bounded(spark):
    raw, target = _corpora(spark)
    model = fit_dsir(raw, target, num_buckets=16)
    assert model["ratios"].count() <= 16


def test_dsir_select_per_group_counts_and_determinism(spark):
    import pandas as pd

    from uma_etl_iis_loader_spark.operators.dsir import (
        dsir_select_per_group,
    )

    raw, target = _corpora(spark)
    model = fit_dsir(raw, target)
    w = dsir_log_weights(raw, model).join(
        raw.selectExpr(
            "doc_id", "CASE WHEN doc_id <= 2 THEN 'a' ELSE 'b' END AS grp"
        ),
        "doc_id",
    )
    picked = dsir_select_per_group(w, "grp", k=1)
    rows = picked.collect()
    by_grp = {}
    for r in rows:
        by_grp.setdefault(r["grp"], []).append(r["doc_id"])
    assert len(by_grp["a"]) == 1 and len(by_grp["b"]) == 1
    # deterministic under repartitioning
    again = sorted(
        (r["grp"], r["doc_id"])
        for r in dsir_select_per_group(w.repartition(9), "grp", 1).collect()
    )
    assert again == sorted((r["grp"], r["doc_id"]) for r in rows)
    # k >= group size returns the whole group
    assert (
        len(dsir_select_per_group(w, "grp", 100).collect()) == w.count()
    )


def test_dsir_select_per_group_plan_single_window_no_sort(spark):
    import pandas as pd

    from uma_etl_iis_loader_spark.operators.dsir import (
        dsir_select_per_group,
    )

    raw, target = _corpora(spark)
    w = dsir_log_weights(raw, fit_dsir(raw, target)).withColumn(
        "grp", (F.col("doc_id") % 2).cast("string")
    )
    plan = (
        dsir_select_per_group(w, "grp", 2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Window [") == 1
    assert "CartesianProduct" not in plan


def test_dsir_select_safe_for_negative_and_huge_ids(spark):
    # negative ids must remain selectable (pmod keeps u in (0,1));
    # ids >= 2^32 must not overflow under Spark 4's default ANSI mode
    import pandas as pd

    w = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [-5, 3, 1 << 40],
                "logw_q4": [1_000_000, 1, 50],
            }
        )
    )
    picked = {r["doc_id"] for r in dsir_select(w, 2).collect()}
    # -5 carries an overwhelming weight: it MUST be in the top-2
    assert -5 in picked and len(picked) == 2


def test_dsir_update_equals_refit_law(spark):
    """Shard additivity of ``fit_dsir``: the model is a pure function of
    its (feat, ct, cr) counts, and those counts are additive over
    shards — so summing the counts of per-shard fits and deriving the
    model from the sum scores exactly like a refit on the
    concatenation."""
    from uma_etl_iis_loader_spark.operators.dsir import _derive_model

    raw, target = _corpora(spark)
    raw1 = raw.filter("doc_id <= 2")
    raw2 = raw.filter("doc_id > 2")
    extra_t = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [103], "text": ["season the broth and stir"]}
        )
    )
    # shard 1 = (raw1, target); shard 2 = (raw2, extra_t)
    m1 = fit_dsir(raw1, target)
    m2 = fit_dsir(raw2, extra_t)
    merged = (
        m1["counts"].unionByName(m2["counts"])
        .groupBy("feat")
        .agg(F.sum("ct").alias("ct"), F.sum("cr").alias("cr"))
    )
    m_inc = _derive_model(merged, m1["num_buckets"])
    m_full = fit_dsir(raw, target.unionByName(extra_t))
    counts_inc = {
        r["feat"]: (r["ct"], r["cr"]) for r in merged.collect()
    }
    counts_full = {
        r["feat"]: (r["ct"], r["cr"]) for r in m_full["counts"].collect()
    }
    assert counts_inc == counts_full
    score_inc = {
        r["doc_id"]: (r["n_feats"], r["logw_q4"])
        for r in dsir_log_weights(raw, m_inc).collect()
    }
    score_full = {
        r["doc_id"]: (r["n_feats"], r["logw_q4"])
        for r in dsir_log_weights(raw, m_full).collect()
    }
    assert score_inc == score_full and len(score_inc) == 4


def test_dsir_feature_count_law_random_corpus(spark):
    # n_feats == 2*words - 1 for every doc with >= 1 word (unigrams +
    # bigrams), across a seeded random corpus; weights always finite
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(42)
    vocab = [f"w{i}" for i in range(30)]
    texts = [
        " ".join(rng.choice(vocab, size=rng.integers(1, 40)))
        for _ in range(40)
    ]
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(40), "text": texts})
    )
    raw = docs.filter("doc_id % 3 <> 0")
    target = docs.filter("doc_id % 3 = 0")
    rows = dsir_log_weights(raw, fit_dsir(raw, target)).collect()
    words = {i: len(t.split()) for i, t in enumerate(texts)}
    assert len(rows) == raw.count()
    for r in rows:
        w = words[r["doc_id"]]
        assert r["n_feats"] == 2 * w - 1
        assert r["logw_q4"] is not None
