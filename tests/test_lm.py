from __future__ import annotations

import math

import pandas as pd
import pytest

from uma_etl_iis_loader_spark.operators.lm import (
    score_perplexity,
    train_char_lm,
)


def _docs(spark, texts, ids=None):
    ids = ids if ids is not None else list(range(len(texts)))
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": ids, "text": texts})
    )


def test_lm_counts_and_smoothing_by_hand(spark):
    # train on one doc "ababa": trigrams aba(2), bab(1); contexts
    # ab(2), ba(1); vocab {a, b} → V = 2
    train = _docs(spark, ["ababa"])
    lm = train_char_lm(train)
    tri = {r["gram"]: r["c_tri"] for r in lm["tri"].collect()}
    ctx = {r["ctx"]: r["c_ctx"] for r in lm["ctx"].collect()}
    assert tri == {"aba": 2, "bab": 1}
    assert ctx == {"ab": 2, "ba": 1}
    assert lm["vocab"].collect()[0]["v"] == 2

    # score "abab": grams aba, bab →
    #   p(aba) = (2+1)/(2+2), p(bab) = (1+1)/(1+2)
    out = score_perplexity(_docs(spark, ["abab"], ids=[7]), lm).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_grams"] == 2
    expected = round(math.log(3 / 4), 8) + round(math.log(2 / 3), 8)
    assert r["logp_q4"] == pytest.approx(expected * 10000, abs=0.51)
    assert r["ppl"] == pytest.approx(math.exp(-expected / 2), rel=1e-6)


def test_lm_unseen_falls_to_smoothing_floor(spark):
    lm = train_char_lm(_docs(spark, ["ababa"]))
    # "xyz" shares no trigram or context with training → every gram
    # scores the +1/+V floor: ln(1 / (0 + 2))
    r = score_perplexity(_docs(spark, ["xyzx"]), lm).collect()[0]
    assert r["n_grams"] == 2
    assert r["logp_q4"] == pytest.approx(
        2 * math.log(1 / 2) * 10000, abs=0.51
    )


def test_lm_short_and_null_docs_produce_no_rows(spark):
    lm = train_char_lm(_docs(spark, ["ababa"]))
    out = score_perplexity(_docs(spark, ["ab", "", None, "abc"]), lm).collect()
    assert {r["doc_id"] for r in out} == {3}  # only "abc" has a trigram


def test_lm_in_domain_scores_lower_ppl_than_noise(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lm = train_char_lm(docs.filter("doc_id % 10 = 0"))
    scored = score_perplexity(docs, lm)
    in_domain = scored.agg({"ppl": "avg"}).collect()[0][0]
    noise = _docs(
        spark, ["qzxjvwqpzkfhqzxjvwqpzkfhqzxjvw" * 5], ids=[999_999]
    )
    noise_ppl = score_perplexity(noise, lm).collect()[0]["ppl"]
    assert noise_ppl > 2 * in_domain  # the CCNet filter signal


def test_lm_truncation_bound(spark):
    # docs longer than max_chars score exactly max_chars - 2 grams
    lm = train_char_lm(_docs(spark, ["ababa"]), max_chars=512)
    long_doc = _docs(spark, ["a" * 5000])
    r = score_perplexity(long_doc, lm).collect()[0]
    assert r["n_grams"] == 510


def test_lm_join_is_broadcast_no_driver_collect(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lm = train_char_lm(docs.filter("doc_id % 10 = 0"))
    plan = (
        score_perplexity(docs, lm)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # the per-doc sum is the only hash aggregate exchange; no sort-merge
    # join should appear for MB-scale LM tables
    assert "SortMergeJoin" not in plan


def test_lm_incremental_update_equals_retrain(spark):
    """Shard additivity of ``train_char_lm``: folding a second shard's
    model into the first one's (trigram counts summed by gram, context
    counts re-derived from them, char vocabulary distinct-unioned) gives
    exactly the model trained on the concatenation, and scoring through
    either is identical."""
    from pyspark.sql import functions as F

    shard1 = _docs(spark, ["ababa", "hello world"], ids=[0, 1])
    shard2 = _docs(spark, ["world peace", "zzz qqq"], ids=[2, 3])
    both = shard1.unionByName(shard2)

    m1 = train_char_lm(shard1)
    m2 = train_char_lm(shard2, max_chars=m1["max_chars"])
    tri = (
        m1["tri"].unionByName(m2["tri"])
        .groupBy("gram").agg(F.sum("c_tri").alias("c_tri"))
    )
    chars = m1["chars"].unionByName(m2["chars"]).distinct()
    incremental = {
        "tri": tri,
        "ctx": tri.groupBy(F.substring("gram", 1, 2).alias("ctx")).agg(
            F.sum("c_tri").alias("c_ctx")
        ),
        "chars": chars,
        "vocab": chars.agg(F.count(F.lit(1)).alias("v")),
        "max_chars": m1["max_chars"],
    }
    retrained = train_char_lm(both)

    tri_inc = {r["gram"]: r["c_tri"] for r in incremental["tri"].collect()}
    tri_ret = {r["gram"]: r["c_tri"] for r in retrained["tri"].collect()}
    assert tri_inc == tri_ret
    ctx_inc = {r["ctx"]: r["c_ctx"] for r in incremental["ctx"].collect()}
    ctx_ret = {r["ctx"]: r["c_ctx"] for r in retrained["ctx"].collect()}
    assert ctx_inc == ctx_ret
    assert (
        incremental["vocab"].collect()[0]["v"]
        == retrained["vocab"].collect()[0]["v"]
    )
    # and scoring through either model is identical
    probe = _docs(spark, ["hello peace"], ids=[9])
    a = score_perplexity(probe, incremental).collect()[0]
    b = score_perplexity(probe, retrained).collect()[0]
    assert (a["n_grams"], a["logp_q4"]) == (b["n_grams"], b["logp_q4"])


def test_lm_score_invariant_under_repartitioning(spark, sf_dir):
    # the decimal(20,8) per-gram quantization claims partition-order
    # invariance for the exported integer score — pin it
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lm = train_char_lm(docs.filter("doc_id % 10 = 0"))
    base = {
        r["doc_id"]: (r["n_grams"], r["logp_q4"])
        for r in score_perplexity(docs, lm).collect()
    }
    shuffled = {
        r["doc_id"]: (r["n_grams"], r["logp_q4"])
        for r in score_perplexity(docs.repartition(17), lm).collect()
    }
    assert base == shuffled


def test_perplexity_buckets_ccnet_split(spark):
    import pandas as pd

    from uma_etl_iis_loader_spark.operators.lm import (
        perplexity_buckets,
        score_perplexity,
        train_char_lm,
    )

    # 9 docs in two languages; scores come from the real LM so ordering
    # is by the exact integer logp_q4
    texts = {
        i: ("the common phrase " * (1 + i % 3)) + f"tail {i}"
        for i in range(9)
    }
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": list(texts),
                "text": list(texts.values()),
                "lang": ["en"] * 6 + ["de"] * 3,
            }
        )
    )
    lm = train_char_lm(docs)
    ppl = score_perplexity(docs, lm)
    per_gram = {
        r["doc_id"]: r["logp_q4"] / r["n_grams"] for r in ppl.collect()
    }
    rows = perplexity_buckets(ppl, docs).collect()
    by_lang: dict = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    # en: 6 docs -> buckets of 2/2/2; de: 3 docs -> 1/1/1
    from collections import Counter

    assert Counter(r["bucket"] for r in by_lang["en"]) == {1: 2, 2: 2, 3: 2}
    assert Counter(r["bucket"] for r in by_lang["de"]) == {1: 1, 2: 1, 3: 1}
    # bucket 1 holds the highest PER-GRAM logp (most fluent, length-
    # normalized) docs per language — raw total logp would rank by
    # document length instead
    for lang, rs in by_lang.items():
        b1 = min(per_gram[r["doc_id"]] for r in rs if r["bucket"] == 1)
        b3 = max(per_gram[r["doc_id"]] for r in rs if r["bucket"] == 3)
        assert b1 >= b3
    # deterministic across partitionings
    again = {
        (r["doc_id"]): r["bucket"]
        for r in perplexity_buckets(
            ppl.repartition(13), docs.repartition(7)
        ).collect()
    }
    assert again == {r["doc_id"]: r["bucket"] for r in rows}
