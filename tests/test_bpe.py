from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from uma_etl_iis_loader_spark.functions.bpe import (
    BASE_VOCAB,
    _encode_word,
    _merge_seq,
    bpe_decode,
    bpe_encode,
    build_vocab,
    train_bpe,
)

# ---------------------------------------------------------------------------
# pure-Python pieces
# ---------------------------------------------------------------------------


def test_merge_seq_left_to_right_non_overlapping():
    a, b = b"a", b"a"
    assert _merge_seq((a, a, a), (a, a), b"aa") == (b"aa", a)
    assert _merge_seq((a, a, a, a), (a, a), b"aa") == (b"aa", b"aa")


def test_encode_word_applies_merges_in_rank_order():
    # merges: ('l','o') first, then ('lo','w') — "low" must become
    # one token via the rank-ordered path, never ('l', 'ow')
    merges = [(b"l", b"o"), (b"lo", b"w")]
    vocab = build_vocab(merges)
    ids = _encode_word("low", {p: i for i, p in enumerate(merges)}, vocab, {})
    assert ids == [vocab[b"low"]]
    assert bpe_decode(ids, merges) == "low"


@settings(max_examples=60, deadline=None)
@given(st.text(max_size=300))
def test_round_trip_lossless_any_text(text):
    # losslessness holds for ANY merge table by byte-level construction
    merges = [(b"t", b"h"), (b"th", b"e"), (b" ", b" "), (b"e", b"r")]
    vocab = build_vocab(merges)
    ranks = {p: i for i, p in enumerate(merges)}
    import re

    from uma_etl_iis_loader_spark.functions.bpe import _PRETOKEN_RE

    ids = []
    for tok in _PRETOKEN_RE.findall(text):
        ids.extend(_encode_word(tok, ranks, vocab, {}))
    assert bpe_decode(ids, merges) == text
    assert all(i < BASE_VOCAB + len(merges) for i in ids)


# ---------------------------------------------------------------------------
# training
# ---------------------------------------------------------------------------


def _docs(spark, texts):
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )


def test_train_is_deterministic(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    m1 = train_bpe(docs, vocab_size=300, sample_rows=64)
    m2 = train_bpe(docs, vocab_size=300, sample_rows=64)
    assert m1 == m2 and len(m1) > 0


def test_train_learns_frequent_pairs(spark):
    docs = _docs(spark, ["aaab aaab aaab", "aaab aaab", "xy"])
    merges = train_bpe(docs, vocab_size=BASE_VOCAB + 3, sample_rows=10)
    # 'aa' is the most frequent pair (count 10 across pretokens)
    assert merges[0] == (b"a", b"a")
    # and merges compose: 'aaab' should end as few tokens
    vocab = build_vocab(merges)
    ids = _encode_word(
        "aaab", {p: i for i, p in enumerate(merges)}, vocab, {}
    )
    assert len(ids) <= 2


def test_train_stops_when_no_repeats(spark):
    docs = _docs(spark, ["abcdefg"])
    merges = train_bpe(docs, vocab_size=512, sample_rows=10)
    assert merges == []  # every pair occurs once — nothing to learn


# ---------------------------------------------------------------------------
# distributed encode
# ---------------------------------------------------------------------------


def test_bpe_encode_corpus_laws(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    merges = train_bpe(docs, vocab_size=320, sample_rows=64)
    out = bpe_encode(docs, merges).collect()
    assert len(out) == docs.count()
    for r in out:
        assert r["round_trip_ok"] is True
        assert r["ids_in_vocab"] is True
        assert r["n_tokens"] <= r["n_bytes"]
        assert len(r["token_ids"]) == r["n_tokens"]


def test_bpe_encode_compresses(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    merges = train_bpe(docs, vocab_size=512, sample_rows=64)
    agg = bpe_encode(docs, merges).groupBy().sum("n_tokens", "n_bytes").collect()[0]
    # a 256-merge vocab must compress English text materially
    assert agg["sum(n_tokens)"] < 0.8 * agg["sum(n_bytes)"]


def test_bpe_encode_null_and_empty(spark):
    from pyspark.sql import functions as F

    docs = _docs(spark, ["", "hi"])
    with_null = docs.unionByName(
        spark.range(1).select(
            (F.col("id") + 100).alias("doc_id"),
            F.lit(None).cast("string").alias("text"),
        )
    )
    rows = {r["doc_id"]: r for r in bpe_encode(with_null, [(b"h", b"i")]).collect()}
    assert rows[0]["round_trip_ok"] is True and rows[0]["n_tokens"] == 0
    assert rows[1]["n_tokens"] == 1  # "hi" → the merged token
    assert rows[100]["round_trip_ok"] is None  # NULL text passes through


def test_bpe_encode_string_ids(spark):
    # id column type is derived from the input schema — string ids
    # must survive (hard-coded `long` used to fail at runtime)
    docs = spark.createDataFrame(
        [("a1", "hi"), ("b2", "this")], "doc_id string, text string"
    )
    out = bpe_encode(docs, [(b"h", b"i")])
    assert out.schema["doc_id"].dataType.simpleString() == "string"
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows["a1"]["n_tokens"] == 1 and rows["a1"]["round_trip_ok"]
    assert rows["b2"]["round_trip_ok"]


def test_bpe_encode_zero_shuffles(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = (
        bpe_encode(docs, [(b"t", b"h")])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
