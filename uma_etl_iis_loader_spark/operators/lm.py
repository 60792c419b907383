"""Character n-gram language-model perplexity scoring — the CCNet-style
corpus quality filter (documents whose character statistics diverge from
a reference corpus score high perplexity and get filtered or
down-weighted before training).

Everything is declarative DataFrame algebra — model-as-TABLE, not
model-in-closure: the trained LM is a (trigram, count) DataFrame that
broadcasts into the scoring join, so training and scoring are both pure
Catalyst plans (no Python kernels, no driver collect anywhere). That is
also what makes the operator fully oracle-adjudicable: the identical
counting + smoothing arithmetic runs in ANSI SQL.

Model: trigram-with-Laplace —
    p(c3 | c1 c2) = (count(c1 c2 c3) + 1) / (count_ctx(c1 c2) + V)
where ``count_ctx`` is the trigram-prefix count (the exact conditional
denominator) and V the training vocabulary size (distinct characters).
Unseen trigrams/contexts fall through the left joins to the +1 / +V
smoothing floor. Integer-friendly by construction: every log argument
is a ratio of exact integers.

Hash-stability (the BM25 ``stable=True`` recipe,
`operators/search.py:39`): each per-trigram log-prob is quantized to
decimal(20,8) BEFORE the per-doc sum, so the aggregate is an exact
rational sum — insensitive to partition order and last-bit libm
differences — and the exported score is that sum rounded to 4 decimals
and scaled to an exact integer.

Scale notes (100 TB shape): TRAIN streams one aggregation over the
(bounded, deterministic) training slice — counts are map-side partial.
SCORE explodes each doc into at most ``max_chars`` trigram rows; the LM
and context tables broadcast (a trained char-trigram table is ≤ V³ rows,
MBs), so the only shuffle is the final per-doc partial-agg sum. Docs are
truncated to ``max_chars`` on BOTH train and score paths — perplexity is
a per-char statistic; a fixed-size prefix is the standard estimator.

Cite: reference has no quality scoring (`iis_etl/` is relational ETL);
extension surface per SURVEY.md §6. Public recipe: CCNet (Wenzek et al.
2020) LM-perplexity corpus filtering; Laplace smoothing is textbook.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _trigrams(docs: DataFrame, text_col: str, id_col: str, max_chars: int):
    """Explode each doc's first ``max_chars`` characters into (id, gram)
    trigram rows — `substring` is character-based (UTF-8 aware) in both
    Spark and the oracle's engine, so the gram sets match exactly."""
    t = F.substring(F.col(text_col), 1, max_chars)
    return (
        docs.where(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("id"), t.alias("t"))
        .where(F.length("t") >= 3)
        .select(
            "id",
            F.explode(F.sequence(F.lit(1), F.length("t") - 2)).alias("i"),
            "t",
        )
        .select("id", F.expr("substring(t, i, 3)").alias("gram"))
    )


def train_char_lm(
    train_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_chars: int = 512,
) -> dict:
    """Train the trigram LM over ``train_docs`` (pass a deterministic
    slice of the corpus, e.g. ``docs.filter("doc_id % 10 = 0")`` — the
    reference-corpus contract). Returns three DataFrames, all lazy:

    - ``tri``:  (gram, c_tri) trigram counts,
    - ``ctx``:  (ctx, c_ctx) trigram-PREFIX counts (the conditional
      denominator — derived from ``tri``, so Σ c_ctx == Σ c_tri),
    - ``vocab``: 1-row (v) distinct-character count of the training
      slice (cross-joined into scoring, never collected).
    """
    grams = _trigrams(train_docs, text_col, id_col, max_chars)
    tri = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("c_tri"))
    ctx = tri.groupBy(F.substring("gram", 1, 2).alias("ctx")).agg(
        F.sum("c_tri").alias("c_ctx")
    )
    chars = (
        train_docs.where(F.col(text_col).isNotNull())
        .select(
            F.explode(
                F.split(F.substring(F.col(text_col), 1, max_chars), "")
            ).alias("ch")
        )
        .where(F.col("ch") != "")
        .distinct()
    )
    return {
        "tri": tri,
        "ctx": ctx,
        "chars": chars,
        "vocab": chars.agg(F.count(F.lit(1)).alias("v")),
        "max_chars": max_chars,
    }


def score_perplexity(
    docs: DataFrame,
    lm: dict,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score each doc against the trained LM: one row per doc with
    ``n_grams`` (trigrams scored), ``logp_q4`` (total log-probability,
    an exact integer in 1e-4 units — decimal-quantized per-gram then
    exactly summed, hash-adjudicable), and ``ppl`` (perplexity
    exp(-logp/n), the human-facing float — keep it OUT of value hashes).

    Plan shape: trigram explode (narrow) → broadcast left joins against
    the LM/context/vocab tables → one per-doc sum with map-side partial
    aggregation. Docs shorter than 3 chars produce no rows (no trigrams
    to score), matching the oracle's WHERE."""
    grams = _trigrams(docs, text_col, id_col, lm["max_chars"])
    scored = (
        grams.join(F.broadcast(lm["tri"]), "gram", "left")
        .withColumn("ctx", F.substring("gram", 1, 2))
        .join(F.broadcast(lm["ctx"]), "ctx", "left")
        .crossJoin(F.broadcast(lm["vocab"]))
        .select(
            "id",
            F.round(
                F.log(
                    (F.coalesce(F.col("c_tri"), F.lit(0)) + 1.0)
                    / (F.coalesce(F.col("c_ctx"), F.lit(0)) + F.col("v"))
                ),
                8,
            )
            .cast("decimal(20,8)")
            .alias("lp"),
        )
    )
    return (
        scored.groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_grams"), F.sum("lp").alias("s"))
        .select(
            F.col("id").alias(id_col),
            "n_grams",
            (F.round(F.col("s"), 4) * 10000).cast("long").alias("logp_q4"),
            F.exp(-F.col("s").cast("double") / F.col("n_grams")).alias("ppl"),
        )
    )


def perplexity_buckets(
    scores: DataFrame,
    docs: DataFrame,
    lang_col: str = "lang",
    id_col: str = "doc_id",
    n_buckets: int = 3,
) -> DataFrame:
    """CCNet's signature head/middle/tail split (the public recipe):
    within each language, rank documents by fluency and cut into
    ``n_buckets`` equal groups — bucket 1 = most-fluent "head" the
    pipeline trains on first. Ordering is by PER-GRAM log-probability
    (``logp_q4 / n_grams`` DESC — the length-normalized quantity
    perplexity monotonically inverts; raw total log-prob would rank by
    document LENGTH, putting short gibberish above long fluent prose)
    with an ``id`` tie-break. The ratio divides two exact integers in
    IEEE double, so the assignment is deterministic and engine-portable
    (chained-float perplexity ordering is not). Returns
    (id, lang, logp_q4, bucket).

    Scale shape: one window per language partition — ntile streams over
    the sorted partition with O(1) state; a dominant language makes one
    big (but never materialized) partition, the same bound as every
    per-group window in the engine. Nothing collected."""
    from pyspark.sql import Window

    ranked = scores.join(
        docs.select(F.col(id_col), F.col(lang_col)), id_col
    )
    w = Window.partitionBy(lang_col).orderBy(
        (F.col("logp_q4").cast("double") / F.col("n_grams")).desc(),
        F.col(id_col),
    )
    return ranked.select(
        id_col,
        lang_col,
        "logp_q4",
        F.ntile(n_buckets).over(w).alias("bucket"),
    )
