"""DSIR-style importance resampling — data selection for LM pretraining
(the public recipe of Xie et al. 2023, "Data Selection for Language
Models via Importance Resampling"): estimate how much each RAW document
looks like a small TARGET corpus using hashed-n-gram bag features, score
it with the log importance ratio between the two feature distributions,
and resample the raw corpus with probability tilted toward high-ratio
documents (Gumbel top-k — the standard without-replacement form).

Everything is declarative DataFrame algebra — model-as-TABLE, the
``operators/lm.py`` pattern: the "model" is a (feature, log-ratio)
DataFrame joined into scoring, so fit and score are both pure Catalyst
plans with no Python kernels and no driver collect. That also makes the
operator oracle-adjudicable end to end: counting, Laplace smoothing,
per-feature decimal quantization, the weighted sum, and even the Gumbel
keys replay exactly in ANSI SQL (integer-hash uniforms, single-``ln``
terms rounded to 8 decimals — the BM25/LM stable-score recipe).

Model: unigram+bigram bag with Laplace smoothing —
    log w(d) = Σ_f c_d(f) · [ln p_target(f) − ln p_raw(f)]
    p_X(f) = (count_X(f) + 1) / (total_X + V)
with V the joint feature vocabulary size. Features unseen in BOTH
corpora fall back to the constant ratio ln((total_raw+V)/(total_target+V))
(the +1/+V floor on each side).

Scale notes (100 TB shape): features are ALWAYS 8-byte ``xxhash64``
keys — no gram string ever shuffles (the ``contamination`` recipe; a
weight shift needs a hash collision between two vocab grams,
negligible below ~10¹⁸ grams). Unbucketed, the ratio table is
corpus-vocabulary-sized — fine for adjudication, wrong for the
cluster; ``num_buckets`` folds the hash into B buckets (the paper uses
B = 10k): the ratio table is then EXACTLY B rows — broadcast — and the
whole scoring pass is explode → broadcast join → per-doc partial agg,
one shuffle on doc_id. Selection is Gumbel top-k via
``TakeOrderedAndProject`` (k rows per partition then k at the driver),
never a global sort. Bucketed == unbucketed weights whenever no two
vocab grams collide in a bucket (law-tested); at B=10k collisions just
blur the estimate, which is the paper's own trade.

Cite: reference has no data-selection surface (`iis_etl/` is relational
ETL); extension surface per SURVEY.md §6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Knuth multiplicative constants — the engine-portable integer-hash
#: uniform used across the sampling family (see operators/sampling.py).
_MULT = 2654435761
_INC = 1013904223
_MOD = 4294967296


def _gram_rows_sql(id_col: str, text_col: str, rel: str) -> str:
    """The unigram+bigram explode as one SQL SELECT over ``{rel}`` —
    every DataFrame transformation on these deep plans costs ~20-45 ms
    of driver analysis (the r12 pagerank finding), so the dsir fit and
    score paths assemble whole WITH-CTE statements and pay ONE
    parse/analysis per spark.sql call instead of one per operation.

    The inner subquery keeps the tokenize-once projection barrier: the
    split+filter chain materializes per row; downstream references see
    the ``__w`` attribute (re-inlining it per element is the measured
    5-10x gram-explode trap)."""
    from ..functions.text import quote_ident, word_window_array_sql, words_sql

    text = quote_ident(text_col)
    return (
        f"SELECT id, explode(concat(__w, "
        f"{word_window_array_sql('__w', 2)})) AS gram "
        f"FROM (SELECT {quote_ident(id_col)} AS id, {words_sql(text)} "
        f"AS __w FROM {rel} WHERE {text} IS NOT NULL)"
    )


def _feat_sql(num_buckets: int | None, portable: bool) -> str:
    """Feature key per gram row, as a SQL expression over ``gram``: by
    default an 8-byte ``xxhash64`` of the gram (the ``contamination``
    recipe — count aggregations and the scoring join shuffle longs,
    never gram strings; a count merge needs an xxhash64 collision
    between two distinct vocab grams, negligible below ~10¹⁸ grams and
    exactly the blur ``num_buckets`` embraces anyway). ``num_buckets``
    additionally folds the hash into B buckets — the 100 TB path where
    the ratio table is exactly B rows and broadcasts.

    ``portable=True`` swaps the hash for the top 60 bits of md5 —
    bit-identical in DuckDB as ``CAST('0x' || substr(md5(g),1,15) AS
    BIGINT)`` — so the BUCKETED pipeline (bucket fold → B-row ratio
    table → broadcast scoring join, the exact plan the default hash
    runs) is oracle-replayable end to end. Same code path, slower
    hash: use it for adjudication, xxhash64 for production."""
    if portable:
        h = "CAST(conv(substring(md5(gram), 1, 15), 16, 10) AS BIGINT)"
    else:
        h = "xxhash64(gram)"
    if num_buckets is not None:
        h = f"pmod({h}, {int(num_buckets)})"
    return h


def fit_dsir(
    raw_docs: DataFrame,
    target_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int | None = None,
    portable_hash: bool = False,
) -> dict:
    """Fit the importance-ratio model: per-feature Laplace-smoothed
    log p_target − log p_raw. Returns lazy DataFrames (never collected):

    - ``counts``: (feat, ct, cr) — the per-feature counts the model
      derives from;
    - ``ratios``: (feat, r) for every feature seen in either corpus,
      r = round(ln((ct+1)/(Tt+V)) − ln((cr+1)/(Tr+V)), 8) as
      decimal(20,8) — quantized per-feature, the exact-sum recipe
      (totals Tt/Tr and the joint vocab size V are folded in-plan);
    - ``fallback``: 1 row (r0) — the unseen-feature ratio;
    - ``num_buckets``: the feature-bucketing setting, echoed.
    """
    # ONE tagged union + ONE agg produces both corpora's counts —
    # not two aggs + a full-outer join (which would re-run the gram
    # explodes and triple the stage count of the fit)
    counts = _tagged_counts(
        raw_docs, target_docs, text_col, id_col, num_buckets, portable_hash
    )
    return _derive_model(counts, num_buckets, portable_hash)


def _tagged_counts(
    raw_docs, target_docs, text_col, id_col, num_buckets, portable=False
):
    """(feat, ct, cr) — per-feature occurrence counts in the target and
    raw corpora, from one tagged union + one aggregation. Assembled as
    ONE WITH-CTE statement (single parse/analysis — see
    :func:`_gram_rows_sql`)."""
    feat = _feat_sql(num_buckets, portable)
    sql = (
        "WITH tg AS (" + _gram_rows_sql(id_col, text_col, "{target}") + "),\n"
        "rg AS (" + _gram_rows_sql(id_col, text_col, "{raw}") + "),\n"
        f"tagged AS (SELECT {feat} AS feat, 1 AS t FROM tg "
        f"UNION ALL SELECT {feat} AS feat, 0 AS t FROM rg)\n"
        "SELECT feat, sum(t) AS ct, sum(1 - t) AS cr "
        "FROM tagged GROUP BY feat"
    )
    return raw_docs.sparkSession.sql(sql, target=target_docs, raw=raw_docs)


def _derive_model(
    counts, num_buckets: int | None, portable: bool = False
) -> dict:
    """Derive ratios/fallback from a (feat, ct, cr) counts frame — the
    arithmetic half of :func:`fit_dsir`."""
    spark = counts.sparkSession
    totals_sql = (
        "SELECT coalesce(sum(ct), 0) AS tt, coalesce(sum(cr), 0) AS tr, "
        "count(1) AS v FROM {counts}"
    )
    q = "CAST(round({x}, 8) AS DECIMAL(20,8))"
    ratios = spark.sql(
        "WITH totals AS (" + totals_sql + ") "
        "SELECT /*+ BROADCAST(t) */ c.feat, "
        + q.format(
            x="ln((c.ct + 1.0) / (t.tt + t.v)) "
            "- ln((c.cr + 1.0) / (t.tr + t.v))"
        )
        + " AS r FROM {counts} c CROSS JOIN totals t",
        counts=counts,
    )
    fallback = spark.sql(
        "SELECT "
        + q.format(x="ln(1.0 / (tt + v)) - ln(1.0 / (tr + v))")
        + " AS r0 FROM (" + totals_sql + ")",
        counts=counts,
    )
    return {
        "counts": counts,
        "ratios": ratios,
        "fallback": fallback,
        "num_buckets": num_buckets,
        "portable_hash": portable,
    }


def dsir_log_weights(
    docs: DataFrame,
    model: dict,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score documents against a fitted model: (doc_id, n_feats,
    logw_q4) — total feature occurrences and the log importance weight
    as an exact integer in 1e-4 units (per-feature decimal(20,8) terms
    summed exactly, then round(·,4)·10⁴ — hash-adjudicable).

    Plan shape: gram explode (narrow) → join the ratio table on 8-byte
    keys (broadcast when bucketed — B rows; unbucketed tables join
    shuffled and are the adjudication rung, not the scale rung) → one
    per-doc sum with map-side partial aggregation."""
    feat = _feat_sql(model["num_buckets"], model.get("portable_hash", False))
    # the docs-side explode+featurize rides ONE WITH-CTE statement (one
    # parse/analysis — the DataFrame chain paid ~45 ms of driver
    # analysis PER operation on these deep plans); the model joins stay
    # DataFrame-API because the model's frames may belong to a different
    # session than ``docs`` (streaming foreachBatch clones), where
    # parameterized spark.sql cannot resolve them
    feats = docs.sparkSession.sql(
        "WITH grams AS ("
        + _gram_rows_sql(id_col, text_col, "{docs}")
        + f")\nSELECT id, {feat} AS feat FROM grams",
        docs=docs,
    )
    ratios = model["ratios"]
    if model["num_buckets"] is not None:
        ratios = F.broadcast(ratios)
    return (
        feats.join(ratios, "feat", "left")
        .crossJoin(F.broadcast(model["fallback"]))
        .select("id", F.coalesce(F.col("r"), F.col("r0")).alias("r"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_feats"), F.sum("r").alias("s"))
        .select(
            F.col("id").alias(id_col),
            "n_feats",
            (F.round(F.col("s"), 4) * 10000).cast("long").alias("logw_q4"),
        )
    )


def _gumbel_key(
    id_col: str, seed: int, temperature: float
):
    """The ONE selection-key formula both select variants share:
    key = logw/T + Gumbel(doc), Gumbel from the family's integer-hash
    uniform, both addends rounded to 8 decimals (oracle-replayable).

    Arithmetic safety: the id is pre-reduced with ``pmod`` to < 2³¹
    BEFORE the Knuth multiply, so the product stays inside long range
    (Spark 4 runs ANSI mode by default — an unreduced id ≥ ~2³² would
    raise ARITHMETIC_OVERFLOW), and ``pmod`` (never ``%``) keeps the
    uniform in (0, 1) for negative ids, whose Gumbel would otherwise
    be NULL and sort them permanently unselectable. The oracle replays
    the same expression with ``%`` — identical for the non-negative
    ids the fixtures carry."""
    reduced = F.pmod(F.col(id_col), F.lit(2147483648))
    u = (
        F.pmod(reduced * _MULT + F.lit(seed), F.lit(_MOD)) + 0.5
    ) / F.lit(float(_MOD))
    gumbel = F.round(-F.log(-F.log(u)), 8)
    return (
        F.round(
            F.col("logw_q4") / F.lit(10000.0) / F.lit(float(temperature)),
            8,
        )
        + gumbel
    )


def dsir_select(
    weights: DataFrame,
    k: int,
    temperature: float = 1.0,
    seed: int = _INC,
    id_col: str = "doc_id",
) -> DataFrame:
    """Gumbel top-k resampling over the scored weights — draw ``k``
    documents without replacement with P(pick) tilted by
    exp(logw / temperature): key = logw/T + Gumbel(doc), take the k
    largest. The Gumbel uniform is the integer-hash scheme shared by
    the sampling family (engine-portable, append-stable — a document's
    noise never changes as the corpus grows), and both addends are
    rounded to 8 decimals, so ordering replays exactly in the oracle.
    Returns (doc_id, logw_q4); ordering inside the result is by key
    (TakeOrderedAndProject — k rows per partition, never a global
    sort)."""
    key = _gumbel_key(id_col, seed, temperature)
    return (
        weights.select(id_col, "logw_q4", key.alias("__key"))
        .orderBy(F.col("__key").desc(), F.col(id_col))
        .limit(k)
        .drop("__key")
    )


def dsir_select_per_group(
    weights: DataFrame,
    group_col: str,
    k: int,
    temperature: float = 1.0,
    seed: int = _INC,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-group Gumbel top-k — the corpus-fraction scale path.
    :func:`dsir_select`'s global top-k merges k rows at the driver,
    the right shape for a serving-sized k; selecting a FRACTION of a
    100 TB corpus makes k itself corpus-sized and the global merge the
    bottleneck. Real pipelines budget per domain/language anyway (the
    DSIR paper selects per source), so this variant takes the k
    highest Gumbel keys within each ``group_col`` partition: one
    shuffle on the group key, one window with streamed O(1) state per
    partition (plus Spark's WindowGroupLimit pre-filter), no global
    sort, no driver merge. Same key formula and determinism contract
    as :func:`dsir_select`. Returns (id, group, logw_q4)."""
    from pyspark.sql import Window

    key = _gumbel_key(id_col, seed, temperature)
    w = Window.partitionBy(group_col).orderBy(
        key.desc(), F.col(id_col)
    )
    return (
        weights.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .select(id_col, group_col, "logw_q4")
    )
