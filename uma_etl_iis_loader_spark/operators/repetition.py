"""Within-document n-gram repetition metrics — the n-gram half of the
Gopher/MassiveText repetition rules (``functions/text.gopher_metrics``
carries the line-level half). Two signals per document:

- ``top{n}_frac``: characters covered by the single most frequent word
  n-gram (count × gram length / doc length) — boilerplate headers and
  chat spam light this up.
- ``dup{n}_frac``: characters in word n-grams occurring ≥ 2×, as the
  overlap-INSENSITIVE proxy Σ count·len(gram) / doc length capped at 1
  (the published rule marks each character position once; the proxy
  upper-bounds it and is exactly reproducible in ANSI SQL, which the
  position-marking variant is not — documented deviation).

Scale shape: grams EXPLODE to (doc, n, gram) rows — total rows ∝ corpus
tokens, the same budget BM25 pays for its token explode — then ONE
partial-aggregatable count per (doc, n, gram) and one per-(doc, n)
conditional agg. No per-doc quadratic work (a nested higher-order
``filter`` would be O(grams²) per doc — fine on short pages, pathological
on book-length docs), no driver participation, map-side combines on both
aggregations.

Cite: the reference has no corpus-quality surface (`iis_etl/` is
relational ETL); extension surface per SURVEY.md §6, same family as the
C4/Gopher line gates in `functions/text.py`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _word_grams(words, n: int):
    """Word n-gram array in document order over an already-tokenized
    array; empty when the doc has < n words. Thin alias for the gram
    family's shared window builder."""
    from ..functions.text import word_window_array

    return word_window_array(words, n)


def repetition_metrics(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_n: int = 2,
    dup_n: int = 5,
) -> DataFrame:
    """Per-document repetition metrics, 1e-6-quantized (ratios of exact
    integer counts — engine-stable, hash-adjudicable):
    (id, n_chars, top_frac_q6, dup_frac_q6). Docs shorter than the gram
    sizes (or empty) report 0 for the affected metric; both fractions
    are capped at 1.0 (overlapping grams can attribute more characters
    than the doc holds)."""
    # unified gram-family tokenization: filter empty tokens (trim alone
    # strips only spaces, so leading \n/\t would inject phantom '' words
    # into the n-gram windows)
    # SQL-string form of the same expression (NOT lowercased — this
    # operator's documented tokenization): routes the window builders
    # through the gram family's one-call construction path
    from ..functions.text import quote_ident

    words = f"filter(split({quote_ident(text_col)}, '\\\\s+'), w -> w != '')"
    base = docs.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("__id"),
        F.length(text_col).cast("long").alias("n_chars"),
        _word_grams(words, top_n).alias("__top"),
        _word_grams(words, dup_n).alias("__dup"),
    )
    tagged = base.select(
        "__id",
        F.explode(
            F.concat(
                F.transform(
                    "__top", lambda g: F.struct(F.lit(top_n).alias("n"), g.alias("gram"))
                ),
                F.transform(
                    "__dup", lambda g: F.struct(F.lit(dup_n).alias("n"), g.alias("gram"))
                ),
            )
        ).alias("t"),
    ).select("__id", F.col("t.n").alias("n"), F.col("t.gram").alias("gram"))
    counts = tagged.groupBy("__id", "n", "gram").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    per_doc = counts.groupBy("__id").agg(
        F.max(
            F.when(F.col("n") == top_n, F.col("cnt") * F.length("gram"))
        ).alias("top_score"),
        F.sum(
            F.when(
                (F.col("n") == dup_n) & (F.col("cnt") >= 2),
                F.col("cnt") * F.length("gram"),
            )
        ).alias("dup_score"),
    )
    q6 = lambda x: F.round(x * 1e6, 0).cast("long")  # noqa: E731
    return (
        base.select("__id", "n_chars")
        .join(per_doc, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            "n_chars",
            # capped at 1.0: overlapping grams count shared characters
            # once per gram, so cnt*len(gram) can exceed n_chars on
            # pathological repeats — the fraction is a FILTER signal,
            # not a measure, and must stay in [0, 1]
            q6(
                F.least(
                    F.when(
                        F.col("n_chars") > 0,
                        F.coalesce(F.col("top_score"), F.lit(0))
                        / F.col("n_chars"),
                    ).otherwise(F.lit(0.0)),
                    F.lit(1.0),
                )
            ).alias("top_frac_q6"),
            q6(
                F.least(
                    F.when(
                        F.col("n_chars") > 0,
                        F.coalesce(F.col("dup_score"), F.lit(0))
                        / F.col("n_chars"),
                    ).otherwise(F.lit(0.0)),
                    F.lit(1.0),
                )
            ).alias("dup_frac_q6"),
        )
    )
