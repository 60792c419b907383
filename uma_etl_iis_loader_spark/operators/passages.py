"""Exact repeated-passage detection — substring-level dedup.

Near-dup operators (MinHash/SimHash in operators/dedup.py) judge WHOLE
documents; training corpora also need the orthogonal signal of exact
repeated SPANS inside otherwise-distinct documents (boilerplate,
licenses, quoted passages). The published formulation builds a corpus
suffix array and extracts repeated substrings over a length threshold;
the distributed re-expression used here is fixed-length token shingles:
a span is repeated iff every k-token window inside it is repeated, so
marking repeated windows and merging consecutive ones recovers maximal
repeated passages of length ≥ k without any global suffix structure.

Scale design (100 TB):
- the shingle table is one row per corpus token — the big intermediate.
  With ``hashed=True`` (production default) the shuffle key is an 8-byte
  xxhash64, not the k-token string: shuffle bytes ∝ tokens × 8.
- the repeated-key set (count of distinct docs ≥ min_docs) is tiny
  relative to the corpus (only actual repeats survive), and the
  df-filter aggregation partial-aggregates map-side before its shuffle.
- span merging is a per-document window over the marked positions —
  partitions bounded by document length, no global sort.

Adjudication note: the registered query runs ``hashed=False`` (string
keys) so a DuckDB oracle can replicate it exactly (DuckDB has no
xxhash64); hash-key/string-key output equivalence is pinned in
tests/test_passages.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def shingle_positions(
    docs: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    hashed: bool = True,
) -> DataFrame:
    """(id, pos, key): one row per k-token window start position.
    Documents with fewer than k whitespace tokens emit nothing (no
    window exists). ``key`` is xxhash64 of the space-joined window
    (``hashed=True``) or the window text itself."""
    words = F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"), lambda x: x != ""
    )
    base = (
        docs.select(F.col(id_col).alias("id"), words.alias("ws"))
        .withColumn("n", F.size("ws"))
        .filter(F.col("n") >= k)
    )
    sg = F.array_join(F.slice(F.col("ws"), F.col("pos") + 1, k), " ")
    key = F.xxhash64(sg) if hashed else sg
    return base.select(
        "id",
        F.explode(F.sequence(F.lit(0), F.col("n") - k)).alias("pos"),
        "ws",
    ).select("id", "pos", key.alias("key"))


def repeated_passages(
    docs: DataFrame,
    k: int = 8,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    hashed: bool = True,
    pin: bool = True,
) -> dict[str, DataFrame]:
    """Cross-document exact repeated passages.

    Returns:
      - ``stats``: (id, n_shingles, n_repeated) per document with ≥ k
        tokens — how much of the doc sits inside cross-doc repeats.
      - ``spans``: (id, start_word, end_word) maximal repeated passages
        (inclusive word indices; end = last window start + k - 1).
        Consecutive repeated window positions merge into one span, so a
        passage of m ≥ k repeated tokens reports once, not m - k + 1
        times.

    A window is repeated iff its key occurs in ≥ ``min_docs`` DISTINCT
    documents (within-doc self-repeats don't count — they're the
    repetition signal quality_score already captures). ``pin``
    checkpoints the marked-position table so stats and spans don't
    re-run the corpus-wide shuffle twice.
    """
    sh = shingle_positions(docs, k, id_col, text_col, hashed)
    if pin:
        # the tokenize+explode subtree (one row per corpus token) feeds
        # both the df-count aggregation and the mark join: persist it so
        # the dominant cost runs once, release after the checkpoint
        sh = sh.persist()
    rep = (
        sh.groupBy("key")
        .agg(F.count_distinct("id").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("key")
        .withColumn("__r", F.lit(True))
    )
    marked = sh.join(rep, "key", "left").select(
        "id", "pos", F.coalesce(F.col("__r"), F.lit(False)).alias("rep")
    )
    if pin:
        # localCheckpoint, NOT persist+count: marked is corpus-sized (one
        # row per token window), so a collect-to-local is off the table
        # and a session-lifetime cache would tax every later query's
        # analysis (CacheManager matches each new plan against every
        # cached plan — measured r12). The RDD-path checkpoint loses
        # AQE's runtime broadcast of the mark join, but truncates the
        # lineage to a leaf for both downstream consumers.
        marked = marked.localCheckpoint(eager=True)
        sh.unpersist()
    stats = marked.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum(F.col("rep").cast("long")).alias("n_repeated"),
    )
    w = Window.partitionBy("id").orderBy("pos")
    spans = (
        marked.filter(F.col("rep"))
        .withColumn("grp", F.col("pos") - F.row_number().over(w))
        .groupBy("id", "grp")
        .agg(
            F.min("pos").alias("start_word"),
            (F.max("pos") + F.lit(k - 1)).alias("end_word"),
        )
        .select("id", "start_word", "end_word")
    )
    return {"stats": stats, "spans": spans}
