"""Training-data-pipeline extension queries (dedup, similarity search,
text analysis) over the documents/embeddings fixtures, with DuckDB oracles
where ANSI-SQL-expressible (minhash/simhash use xxhash64, which DuckDB
lacks → rows-only checks there, with exact-Jaccard equivalence covered in
pytest instead).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import fingerprint, lang_id, quality_score, token_count
from ..io import read_fixture
from ..operators.dedup import (
    embedding_cosine_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from ..operators.search import bm25_scores
from ..operators.similarity import brute_force_topk, ivf_topk
from .registry import register


def _union_all(*dfs: DataFrame) -> DataFrame:
    """N-way unionByName fold. NOTE (r13, measured): a single
    parameterized ``spark.sql`` UNION ALL over the branches is NOT a
    win — the df-substitution path re-analyzes every branch subtree
    from unresolved (sampling_ops fn() 10 s → 31 s when tried), while
    the chained ``unionByName`` reuses each branch's cached analysis
    and only re-analyzes the accumulating union spine (~40 ms/branch).
    Keep the fold."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out

# ---------------------------------------------------------------------------
# exact dedup — canonical-form fingerprint
# ---------------------------------------------------------------------------

_CANON_SQL = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"

_EXACT_DEDUP_ORACLE = f"""
SELECT md5({_CANON_SQL}) AS fingerprint,
       min(doc_id) AS keep_id,
       count(*) AS dup_count
FROM documents
GROUP BY 1
"""


@register("dedup_exact", _EXACT_DEDUP_ORACLE)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5 of canonicalized text, min-id survivor."""
    return exact_dedup(read_fixture(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup (exact, inverted-index join)
# ---------------------------------------------------------------------------

_NGRAM_JACCARD_ORACLE = """
WITH g AS (
    SELECT doc_id AS id,
           list_distinct(list_transform(
               range(1, greatest(len(words) - 2, 0) + 1),
               i -> concat_ws(' ', words[i], words[i+1], words[i+2])
           )) AS grams
    FROM (SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(text), '\\s+'),
                             w -> w <> '') AS words
          FROM documents)
), inv AS (
    SELECT id, u.gram FROM g, unnest(g.grams) AS u(gram)
), shared AS (
    SELECT a.id AS id_a, b.id AS id_b, count(*) AS shared
    FROM inv a JOIN inv b ON a.gram = b.gram AND a.id < b.id
    GROUP BY 1, 2
), sizes AS (
    SELECT id, len(grams) AS sz FROM g
)
SELECT id_a, id_b
FROM shared
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE CAST(shared AS DOUBLE) / (sa.sz + sb.sz - shared) >= 0.35
"""


@register("dedup_ngram_jaccard", _NGRAM_JACCARD_ORACLE)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard pairs ≥ 0.35.

    The registered path is threshold-ADAPTIVE (prefix_filter=None):
    ngram_jaccard_pairs picks PPJoin prefix filtering at t ≥ 0.6 (short
    prefix, posting-list pruning wins — the hot-gram 100 TB path) and the
    naive inverted-index count below (at t=0.35 the prefix is ~65% of
    each doc's grams, so pruning can't pay for its shuffles). Selection
    is pytest-pinned; both paths are exact and output-identical.
    """
    return ngram_jaccard_pairs(
        read_fixture(spark, sf_dir, "documents"),
        n=3,
        threshold=0.35,
    )


# MinHash-LSH and SimHash near-dup queries (DuckDB lacks the signature
# hashes) are merged into `dedup_lsh_pairs` below — exact-verified pair
# set + in-plan recall/precision property rows, one registry slot. The
# whole registry holds ≤ 50 queries so the driver's correctness gate
# (first 50 registered) adjudicates every one; tests/test_properties.py
# guards that invariant.


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------

_COSINE_PAIRS_ORACLE = """
SELECT 'exact' AS method, a.vec_id AS id_a, b.vec_id AS id_b
FROM embeddings a, embeddings b
WHERE a.vec_id < b.vec_id
  AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                             CAST(b.embedding AS DOUBLE[])) >= 0.45
UNION ALL
SELECT 'semantic_subset_ok', CAST(-1 AS BIGINT), CAST(1 AS BIGINT)
"""


@register("dedup_embedding_cosine", _COSINE_PAIRS_ORACLE)
def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup, method-tagged:

    - 'exact' pair rows, cosine ≥ 0.45 (ids only — float noise stays
      internal). Tiled exact block-matmul self-join: shuffles n·blocks
      replicated vectors instead of materializing n²/2 crossJoin pair
      rows (equivalence to the crossJoin path pytest-pinned in
      tests/test_dedup.py). At t=0.45 on near-orthogonal embeddings LSH
      has no recall/pruning headroom, so the exact path must scale; the
      SRP-banded approximate path is the high-threshold ladder rung.
    - one 'semantic_subset_ok' property row (id_a=-1): id_b=1 iff every
      cluster-scoped semantic_dedup pair at the same threshold is in the
      exact pair set — the containment law the SemDeDup recipe promises
      (its clustering can only LOSE cross-cluster pairs, never invent
      one), computed in-plan with an anti-join and asserted literally by
      the oracle. The cluster assignment itself hashes with xxhash64, so
      the semantic pair IDENTITIES stay pytest-pinned; this row makes
      the operator's correctness law driver-adjudicated."""
    from ..operators.dedup import semantic_dedup

    emb = read_fixture(spark, sf_dir, "embeddings")
    exact = embedding_cosine_pairs(
        emb, threshold=0.45, method="tiled", blocks=8
    )
    sem = semantic_dedup(emb, n_clusters=8, threshold=0.45)["pairs"]
    subset_ok = (
        sem.join(exact, ["id_a", "id_b"], "left_anti")
        .agg(F.count(F.lit(1)).alias("__extra"))
        .select(
            F.lit("semantic_subset_ok").alias("method"),
            F.lit(-1).cast("long").alias("id_a"),
            F.when(F.col("__extra") == 0, 1).otherwise(0)
            .cast("long")
            .alias("id_b"),
        )
    )
    return (
        exact.select(F.lit("exact").alias("method"), "id_a", "id_b")
        .unionByName(subset_ok)
    )


# ---------------------------------------------------------------------------
# similarity search: exact brute-force top-k (oracle) + IVF ANN (rows-only)
# ---------------------------------------------------------------------------

_TOPK_ORACLE = """
WITH q AS (
    SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
    WHERE vec_id % 25 = 0
), scored AS (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                  CAST(q.qvec AS DOUBLE[])) AS sim
    FROM embeddings e, q
)
SELECT query_id, neighbor_id, rank FROM (
    SELECT query_id, neighbor_id,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id ASC) AS INT) AS rank
    FROM scored
) WHERE rank <= 10
"""


def _query_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_fixture(spark, sf_dir, "embeddings", split=False)
    return emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


# split=False: the kNN kernels are batch matrix products — few LARGE Arrow
# batches beat 32 tiny ones (per-task python/Arrow overhead dominates at
# fixture scale; real deployments get ≥128MB splits from the file format).


@register("knn_brute_force", _TOPK_ORACLE)
def q_knn_brute_force(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for every 25th vector as query."""
    emb = read_fixture(spark, sf_dir, "embeddings", split=False)
    return brute_force_topk(emb, _query_vectors(spark, sf_dir), k=10)


# The approximate-ANN queries (IVF + SRP-LSH; no SQL oracle by design)
# are merged into `knn_ann`, registered at the END of this module.


# ---------------------------------------------------------------------------
# text analysis: token counting / quality / language / fingerprint — one
# per-document projection (all four §2-extension text features share the
# documents grain, so one registered query adjudicates them all against
# the DuckDB oracle, every feature column value-hash-compared per row)
# ---------------------------------------------------------------------------

#  in a SQL literal; RE2 (DuckDB) and Java (Spark) agree on this
# lookahead-free pattern
_BPE_SQL_PAT = (
    "''(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+"
)

# the quality_score(text) mirror (functions/text.py quality_score) —
# ONE fragment shared by every oracle that replays it, so a formula
# change cannot silently desync a subset of the mirrors
_QUALITY_SQL = """round(0.4 * (CASE WHEN length(text) > 0
            THEN CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                      AS DOUBLE) / length(text) ELSE 0.0 END)
    + 0.3 * least(CAST(length(text) AS DOUBLE) / 1000.0, 1.0)
    + 0.3 * (CASE WHEN (CASE
             WHEN len(regexp_split_to_array(trim(text), '\\s+')) > 0
             THEN CAST(length(text) AS DOUBLE)
                  / len(regexp_split_to_array(trim(text), '\\s+'))
             ELSE 0.0 END) BETWEEN 3 AND 12
             THEN 1.0 ELSE 0.5 END), 6)"""

_TEXT_ANALYSIS_ORACLE = f"""
SELECT doc_id,
       CASE WHEN trim(text) = '' THEN 0
            ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
       CASE WHEN trim(lower(text)) = '' THEN 0
            ELSE len(list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+')))
       END AS n_distinct_words,
       coalesce(list_max(list_transform(
           list_distinct(g2),
           x -> len(list_filter(g2, y -> y = x))
       )), 0) AS top_bigram_count,
       len(regexp_extract_all(text, '{_BPE_SQL_PAT}')) AS n_bpe_tokens,
       length(text) AS n_chars_computed,
       md5({_CANON_SQL}) AS fingerprint,
       {_QUALITY_SQL} AS quality,
       lang_pred
FROM (SELECT *,
             list_transform(range(1, greatest(len(w0) - 1, 0) + 1),
                            i -> concat_ws(' ', w0[i], w0[i+1])) AS g2
      FROM (SELECT *, list_filter(regexp_split_to_array(lower(text),
                              '\\s+'), w -> w <> '') AS w0
            FROM documents)) documents
JOIN (
    WITH toks AS (
        SELECT doc_id AS lid, text AS ltext,
               regexp_split_to_array(lower(text), '[^a-z]+') AS t,
               length(regexp_replace(text, '[^\\x{{4e00}}-\\x{{9fff}}]', '', 'g')) AS cjk
        FROM documents
    ), scores AS (
        SELECT lid, cjk, length(ltext) AS n,
               len(list_filter(t, x -> x IN ('the','and','of','to','a'))) AS s_en,
               len(list_filter(t, x -> x IN ('der','die','und','das','ist'))) AS s_de,
               len(list_filter(t, x -> x IN ('le','la','les','et','des'))) AS s_fr,
               len(list_filter(t, x -> x IN ('el','la','los','que','de'))) AS s_es
        FROM toks
    )
    SELECT lid,
           CASE WHEN cjk * 4 > n THEN 'zh'
                WHEN s_es > greatest(s_en, s_de, s_fr) THEN 'es'
                WHEN s_fr > greatest(s_en, s_de) THEN 'fr'
                WHEN s_de > s_en THEN 'de'
                ELSE 'en' END AS lang_pred
    FROM scores
) ON doc_id = lid
"""


@register("text_analysis", _TEXT_ANALYSIS_ORACLE)
def q_text_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text analysis: whitespace + BPE-ish token counts
    (RE2-compatible pattern — the oracle runs the SAME regex), char count,
    canonical md5 fingerprint, heuristic quality score (alpha ratio +
    length saturation + mean-word-length sanity), marker-stopword +
    CJK-share language ID, and the Gopher-style repetition signals
    (distinct-word count for type-token ratio; occurrence count of the
    most frequent bigram — both pure array expressions, no explode).
    One narrow JVM-side projection, zero shuffles — the 100 TB shape
    for corpus statistics."""
    from ..functions.text import (
        bpe_token_count,
        distinct_word_count,
        top_ngram_count,
    )

    docs = read_fixture(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        distinct_word_count("text").alias("n_distinct_words"),
        top_ngram_count("text", 2).alias("top_bigram_count"),
        bpe_token_count("text").alias("n_bpe_tokens"),
        F.length("text").alias("n_chars_computed"),
        fingerprint("text").alias("fingerprint"),
        quality_score("text").alias("quality"),
        lang_id("text").alias("lang_pred"),
    )


# ---------------------------------------------------------------------------
# multimodal: binary-column plumbing (decode stubbed; see operators/multimodal)
# ---------------------------------------------------------------------------

# All multimodal kernels adjudicated under ONE `op`-discriminated query
# (the driver checks at most 50 registered queries — method-tagged rows
# keep every kernel inside the window):
#   - 'stats': payload metadata through the mapInPandas decode kernel
#     (byte counts oracle-checked; histogram features pytest-checked).
#   - 'frame_sample' / 'resize': frame indices are pure arithmetic over
#     payload length (evenly spaced, capped at max_frames) — so coverage
#     and sampling positions ARE oracle-checkable even though the frame
#     bytes themselves are not.
#   - 'decode_bmp': the REAL decode path — deterministic synthetic BMPs
#     (affine pixel formulas of (id, row, col)) are encoded with the
#     stdlib encode_bmp and decoded back with decode_image's stdlib BMP
#     rung; width/height/file-size/pixel-sum are recomputed by the
#     oracle from the same arithmetic, so a broken header parse, row
#     flip, padding slice, or channel order flips a hashed value.
#   - 'decode_png': the same pixels through the COMPRESSED rung — real
#     zlib encode (encode_png) + the stdlib zlib/unfilter decoder;
#     width/height/pixel-sum oracle-recomputed (n_bytes NULL: a zlib
#     stream's length is not SQL-expressible).
def _exif_strip_bytes() -> int:
    """Constant bytes removed by strip_image_metadata from a synthesized
    EXIF JPEG: the injected APP1 (fixed-size by construction) plus the
    encoder's own JFIF APP0 — measured, not hard-coded, so an encoder
    change can't silently desync the oracle."""
    import numpy as np

    from ..operators.jpeg import (
        build_exif_app1,
        encode_jpeg,
        strip_jpeg_metadata,
    )

    plain = encode_jpeg(np.zeros((1, 1, 3), dtype=np.uint8))
    app0 = len(plain) - len(strip_jpeg_metadata(plain))
    return len(build_exif_app1(orientation=1, gps=(0.5, -0.25))) + app0


_EXIF_STRIP_BYTES = _exif_strip_bytes()

_MM_OPS_ORACLE = f"""
WITH meta AS (
    SELECT doc_id AS asset_id,
           greatest(octet_length(encode(text)) // 1024, 1) AS n_frames
    FROM documents
), stepped AS (
    SELECT asset_id, n_frames,
           greatest(n_frames // 8, 1) AS step
    FROM meta
)
SELECT 'stats' AS op, doc_id AS asset_id, CAST(NULL AS INT) AS idx,
       CAST(NULL AS INT) AS width, CAST(NULL AS INT) AS height,
       CAST(octet_length(encode(text)) AS INT) AS n_bytes,
       CASE WHEN doc_id % 3 = 0 THEN 'image'
            WHEN doc_id % 3 = 1 THEN 'audio'
            ELSE 'video' END AS tag
FROM documents
UNION ALL
SELECT 'frame_sample', asset_id, CAST(u.i AS INT),
       NULL, NULL, NULL, NULL
FROM stepped, range(0, 8) AS u(i)
WHERE u.i < least((n_frames + step - 1) // step, 8)
UNION ALL
SELECT 'resize', doc_id, NULL, 16, 16, 256, NULL FROM documents
UNION ALL
SELECT 'decode_bmp', p.doc_id, NULL, CAST(p.w AS INT), CAST(p.h AS INT),
       CAST(54 + p.h * (((3 * p.w + 3) // 4) * 4) AS INT),
       CAST(p.s AS VARCHAR)
FROM (
    SELECT b.doc_id, b.w, b.h,
           sum((b.doc_id + 11 * r.i + 13 * c.i) % 256
             + (b.doc_id + 5 * r.i + 7 * c.i) % 256
             + (b.doc_id + 2 * r.i + 3 * c.i) % 256) AS s
    FROM (SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
          FROM documents) b,
         range(0, 6) r(i), range(0, 8) c(i)
    WHERE r.i < b.h AND c.i < b.w
    GROUP BY 1, 2, 3
) p
UNION ALL
SELECT 'decode_png', p.doc_id, NULL, CAST(p.w AS INT), CAST(p.h AS INT),
       NULL, CAST(p.s AS VARCHAR)
FROM (
    SELECT b.doc_id, b.w, b.h,
           sum((b.doc_id + 11 * r.i + 13 * c.i) % 256
             + (b.doc_id + 5 * r.i + 7 * c.i) % 256
             + (b.doc_id + 2 * r.i + 3 * c.i) % 256) AS s
    FROM (SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
          FROM documents) b,
         range(0, 6) r(i), range(0, 8) c(i)
    WHERE r.i < b.h AND c.i < b.w
    GROUP BY 1, 2, 3
) p
UNION ALL
SELECT 'decode_jpeg', doc_id, NULL,
       CAST(4 + doc_id % 5 AS INT), CAST(3 + doc_id % 4 AS INT),
       NULL, 'true'
FROM documents WHERE doc_id % 4 = 0
UNION ALL
SELECT 'decode_wav', w.doc_id, 1,
       CAST(50 + w.doc_id % 60 AS INT),
       CAST(8000 + (w.doc_id % 3) * 4000 AS INT),
       CAST(44 + 2 * (50 + w.doc_id % 60) AS INT),
       CAST(w.s AS VARCHAR)
FROM (
    SELECT d.doc_id,
           sum((d.doc_id * 31 + k.i * 17) % 4001 - 2000) AS s
    FROM documents d, range(0, 110) k(i)
    WHERE k.i < 50 + d.doc_id % 60
    GROUP BY 1
) w
UNION ALL
SELECT 'audio_fft', doc_id, CAST(1 + doc_id % 16 AS INT),
       64, 16000, NULL, 'true'
FROM documents
UNION ALL
SELECT 'resample_audio', doc_id, NULL,
       CAST(greatest(2, (50 + doc_id % 60) * 16000
                        // (8000 + (doc_id % 3) * 4000)) AS INT),
       16000,
       CAST(44 + 2 * greatest(2, (50 + doc_id % 60) * 16000
                                 // (8000 + (doc_id % 3) * 4000)) AS INT),
       concat((doc_id * 31) % 4001 - 2000, ':',
              (doc_id * 31 + (50 + doc_id % 60 - 1) * 17) % 4001 - 2000)
FROM documents
UNION ALL
SELECT 'video_frames', p.doc_id, CAST(p.f AS INT),
       CAST(p.w AS INT), CAST(p.h AS INT),
       CAST(p.h * (((3 * p.w + 3) // 4) * 4) AS INT),
       CAST(p.s AS VARCHAR)
FROM (
    SELECT b.doc_id, f.i AS f, b.w, b.h,
           sum((b.doc_id + 7 * f.i + 11 * r.i + 13 * c.i) % 256
             + (b.doc_id + 3 * f.i + 5 * r.i + 7 * c.i) % 256
             + (b.doc_id + f.i + 2 * r.i + 3 * c.i) % 256) AS s
    FROM (SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h,
                 2 + doc_id % 4 AS nf FROM documents) b,
         range(0, 5) f(i), range(0, 6) r(i), range(0, 8) c(i)
    WHERE f.i < b.nf AND r.i < b.h AND c.i < b.w
    GROUP BY 1, 2, 3, 4
) p
UNION ALL
SELECT 'video_mjpeg', b.doc_id, CAST(f.i AS INT),
       CAST(4 + b.doc_id % 5 AS INT), CAST(3 + b.doc_id % 4 AS INT),
       NULL, 'true'
FROM (SELECT doc_id FROM documents WHERE doc_id % 8 = 0) b,
     range(0, 5) f(i)
WHERE f.i < 2 + b.doc_id % 4
UNION ALL
SELECT 'dhash', d2.doc_id, NULL, NULL, NULL, NULL,
       concat(d2.hi, ':', d2.lo)
FROM (
    SELECT doc_id,
           sum(CASE WHEN p >= 32
                    THEN CAST(bit AS BIGINT) << (p - 32) ELSE 0 END) AS hi,
           sum(CASE WHEN p < 32
                    THEN CAST(bit AS BIGINT) << p ELSE 0 END) AS lo
    FROM (
        SELECT b.doc_id, rr.i * 8 + cc.i AS p,
               CASE WHEN
                 ((b.doc_id + 11 * ((rr.i * b.h) // 8)
                    + 13 * (((cc.i + 1) * b.w) // 9)) % 256
                + (b.doc_id + 5 * ((rr.i * b.h) // 8)
                    + 7 * (((cc.i + 1) * b.w) // 9)) % 256
                + (b.doc_id + 2 * ((rr.i * b.h) // 8)
                    + 3 * (((cc.i + 1) * b.w) // 9)) % 256)
               >
                 ((b.doc_id + 11 * ((rr.i * b.h) // 8)
                    + 13 * ((cc.i * b.w) // 9)) % 256
                + (b.doc_id + 5 * ((rr.i * b.h) // 8)
                    + 7 * ((cc.i * b.w) // 9)) % 256
                + (b.doc_id + 2 * ((rr.i * b.h) // 8)
                    + 3 * ((cc.i * b.w) // 9)) % 256)
               THEN 1 ELSE 0 END AS bit
        FROM (SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
              FROM documents) b,
             range(0, 8) rr(i), range(0, 8) cc(i)
    ) bits
    GROUP BY doc_id
) d2
UNION ALL
SELECT 'media_dispatch', p.doc_id, NULL, CAST(p.n_units AS INT),
       NULL, NULL, concat(p.kind, ':', p.metric)
FROM (
    SELECT b.doc_id, 'image' AS kind, b.w * b.h AS n_units,
           sum((b.doc_id + 11 * r.i + 13 * c.i) % 256
             + (b.doc_id + 5 * r.i + 7 * c.i) % 256
             + (b.doc_id + 2 * r.i + 3 * c.i) % 256) AS metric
    FROM (SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
          FROM documents WHERE doc_id % 3 = 0) b,
         range(0, 6) r(i), range(0, 8) c(i)
    WHERE r.i < b.h AND c.i < b.w
    GROUP BY 1, 2, 3
    UNION ALL
    SELECT d.doc_id, 'audio', 50 + d.doc_id % 60,
           sum((d.doc_id * 31 + k.i * 17) % 4001 - 2000)
    FROM (SELECT doc_id FROM documents WHERE doc_id % 3 = 1) d,
         range(0, 110) k(i)
    WHERE k.i < 50 + d.doc_id % 60
    GROUP BY 1, 2, 3
    UNION ALL
    SELECT b.doc_id, 'video', 2 + b.doc_id % 4,
           sum((b.doc_id + 7 * f.i + 11 * r.i + 13 * c.i) % 256
             + (b.doc_id + 3 * f.i + 5 * r.i + 7 * c.i) % 256
             + (b.doc_id + f.i + 2 * r.i + 3 * c.i) % 256)
    FROM (SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h,
                 2 + doc_id % 4 AS nf
          FROM documents WHERE doc_id % 3 = 2) b,
         range(0, 5) f(i), range(0, 6) r(i), range(0, 8) c(i)
    WHERE f.i < b.nf AND r.i < b.h AND c.i < b.w
    GROUP BY 1, 2, 3
) p
UNION ALL
SELECT 'warc', w.doc_id, CAST(w.r AS INT), NULL, NULL,
       CAST(length(w.body) AS INT),
       concat('response', ':', 'http://example.com/', w.doc_id, '/', w.r,
              ':', w.body)
FROM (
    SELECT d.doc_id, u.r,
           repeat('doc-' || d.doc_id || '-rec-' || u.r || ' ', u.r + 1)
               AS body
    FROM documents d, unnest(range(0, 1 + d.doc_id % 3)) u(r)
) w
UNION ALL
SELECT 'exif', d.doc_id, CAST(1 + d.doc_id % 8 AS INT), NULL, NULL,
       CAST({_EXIF_STRIP_BYTES} AS INT),
       concat('true', ':', (d.doc_id % 90) * 10000 + 5000, ':',
              -((d.doc_id % 180) * 10000) - 2500)
FROM documents d
"""


@register("multimodal_ops", _MM_OPS_ORACLE)
def q_multimodal_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal binary-column plumbing, tagged by `op`: payload
    metadata ('stats' rows: byte count + media type through the
    mapInPandas decode kernel), frame sampling and resize ('frame_sample'
    / 'resize' rows — the oracle reproduces the deterministic sampling
    arithmetic from the payload byte length and the resize coverage
    contract), and the REAL decode path ('decode_bmp' rows: synthetic
    24-bit BMPs encoded and decoded through the stdlib codec in
    operators/multimodal, with width/height/file-size/pixel-sum
    hash-adjudicated against the oracle's recomputation — no fake
    features on this rung). The audio face ('decode_wav' / 'audio_fft' /
    'resample_audio' rows) runs the REAL RIFF/WAVE codec, rFFT feature
    kernel, and linear resampler from operators/audio — sample sums,
    byte sizes, dominant spectral bins, and resample endpoints are all
    oracle-recomputed from the deterministic synthesis formulas. The
    video face ('video_frames' / 'video_mjpeg' rows) parses REAL
    RIFF/AVI containers from operators/video and decodes uncompressed
    DIB and MJPEG frames (per-frame dims / byte sizes / pixel sums
    oracle-recomputed; MJPEG sums as bounded-error booleans).
    Compressed-format payloads beyond baseline JPEG remain codec-gated
    (PIL rung); their determinism and byte shape are pinned in
    tests/test_multimodal.py."""
    from ..operators.multimodal import (
        bmp_pixel_stats,
        documents_as_assets,
        fake_decode_features,
        frame_sample,
        resize_images,
        synthesize_bmp_assets,
        synthesize_png_assets,
    )

    assets = documents_as_assets(read_fixture(spark, sf_dir, "documents"))
    # NOTE (r13, measured): do NOT repartition this input to the core
    # count. The union already runs its ~15 kernel branches as parallel
    # single tasks (wall ≈ slowest branch's serial CPU, ~0.9 s after
    # the r13 codec work); spreading each branch across 32 partitions
    # multiplied the cell 2.3 s → 10.4 s at local[32] (and 5 s at
    # local[8]) — 30 python-eval stages × 32 tasks fork hundreds of
    # fresh Python workers whose pandas/numpy imports dwarf the kernel
    # CPU. This is the cell's 8-vs-32-core anti-scaling mechanism: the
    # floor is worker/stage setup, not codec work. At corpus scale the
    # scan fans out on its own and per-worker import cost amortizes
    # over full batches.
    null_i = F.lit(None).cast("int")
    null_s = F.lit(None).cast("string")
    stats = fake_decode_features(assets).select(
        F.lit("stats").alias("op"),
        "asset_id",
        null_i.alias("idx"),
        null_i.alias("width"),
        null_i.alias("height"),
        F.col("n_bytes").cast("int").alias("n_bytes"),
        F.col("media_type").alias("tag"),
    )
    frames = frame_sample(assets).select(
        F.lit("frame_sample").alias("op"),
        "asset_id",
        F.col("frame_idx").cast("int").alias("idx"),
        null_i.alias("width"),
        null_i.alias("height"),
        null_i.alias("n_bytes"),
        null_s.alias("tag"),
    )
    resized = resize_images(assets, target_w=16, target_h=16).select(
        F.lit("resize").alias("op"),
        "asset_id",
        null_i.alias("idx"),
        F.col("width").cast("int"),
        F.col("height").cast("int"),
        F.length("payload").cast("int").alias("n_bytes"),
        null_s.alias("tag"),
    )
    decoded = bmp_pixel_stats(
        synthesize_bmp_assets(
            assets.select(F.col("asset_id")), id_col="asset_id"
        )
    ).select(
        F.lit("decode_bmp").alias("op"),
        "asset_id",
        null_i.alias("idx"),
        F.col("width").cast("int"),
        F.col("height").cast("int"),
        F.col("n_bytes").cast("int"),
        F.col("pixel_sum").cast("string").alias("tag"),
    )
    # compressed-format rung: same synthetic pixels, encoded through the
    # real stdlib PNG encoder (zlib) and decoded by decode_image's
    # zlib+unfilter PNG rung — width/height/pixel-sum adjudicated;
    # n_bytes is NULL (a zlib stream's length is not SQL-recomputable)
    decoded_png = bmp_pixel_stats(
        synthesize_png_assets(
            assets.select(F.col("asset_id")), id_col="asset_id"
        )
    ).select(
        F.lit("decode_png").alias("op"),
        "asset_id",
        null_i.alias("idx"),
        F.col("width").cast("int"),
        F.col("height").cast("int"),
        null_i.alias("n_bytes"),
        F.col("pixel_sum").cast("string").alias("tag"),
    )
    # LOSSY-format rung: same pixels through the real stdlib baseline
    # JPEG codec (operators/jpeg — Huffman + DCT both ways). Dimensions
    # adjudicate exactly; the pixel sum adjudicates as a BOUND boolean
    # (|sum − true| ≤ 5% + 200; measured max over 500 assets: 2.45% /
    # 86 abs at quality=92) with the true sum recomputed in-plan by the
    # same declarative arithmetic the oracle uses — a broken Huffman
    # table, IDCT, or upsample blows far past the band. A quarter of
    # the docs (doc_id % 4 = 0) — the codec's Python Huffman loops are
    # the one genuinely per-row-CPU rung here, and 500 hash-adjudicated
    # round-trips pin it as hard as 2000 (the full corpus runs through
    # the BMP/PNG rows above).
    from ..operators.multimodal import synthesize_jpeg_assets

    ids = assets.select("asset_id").filter(F.col("asset_id") % 4 == 0)
    true_sum = (
        ids.select(
            "asset_id",
            (F.lit(4) + F.col("asset_id") % 5).alias("__w"),
            (F.lit(3) + F.col("asset_id") % 4).alias("__h"),
            F.explode(F.sequence(F.lit(0), F.lit(5))).alias("__r"),
        )
        .select(
            "asset_id", "__w", "__h", "__r",
            F.explode(F.sequence(F.lit(0), F.lit(7))).alias("__c"),
        )
        .filter((F.col("__r") < F.col("__h")) & (F.col("__c") < F.col("__w")))
        .groupBy("asset_id")
        .agg(
            F.sum(
                (F.col("asset_id") + 11 * F.col("__r") + 13 * F.col("__c")) % 256
                + (F.col("asset_id") + 5 * F.col("__r") + 7 * F.col("__c")) % 256
                + (F.col("asset_id") + 2 * F.col("__r") + 3 * F.col("__c")) % 256
            ).alias("__true")
        )
    )
    decoded_jpeg = (
        bmp_pixel_stats(synthesize_jpeg_assets(ids, id_col="asset_id"))
        .join(F.broadcast(true_sum), "asset_id")
        .select(
            F.lit("decode_jpeg").alias("op"),
            "asset_id",
            null_i.alias("idx"),
            F.col("width").cast("int"),
            F.col("height").cast("int"),
            null_i.alias("n_bytes"),
            (
                F.abs(F.col("pixel_sum") - F.col("__true"))
                <= 0.05 * F.col("__true") + 200
            ).cast("string").alias("tag"),
        )
    )
    # AUDIO rungs: RIFF/WAVE PCM needs no codec library, so the real
    # decode path adjudicates fully (operators/audio):
    #   - 'decode_wav': synthetic modular-arithmetic signals encoded with
    #     the real encode_wav and parsed back — n_samples / rate /
    #     byte size / sample sum all recomputed by the oracle.
    #   - 'audio_fft': integer-period pure tones through the rFFT
    #     feature kernel — the spectral argmax MUST be the construction
    #     bin (1 + id % 16), and the in-plan Parseval boolean (freq-
    #     domain energy == N·Σx² to 1e-6) pins transform consistency.
    #   - 'resample_audio': decode → endpoint-aligned linear interp →
    #     re-encode at 16 kHz; output length is the exact integer
    #     contract and first/last samples equal the input endpoints,
    #     both oracle-recomputed from the synthesis formula.
    from ..operators.audio import (
        audio_spectral_features,
        resample_audio,
        synthesize_tone_assets,
        synthesize_wav_assets,
        wav_sample_stats,
    )

    aud_ids = assets.select("asset_id")
    wav_rows = wav_sample_stats(synthesize_wav_assets(aud_ids)).select(
        F.lit("decode_wav").alias("op"),
        "asset_id",
        F.col("n_channels").cast("int").alias("idx"),
        F.col("n_samples").cast("int").alias("width"),
        F.col("sample_rate").cast("int").alias("height"),
        F.col("n_bytes").cast("int").alias("n_bytes"),
        F.col("sample_sum").cast("string").alias("tag"),
    )
    fft_rows = audio_spectral_features(
        synthesize_tone_assets(aud_ids)
    ).select(
        F.lit("audio_fft").alias("op"),
        "asset_id",
        F.col("dominant_bin").cast("int").alias("idx"),
        F.col("n_samples").cast("int").alias("width"),
        F.col("sample_rate").cast("int").alias("height"),
        null_i.alias("n_bytes"),
        F.col("parseval_ok").cast("string").alias("tag"),
    )
    resampled = resample_audio(
        synthesize_wav_assets(aud_ids), target_rate=16000
    ).select(
        F.lit("resample_audio").alias("op"),
        "asset_id",
        null_i.alias("idx"),
        F.col("n_samples_out").cast("int").alias("width"),
        F.col("target_rate").cast("int").alias("height"),
        F.length("payload").cast("int").alias("n_bytes"),
        F.concat_ws(
            ":", F.col("first_out"), F.col("last_out")
        ).alias("tag"),
    )
    # VIDEO rungs: the RIFF/AVI container is pure byte layout too
    # (operators/video), so REAL container parsing + frame decode
    # adjudicate fully:
    #   - 'video_frames': uncompressed-DIB AVIs (deterministic per-frame
    #     pixel formulas of (id, frame, row, col)) parsed by the real
    #     chunk walker, frames decoded by vectorized DIB slicing —
    #     per-frame dims / byte size / pixel sum all oracle-recomputed.
    #   - 'video_mjpeg': the same frames as an MJPEG stream (each '00dc'
    #     chunk a real stdlib-encoded baseline JPEG) through the
    #     container + Huffman/IDCT decode path; dims adjudicate exactly,
    #     the pixel sum as the same bounded-error boolean as the
    #     'decode_jpeg' rows (lossy codec), on 1/8 of the docs — the
    #     per-frame Python Huffman loops are the CPU-heavy rung.
    from ..operators.video import (
        media_ingest_stats,
        synthesize_avi_assets,
        synthesize_mixed_assets,
        synthesize_mjpeg_assets,
        video_frame_stats,
    )

    vids = video_frame_stats(synthesize_avi_assets(aud_ids)).select(
        F.lit("video_frames").alias("op"),
        "asset_id",
        F.col("frame_idx").cast("int").alias("idx"),
        F.col("width").cast("int"),
        F.col("height").cast("int"),
        F.col("frame_bytes").cast("int").alias("n_bytes"),
        F.col("pixel_sum").cast("string").alias("tag"),
    )
    vm_ids = assets.select("asset_id").filter(F.col("asset_id") % 8 == 0)
    true_vsum = (
        vm_ids.select(
            "asset_id",
            (F.lit(4) + F.col("asset_id") % 5).alias("__w"),
            (F.lit(3) + F.col("asset_id") % 4).alias("__h"),
            (F.lit(2) + F.col("asset_id") % 4).alias("__nf"),
            F.explode(F.sequence(F.lit(0), F.lit(4))).alias("__f"),
        )
        .filter(F.col("__f") < F.col("__nf"))
        .select(
            "asset_id", "__w", "__h", "__f",
            F.explode(F.sequence(F.lit(0), F.lit(5))).alias("__r"),
        )
        .select(
            "asset_id", "__w", "__h", "__f", "__r",
            F.explode(F.sequence(F.lit(0), F.lit(7))).alias("__c"),
        )
        .filter((F.col("__r") < F.col("__h")) & (F.col("__c") < F.col("__w")))
        .groupBy("asset_id", "__f")
        .agg(
            F.sum(
                (F.col("asset_id") + 7 * F.col("__f") + 11 * F.col("__r")
                 + 13 * F.col("__c")) % 256
                + (F.col("asset_id") + 3 * F.col("__f") + 5 * F.col("__r")
                   + 7 * F.col("__c")) % 256
                + (F.col("asset_id") + F.col("__f") + 2 * F.col("__r")
                   + 3 * F.col("__c")) % 256
            ).alias("__true")
        )
    )
    mj_stats = video_frame_stats(synthesize_mjpeg_assets(vm_ids))
    mjpeg = (
        mj_stats.join(
            F.broadcast(true_vsum),
            (mj_stats["asset_id"] == true_vsum["asset_id"])
            & (mj_stats["frame_idx"] == true_vsum["__f"]),
        )
        .select(
            F.lit("video_mjpeg").alias("op"),
            mj_stats["asset_id"].alias("asset_id"),
            F.col("frame_idx").cast("int").alias("idx"),
            F.col("width").cast("int"),
            F.col("height").cast("int"),
            null_i.alias("n_bytes"),
            (
                F.abs(F.col("pixel_sum") - F.col("__true"))
                <= 0.05 * F.col("__true") + 200
            ).cast("string").alias("tag"),
        )
    )
    # 'media_dispatch' rows: the unified mixed-media ingest path —
    # id % 3 picks BMP / WAV / AVI, one media_ingest_stats pass sniffs
    # and decodes ALL of them through decode_media; kind + unit count +
    # content metric are oracle-recomputed from the three synthesis
    # formulas (a wrong dispatch, decode, or de-interleave flips the
    # hashed kind:metric tag).
    # 'dhash' rows: perceptual difference-hash through the REAL decode
    # path (multimodal.dhash_images) — integer grayscale sums + floor-
    # index grid sampling make the 64-bit hash exactly SQL-recomputable
    # (shipped as hi:lo 32-bit halves); the hamming-banded pairing
    # operator (image_near_dup_pairs) builds on this signature.
    from ..operators.multimodal import dhash_images

    dhash_rows = dhash_images(
        synthesize_bmp_assets(aud_ids, id_col="asset_id")
    ).select(
        F.lit("dhash").alias("op"),
        "asset_id",
        null_i.alias("idx"),
        null_i.alias("width"),
        null_i.alias("height"),
        null_i.alias("n_bytes"),
        F.concat_ws(":", "hash_hi", "hash_lo").alias("tag"),
    )
    mixed = media_ingest_stats(synthesize_mixed_assets(aud_ids)).select(
        F.lit("media_dispatch").alias("op"),
        "asset_id",
        null_i.alias("idx"),
        F.col("n_units").cast("int").alias("width"),
        null_i.alias("height"),
        null_i.alias("n_bytes"),
        F.concat_ws(":", "kind", F.col("metric_sum")).alias("tag"),
    )
    # 'warc' rows: the REAL WARC/1.0 ingest path (operators/warc) —
    # per-record gzip members inflated, headers parsed, Content-Length
    # framing honored; record type, URI, byte count AND body text are
    # oracle-recomputed from the synthesis formulas.
    from ..operators.warc import synthesize_warc_assets, warc_records

    # 'exif' rows: the image-PII path — synthesized JPEGs carry a REAL
    # EXIF APP1 (orientation + exactly-representable GPS DMS); the scan
    # kernel (image_metadata) must read them back to the digit, and
    # with_scrub_stats=True counts in the SAME pass exactly the bytes
    # strip_image_metadata would splice out (APP1 + the encoder's JFIF
    # APP0 — measured into the oracle constant, never hard-coded).
    # One kernel subtree: the join-of-two-kernels shape re-ran the
    # synthesis/encode for both branches.
    from ..operators.multimodal import (
        image_metadata,
        synthesize_exif_jpeg_assets,
    )

    exif_assets = synthesize_exif_jpeg_assets(aud_ids)
    exif_rows = image_metadata(exif_assets, with_scrub_stats=True).select(
        F.lit("exif").alias("op"),
        "asset_id",
        F.col("orientation").alias("idx"),
        null_i.alias("width"),
        null_i.alias("height"),
        F.col("n_bytes_removed").alias("n_bytes"),
        F.concat_ws(
            ":",
            F.col("has_gps").cast("string"),
            F.round(F.col("gps_lat") * 10000, 0).cast("long"),
            F.round(F.col("gps_lon") * 10000, 0).cast("long"),
        ).alias("tag"),
    )
    warc_rows = warc_records(
        synthesize_warc_assets(aud_ids, gz=True)
    ).select(
        F.lit("warc").alias("op"),
        "asset_id",
        F.col("record_idx").alias("idx"),
        null_i.alias("width"),
        null_i.alias("height"),
        F.col("content_length").cast("int").alias("n_bytes"),
        F.concat_ws(":", "warc_type", "target_uri", "text").alias("tag"),
    )
    return _union_all(
        stats, frames, resized, decoded, decoded_png, decoded_jpeg,
        wav_rows, fft_rows, resampled, vids, mjpeg, dhash_rows, mixed,
        warc_rows, exif_rows,
    )


# ---------------------------------------------------------------------------
# streaming pipelines (batch face — identical plan via the unified API;
# incremental equivalence is pytest-checked in tests/test_streaming.py)
# ---------------------------------------------------------------------------

_WINDOWED_ORACLE = """
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end,
       event_type,
       count(*) AS n_events,
       round(sum(value), 2) AS total_value
FROM events
GROUP BY 1, 2, 3
"""


@register("stream_windowed_counts", _WINDOWED_ORACLE)
def q_stream_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation (streaming face: watermark + window)."""
    from ..streaming.pipeline import windowed_event_counts

    return windowed_event_counts(read_fixture(spark, sf_dir, "events"))


_SESSION_ORACLE = """
WITH gaps AS (
    SELECT user_id, ts, event_id,
           CASE WHEN ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
    SELECT user_id, ts,
           sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS session_id
    FROM gaps
)
SELECT min(ts) AS session_start,
       max(ts) + INTERVAL '30 minutes' AS session_end,
       user_id,
       count(*) AS n_events
FROM numbered
GROUP BY user_id, session_id
"""


@register("stream_sessionize", _SESSION_ORACLE)
def q_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (session_window; oracle = lag+cumsum)."""
    from ..streaming.pipeline import sessionized_activity

    return sessionized_activity(read_fixture(spark, sf_dir, "events"))


# stream_kv_latest is retired from the registry: its batch-face plan is
# identical to `kv_state_latest` (queries_reference.py), so it consumed a
# driver correctness row without adding signal. The streaming operator
# (streaming/pipeline.streaming_kv_latest) remains, pytest-covered in
# tests/test_streaming.py.


_STREAM_DEDUP_ORACLE = """
SELECT user_id, event_type, min(event_id) AS first_event_id
FROM events GROUP BY 1, 2
"""


@register("stream_dedup_events", _STREAM_DEDUP_ORACLE)
def q_stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked streaming dedup's batch face, made deterministic for
    the oracle: first arrival per (user_id, event_type) — plain
    dropDuplicates keeps an arbitrary row, so pick min(event_id) as the
    canonical survivor (streaming/pipeline.streaming_dedup keeps
    first-seen within the watermark horizon)."""
    ev = read_fixture(spark, sf_dir, "events")
    return ev.groupBy("user_id", "event_type").agg(
        F.min("event_id").alias("first_event_id")
    )


# ---------------------------------------------------------------------------
# composed curation pipeline: quality gate + language gate + exact dedup
# (the canonical pre-training data filter, end to end in one plan)
# ---------------------------------------------------------------------------

_CURATION_ORACLE = f"""
WITH scored AS (
    SELECT doc_id, lang, n_chars,
           md5({_CANON_SQL}) AS fp,
           {_QUALITY_SQL} AS quality
    FROM documents
), survivors AS (
    SELECT fp, min(doc_id) AS doc_id FROM scored GROUP BY fp
)
SELECT s.doc_id, s.lang, s.quality
FROM scored s JOIN survivors k ON s.doc_id = k.doc_id
WHERE s.quality >= 0.5 AND s.lang = 'en'
"""


@register("curation_pipeline", _CURATION_ORACLE)
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition: exact-dedup survivors ∩ quality ≥ 0.5 ∩ lang = 'en' —
    one Catalyst plan, filters fused below the dedup aggregation."""
    docs = read_fixture(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "lang",
        fingerprint("text").alias("fp"),
        quality_score("text").alias("quality"),
    )
    survivors = scored.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    return (
        scored.join(survivors.select("doc_id"), "doc_id", "left_semi")
        .filter((F.col("quality") >= 0.5) & (F.col("lang") == "en"))
        .select("doc_id", "lang", "quality")
    )


_STATEFUL_ORACLE = """
SELECT user_id,
       count(*) AS n_events,
       round(sum(value), 2) AS total_value,
       max(ts) AS last_ts
FROM events
GROUP BY user_id
"""


@register("stream_stateful_user_stats", _STATEFUL_ORACLE)
def q_stream_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState) — batch face;
    stream-equals-batch is pytest-checked in tests/test_stateful.py."""
    from ..streaming.stateful import running_user_stats

    return running_user_stats(read_fixture(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# as-of join: each event picks up the user's latest order state at event
# time (Spark has no native ASOF — union+window formulation; DuckDB does,
# which makes the oracle exact)
# ---------------------------------------------------------------------------

_ASOF_ORACLE = """
WITH state AS (
    SELECT o_custkey, o_orderdate,
           max(o_orderkey) AS o_orderkey,
           arg_max(o_totalprice, o_orderkey) AS o_totalprice
    FROM orders GROUP BY 1, 2
)
SELECT e.event_id, e.user_id, e.ts,
       s.o_orderkey AS asof_o_orderkey,
       s.o_totalprice AS asof_o_totalprice
FROM events e
ASOF LEFT JOIN state s
  ON e.user_id = s.o_custkey AND e.ts >= s.o_orderdate
"""


@register("asof_join_order_state", _ASOF_ORACLE)
def q_asof_join_order_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join via union + last_value window (one shuffle on
    the key; no inequality-join blowup)."""
    from ..operators.asof import asof_join

    events = read_fixture(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts"
    )
    state = (
        read_fixture(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(
            F.max("o_orderkey").alias("o_orderkey"),
            F.max_by("o_totalprice", "o_orderkey").alias("o_totalprice"),
        )
        .select(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").alias("state_ts"),
            "o_orderkey",
            "o_totalprice",
        )
    )
    return asof_join(
        events,
        state,
        on="user_id",
        left_ts="ts",
        right_ts="state_ts",
        value_cols=["o_orderkey", "o_totalprice"],
    )


# ---------------------------------------------------------------------------
# exact quantiles (percentile ↔ quantile_cont share the interpolation rule)
# ---------------------------------------------------------------------------

_MEDIAN_ORACLE = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 4) AS median_value,
       round(quantile_cont(value, 0.95), 4) AS p95_value,
       count(*) AS n
FROM events
GROUP BY 1
"""


@register("quantiles_by_type", _MEDIAN_ORACLE)
def q_quantiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantiles per group (percentile_approx covers the
    sketch path at scale; the exact form is oracle-comparable)."""
    events = read_fixture(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 4).alias("median_value"),
        F.round(F.percentile("value", F.lit(0.95)), 4).alias("p95_value"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# approximate aggregates (sketches) + embedding analytics
# ---------------------------------------------------------------------------


# The HLL-distinct and GK-quantile sketch queries (engine-specific
# estimates — no SQL oracle) are merged into `approx_sketches_by_type`,
# registered at the END of this module.


# 90/5/5 deterministic split + per-test-doc 5-gram contamination counts
# against the train split + salted-hash stratified sampling, all exactly
# reproduced in SQL (integer hash arithmetic; gram canonicalization
# identical on both sides), method-tagged under ONE registered query.
_SAMPLING_OPS_ORACLE = """
WITH spl AS (
    SELECT doc_id, text,
           CASE WHEN b < 9000 THEN 'train'
                WHEN b < 9500 THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT doc_id, text,
                 ((doc_id * 2654435761) % 4294967296) % 10000 AS b
          FROM documents)
), words AS (
    SELECT doc_id, split,
           list_filter(regexp_split_to_array(lower(text), '\\s+'),
                       w -> w <> '') AS w
    FROM spl
), grams AS (
    SELECT doc_id, split,
           list_distinct(list_transform(
               range(1, greatest(len(w) - 4, 0) + 1),
               i -> concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4])
           )) AS g
    FROM words
), train_g AS (
    SELECT DISTINCT u.gram FROM grams, unnest(g) AS u(gram)
    WHERE split = 'train'
), test_g AS (
    SELECT doc_id, u.gram FROM grams, unnest(g) AS u(gram)
    WHERE split = 'test'
), cont AS (
    SELECT t.doc_id,
           count(*) AS n_ngrams,
           CAST(sum(CASE WHEN tg.gram IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_contaminated
    FROM test_g t LEFT JOIN train_g tg ON t.gram = tg.gram
    GROUP BY t.doc_id
)
SELECT 'split' AS method, doc_id, split,
       CAST(NULL AS BIGINT) AS n_ngrams, CAST(NULL AS BIGINT) AS n_contaminated
FROM spl
UNION ALL
SELECT 'contamination', s.doc_id, 'test',
       coalesce(c.n_ngrams, 0), coalesce(c.n_contaminated, 0)
FROM spl s LEFT JOIN cont c ON s.doc_id = c.doc_id
WHERE s.split = 'test'
UNION ALL
SELECT 'strat_sample', doc_id, lang, NULL, NULL FROM (
    SELECT doc_id, lang,
           ((doc_id * 2654435761 + 1013904223) % 4294967296) % 10000 AS b
    FROM documents
)
WHERE b < CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 10000
                    WHEN 'fr' THEN 10000 WHEN 'es' THEN 2500
                    WHEN 'zh' THEN 2500 ELSE 0 END
UNION ALL
SELECT 'temp_mixture', t.doc_id, t.lang, NULL, NULL
FROM (
    SELECT doc_id, lang,
           ((doc_id * 2654435761 + 1013904223) % 4294967296) % 10000 AS b
    FROM documents
) t
JOIN (
    SELECT lang,
           least(1.0, (150 * sqrt(n) / z) / n) AS rate
    FROM (SELECT lang, CAST(count(*) AS DOUBLE) AS n
          FROM documents GROUP BY 1) c,
         (SELECT sum(sqrt(CAST(n2 AS DOUBLE))) AS z
          FROM (SELECT count(*) AS n2 FROM documents GROUP BY lang))
) r ON t.lang = r.lang
WHERE t.b < round(r.rate * 10000)
UNION ALL
SELECT m.method, m.doc_id, CAST(NULL AS VARCHAR), m.k1, m.k2
FROM (
    WITH g AS (
        SELECT doc_id, u.g AS gram
        FROM (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(
                       lower(substr(text, 1, 256)), '\\s+'),
                               x -> x <> '') AS wds
            FROM documents WHERE text IS NOT NULL
        ),
        unnest(wds || CASE WHEN len(wds) >= 2
                           THEN list_transform(range(1, len(wds)),
                                i -> wds[i] || ' ' || wds[i+1])
                           ELSE CAST([] AS VARCHAR[]) END) AS u(g)
    ),
    tc AS (SELECT gram, count(*) AS ct FROM g
           WHERE doc_id % 7 = 0 GROUP BY 1),
    rc AS (SELECT gram, count(*) AS cr FROM g
           WHERE doc_id % 7 <> 0 GROUP BY 1),
    tot AS (
        SELECT (SELECT coalesce(sum(ct), 0) FROM tc) AS tt,
               (SELECT coalesce(sum(cr), 0) FROM rc) AS tr,
               (SELECT count(*) FROM
                   (SELECT gram FROM tc UNION SELECT gram FROM rc)) AS v
    ),
    ratio AS (
        SELECT gram,
               CAST(round(ln((coalesce(ct, 0) + 1.0) / (tt + v))
                          - ln((coalesce(cr, 0) + 1.0) / (tr + v)), 8)
                    AS DECIMAL(20,8)) AS r
        FROM tc FULL JOIN rc USING (gram) CROSS JOIN tot
    ),
    fb AS (
        SELECT CAST(round(ln(1.0 / (tt + v)) - ln(1.0 / (tr + v)), 8)
                    AS DECIMAL(20,8)) AS r0
        FROM tot
    ),
    sw AS (
        SELECT g.doc_id,
               CAST(count(*) AS BIGINT) AS n_feats,
               CAST(round(sum(coalesce(ratio.r, fb.r0)), 4) * 10000
                    AS BIGINT) AS logw_q4
        FROM g LEFT JOIN ratio USING (gram) CROSS JOIN fb
        WHERE g.doc_id % 7 <> 0
        GROUP BY 1
    ),
    pick AS (
        SELECT doc_id, logw_q4
        FROM (
            SELECT doc_id, logw_q4,
                   round(CAST(logw_q4 AS DOUBLE) / 10000.0, 8)
                   + round(-ln(-ln(((((doc_id % 2147483648)
                                      * 2654435761 + 1013904223)
                                     % 4294967296) + 0.5)
                                   / 4294967296.0)), 8) AS key
            FROM sw
        )
        ORDER BY key DESC, doc_id
        LIMIT 25
    ),
    gb AS (
        -- the bucketed rung's portable feature hash: top 60 bits of
        -- md5, folded into 1024 buckets (Spark: conv(substr(md5,1,15),
        -- 16,10) % 1024 — bit-identical)
        SELECT doc_id,
               CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT)
                   % 1024 AS feat
        FROM g
    ),
    tcb AS (SELECT feat, count(*) AS ct FROM gb
            WHERE doc_id % 7 = 0 GROUP BY 1),
    rcb AS (SELECT feat, count(*) AS cr FROM gb
            WHERE doc_id % 7 <> 0 GROUP BY 1),
    totb AS (
        SELECT (SELECT coalesce(sum(ct), 0) FROM tcb) AS tt,
               (SELECT coalesce(sum(cr), 0) FROM rcb) AS tr,
               (SELECT count(*) FROM
                   (SELECT feat FROM tcb UNION SELECT feat FROM rcb)) AS v
    ),
    ratiob AS (
        SELECT feat,
               CAST(round(ln((coalesce(ct, 0) + 1.0) / (tt + v))
                          - ln((coalesce(cr, 0) + 1.0) / (tr + v)), 8)
                    AS DECIMAL(20,8)) AS r
        FROM tcb FULL JOIN rcb USING (feat) CROSS JOIN totb
    ),
    fbb AS (
        SELECT CAST(round(ln(1.0 / (tt + v)) - ln(1.0 / (tr + v)), 8)
                    AS DECIMAL(20,8)) AS r0
        FROM totb
    ),
    swb AS (
        SELECT gb.doc_id,
               CAST(count(*) AS BIGINT) AS n_feats,
               CAST(round(sum(coalesce(ratiob.r, fbb.r0)), 4) * 10000
                    AS BIGINT) AS logw_q4
        FROM gb LEFT JOIN ratiob USING (feat) CROSS JOIN fbb
        WHERE gb.doc_id % 7 <> 0
        GROUP BY 1
    )
    SELECT 'dsir_w' AS method, doc_id, n_feats AS k1, logw_q4 AS k2 FROM sw
    UNION ALL
    SELECT 'dsir_pick', doc_id, NULL, logw_q4 FROM pick
    UNION ALL
    SELECT 'dsir_wb', doc_id, n_feats, logw_q4 FROM swb
) m
UNION ALL
SELECT 'shard', doc_id, CAST(NULL AS VARCHAR),
       CAST(floor(u * 64 / 4294967296.0) AS BIGINT) AS k1, u AS k2
FROM (
    -- seed-dependent ODD multiplier (a rotation-free permutation per
    -- seed) + high-bit shard extraction — mirrors
    -- sampling.shuffle_for_training with its default seed 22695477
    SELECT doc_id,
           ((doc_id % 2147483648)
            * ((2654435761 + 2 * 22695477) % 2147483648)
            + 22695477) % 4294967296 AS u
    FROM documents
)
UNION ALL
SELECT 'decontam', d.doc_id, d.text2, d.k1, d.k2
FROM (
    WITH tw AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '\\s+'),
                           x -> x <> '') AS wds
        FROM spl WHERE split = 'train' AND text IS NOT NULL
    ),
    tl AS (
        SELECT doc_id, wds,
               list_transform(wds, w -> lower(w)) AS lw
        FROM tw
    ),
    ek AS (
        SELECT DISTINCT concat_ws(' ', lw[i], lw[i+1], lw[i+2],
                                  lw[i+3], lw[i+4]) AS g
        FROM (
            SELECT list_transform(
                       list_filter(regexp_split_to_array(text, '\\s+'),
                                   x -> x <> ''),
                       w -> lower(w)) AS lw
            FROM spl WHERE split = 'test'
        ), unnest(range(1, greatest(len(lw) - 4, 0) + 1)) u(i)
    ),
    tg AS (
        SELECT doc_id, u.i - 1 AS s,
               concat_ws(' ', lw[u.i], lw[u.i+1], lw[u.i+2],
                         lw[u.i+3], lw[u.i+4]) AS g
        FROM tl, unnest(range(1, greatest(len(lw) - 4, 0) + 1)) u(i)
    ),
    hits AS (SELECT tg.doc_id, tg.s FROM tg JOIN ek ON tg.g = ek.g),
    struck AS (
        SELECT DISTINCT doc_id, u.i AS i
        FROM hits, unnest(range(s, s + 5)) u(i)
    ),
    kept AS (
        SELECT t.doc_id, u.i - 1 AS i, t.wds[u.i] AS w
        FROM tw t, unnest(range(1, len(t.wds) + 1)) u(i)
        WHERE NOT EXISTS (SELECT 1 FROM struck s
                          WHERE s.doc_id = t.doc_id AND s.i = u.i - 1)
    ),
    reb AS (
        SELECT doc_id, string_agg(w, ' ' ORDER BY i) AS text2,
               count(*) AS n_kept
        FROM kept GROUP BY doc_id
    ),
    nh AS (SELECT doc_id, count(*) AS n_hits FROM hits GROUP BY doc_id)
    SELECT t.doc_id, coalesce(r.text2, '') AS text2,
           CAST(len(t.wds) - coalesce(r.n_kept, 0) AS BIGINT) AS k1,
           CAST(coalesce(nh.n_hits, 0) AS BIGINT) AS k2
    FROM tw t LEFT JOIN reb r USING (doc_id) LEFT JOIN nh USING (doc_id)
) d
UNION ALL
SELECT 'negsample', p.anchor_id, CAST(NULL AS VARCHAR),
       p.item_id, CAST(NULL AS BIGINT)
FROM (
    -- full replay of negative_sample(k=4, buckets=64, seed=7,
    -- portable): anchor draws 4 consecutive buckets from the md5-prefix
    -- hash, self-positives excluded, per-draw argmin on the pair hash
    WITH nsd AS (
        SELECT anchor_id, t.j,
               ((CAST(('0x' || substr(md5(CAST(anchor_id AS VARCHAR)
                                          || ':7'), 1, 15)) AS BIGINT)
                 % 64) + t.j) % 64 AS b
        FROM (SELECT DISTINCT doc_id AS anchor_id FROM documents
              WHERE doc_id % 11 = 0),
             range(0, 4) t(j)
    ),
    nsi AS (
        SELECT doc_id AS item_id,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                        || ':7'), 1, 15)) AS BIGINT)
                   % 64 AS b
        FROM documents
    ),
    nsc AS (
        SELECT d.anchor_id, d.j, i.item_id,
               CAST(('0x' || substr(md5(CAST(i.item_id AS VARCHAR) || ':'
                                        || CAST(d.anchor_id AS VARCHAR)
                                        || ':8'), 1, 15)) AS BIGINT) AS key
        FROM nsd d JOIN nsi i USING (b)
        WHERE i.item_id <> d.anchor_id
    )
    SELECT anchor_id, j,
           first(item_id ORDER BY key ASC, item_id ASC) AS item_id
    FROM nsc GROUP BY 1, 2
) p
UNION ALL
SELECT 'wsample', doc_id, CAST(NULL AS VARCHAR),
       CAST(w AS BIGINT), CAST(NULL AS BIGINT)
FROM (
    -- Efraimidis-Spirakis A-Res top-50, portable log-domain key
    -- round(ln(u)/w, 8) with u from the md5-prefix hash (seed 3)
    SELECT doc_id, w FROM (
        SELECT doc_id, w,
               round(ln(((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                                   || ':3'), 1, 15))
                               AS BIGINT) % 2147483648) + 0.5)
                         / 2147483648.0) / w, 8) AS key
        FROM (SELECT doc_id, CAST(length(text) AS DOUBLE) AS w
              FROM documents WHERE text IS NOT NULL AND length(text) > 0)
    )
    ORDER BY key DESC, doc_id ASC
    LIMIT 50
)
"""


@register("sampling_ops", _SAMPLING_OPS_ORACLE)
def q_sampling_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampling/split surface, `method`-tagged under one registered query:

    - 'split' rows: deterministic 90/5/5 corpus split by Knuth
      multiplicative hashing of doc_id (engine-independent integer
      arithmetic — exact oracle; stable under repartitioning and corpus
      appends, no PRNG state).
    - 'contamination' rows: the decontamination check that split
      stability enables — per TEST doc, distinct word-5-gram count and
      how many of those 5-grams appear in any TRAIN doc
      (operators/contamination.ngram_contamination — train grams
      distinct-ed and hashed to 64-bit longs before the join, so the
      shuffle ships 8-byte keys).
    - 'strat_sample' rows (split column carries the stratum): per-language
      stratified sample by SALTED multiplicative hashing, so sample
      membership and split assignment stay independent; append-stable (a
      document's membership never changes as the corpus grows — the
      property that matters when re-sampling 100 TB incrementally). The
      seeded Bernoulli variant (`sampling.stratified_sample`) remains for
      rate-exactness-insensitive uses, pytest-pinned.
    - 'temp_mixture' rows: temperature-rebalanced mixture (budget 150,
      alpha=0.5 — i.e. shares ∝ √n, engine-portable because sqrt is
      IEEE-correctly-rounded on both sides): the oracle recomputes the
      per-domain keep-rates from its own counts and replays the same
      salted-hash membership, so both the rate ARITHMETIC and the
      sampled id set are hash-adjudicated end-to-end.
    - 'dsir_w' / 'dsir_pick' rows: DSIR importance resampling
      (operators/dsir — Xie et al. 2023): unigram+bigram Laplace
      log-ratio weights of raw docs (doc_id % 7 != 0) against the
      deterministic target slice (doc_id % 7 = 0) over a 256-char
      prefix (the lm_ppl fixed-prefix estimator), per-feature
      decimal(20,8) quantization before the exact sum (n_ngrams slot =
      feature occurrences, n_contaminated slot = logw in 1e-4 units);
      then Gumbel top-25 selection with the family's integer-hash
      uniforms — weights AND the resampled id set hash-adjudicated
      (features are xxhash64 longs in Spark, gram strings in the
      oracle — hash equality == string equality absent collisions, the
      contamination precedent). The scored frame is eagerly
      checkpointed: both row families (weights + Gumbel pick) consume
      it under one union, and without it the fit+score gram explodes
      ran twice (ReuseExchange doesn't bridge these consumers).
    - 'dsir_wb' rows: the BUCKETED scale path itself (num_buckets=1024
      → 1024-row broadcast ratio table — the 100 TB rung), fit+scored
      with the portable md5-prefix feature hash so the oracle replays
      the bucket fold bit-exactly (CAST('0x'||substr(md5(g),1,15) AS
      BIGINT) % 1024); same plan shape as the xxhash64 default, which
      stays law-tested (bucketed == unbucketed absent bucket
      collisions) in tests/test_dsir.py.
    - 'shard' rows: the reproducible training shuffle
      (sampling.shuffle_for_training) — deterministic (shard, pos)
      from the family's salted integer hash, so every epoch reader
      sees the same pseudo-random order; both values hash-adjudicated
      (n_ngrams slot = shard of 64, n_contaminated slot = pos).
    - 'decontam' rows: the REMOVAL half of decontamination
      (contamination.strike_contaminated_spans — the GPT-3 strike
      recipe): every train-doc 5-gram window matching a test-split
      5-gram is struck and the document rebuilt from surviving words —
      the cleaned TEXT itself rides in the split column, so the rebuild
      (ordering, casing, strike unions) is hash-adjudicated, with
      n_ngrams slot = words struck, n_contaminated slot = hit windows.
    - 'negsample' rows: contrastive negative sampling
      (sampling.negative_sample, portable md5-prefix hash face): the
      ENTIRE draw — consecutive-bucket addressing, self-positive
      anti-join, per-draw pair-hash argmin — replays in the oracle;
      doc_id=anchor, n_ngrams=the sampled negative id.
    - 'wsample' rows: Efraimidis-Spirakis weighted sampling without
      replacement (weight=text length, portable log-domain keys
      round(ln(u)/w, 8) — the Gumbel-key rounding recipe, since pow is
      libm-dependent but single-ln terms replay): the selected top-50
      id set is hash-adjudicated.
    """
    from ..operators.contamination import (
        ngram_contamination,
        strike_contaminated_spans,
    )
    from ..operators.dsir import dsir_log_weights, dsir_select, fit_dsir
    from ..operators.sampling import (
        deterministic_split,
        hash_stratified_sample,
        temperature_mixture,
    )

    docs = read_fixture(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    split_df = deterministic_split(docs.select("doc_id", "text"), "doc_id")
    null_l = F.lit(None).cast("long")
    split_rows = split_df.select(
        F.lit("split").alias("method"),
        "doc_id",
        "split",
        null_l.alias("n_ngrams"),
        null_l.alias("n_contaminated"),
    )
    cont_rows = ngram_contamination(
        split_df.filter(F.col("split") == "train"),
        split_df.filter(F.col("split") == "test"),
        n=5,
    ).select(
        F.lit("contamination").alias("method"),
        "doc_id",
        F.lit("test").alias("split"),
        "n_ngrams",
        "n_contaminated",
    )
    fractions = {"en": 0.5, "de": 1.0, "fr": 1.0, "es": 0.25, "zh": 0.25}
    strat_rows = hash_stratified_sample(
        docs.select("doc_id", "lang"), "doc_id", "lang", fractions
    ).select(
        F.lit("strat_sample").alias("method"),
        "doc_id",
        F.col("lang").alias("split"),
        null_l.alias("n_ngrams"),
        null_l.alias("n_contaminated"),
    )
    tm, _rates = temperature_mixture(
        docs.select("doc_id", "lang"), "doc_id", "lang", budget=150, alpha=0.5
    )
    tm_rows = tm.select(
        F.lit("temp_mixture").alias("method"),
        "doc_id",
        F.col("lang").alias("split"),
        null_l.alias("n_ngrams"),
        null_l.alias("n_contaminated"),
    )
    # 256-char prefix on both fit and score paths — the importance
    # weight is a per-token statistic, a fixed prefix is the standard
    # estimator (the lm_ppl precedent, which uses 512); keeps the gram
    # explode bench-bounded while adjudicating the full arithmetic
    pref = docs.select(
        "doc_id", F.substring("text", 1, 256).alias("text")
    )
    raw = pref.filter("doc_id % 7 <> 0")
    target = pref.filter("doc_id % 7 = 0")
    # eagerly checkpoint the scored frame: dsir_w_rows AND dsir_select
    # both consume it under the final union, and the fit+score gram
    # explodes over raw+target would otherwise execute twice per action
    # (ReuseExchange doesn't bridge these two consumers — measured; a
    # lazy .persist() is WORSE than nothing here because both branches
    # race to build the cache). localCheckpoint materializes the
    # doc-count-sized rows once, A/B-measured fastest of the three.
    dsir_w = dsir_log_weights(raw, fit_dsir(raw, target)).localCheckpoint(
        eager=True
    )
    null_s = F.lit(None).cast("string")
    dsir_w_rows = dsir_w.select(
        F.lit("dsir_w").alias("method"),
        "doc_id",
        null_s.alias("split"),
        F.col("n_feats").alias("n_ngrams"),
        F.col("logw_q4").alias("n_contaminated"),
    )
    dsir_pick_rows = dsir_select(dsir_w, 25).select(
        F.lit("dsir_pick").alias("method"),
        "doc_id",
        null_s.alias("split"),
        null_l.alias("n_ngrams"),
        F.col("logw_q4").alias("n_contaminated"),
    )
    # the bucketed scale rung, adjudicated: portable md5-prefix hash
    # folds features into 1024 buckets (DuckDB replays the fold
    # bit-exactly), ratio table broadcasts — same plan the xxhash64
    # default runs at 100 TB
    dsir_wb = dsir_log_weights(
        raw, fit_dsir(raw, target, num_buckets=1024, portable_hash=True)
    )
    dsir_wb_rows = dsir_wb.select(
        F.lit("dsir_wb").alias("method"),
        "doc_id",
        null_s.alias("split"),
        F.col("n_feats").alias("n_ngrams"),
        F.col("logw_q4").alias("n_contaminated"),
    )
    from ..operators.sampling import shuffle_for_training

    shard_rows = shuffle_for_training(
        docs.select("doc_id"), shards=64
    ).select(
        F.lit("shard").alias("method"),
        "doc_id",
        null_s.alias("split"),
        F.col("shard").cast("long").alias("n_ngrams"),
        F.col("pos").cast("long").alias("n_contaminated"),
    )
    dec_rows = strike_contaminated_spans(
        split_df.filter("split = 'train'"),
        split_df.filter("split = 'test'"),
        n=5,
    ).select(
        F.lit("decontam").alias("method"),
        "doc_id",
        F.col("text").alias("split"),
        F.col("n_words_struck").cast("long").alias("n_ngrams"),
        F.col("n_hits").alias("n_contaminated"),
    )
    # 'negsample' rows: the contrastive-negatives draw end to end
    # (sampling.negative_sample, portable md5-prefix hash face) —
    # bucket addressing, the positives anti-join (self-pairs), and the
    # per-draw argmin ALL replay in the oracle. doc_id=anchor,
    # n_ngrams=the sampled negative. buckets pinned (64) so the draw
    # is corpus-size-independent for the gate.
    from ..operators.sampling import negative_sample, weighted_sample

    ns_anchors = docs.filter("doc_id % 11 = 0").select(
        F.col("doc_id").alias("anchor_id")
    )
    ns_rows = negative_sample(
        ns_anchors,
        docs.select(F.col("doc_id").alias("item_id")),
        k=4,
        positives=ns_anchors.select(
            "anchor_id", F.col("anchor_id").alias("item_id")
        ),
        buckets=64,
        seed=7,
        portable_hash=True,
    ).select(
        F.lit("negsample").alias("method"),
        F.col("anchor_id").alias("doc_id"),
        null_s.alias("split"),
        F.col("item_id").cast("long").alias("n_ngrams"),
        null_l.alias("n_contaminated"),
    )
    # 'wsample' rows: Efraimidis-Spirakis weighted sampling without
    # replacement (weight = text length), portable log-domain keys —
    # the selected id set is hash-adjudicated. n_ngrams carries the
    # weight (recomputed by the oracle).
    ws_rows = weighted_sample(
        docs.where(F.col("text").isNotNull() & (F.length("text") > 0))
        .select("doc_id", F.length("text").cast("double").alias("w")),
        "doc_id",
        "w",
        k=50,
        seed=3,
        portable_hash=True,
    ).select(
        F.lit("wsample").alias("method"),
        "doc_id",
        null_s.alias("split"),
        F.col("w").cast("long").alias("n_ngrams"),
        null_l.alias("n_contaminated"),
    )
    return (
        _union_all(
            split_rows, cont_rows, strat_rows, tm_rows, dsir_w_rows,
            dsir_pick_rows, dsir_wb_rows, shard_rows, dec_rows, ns_rows,
            ws_rows,
        )
    )


# Heavy hitters, exact: KPS sketch proposes candidates (single pass, no
# false negatives), an exact count verify pass keeps true >0.5% users
# (0.5%: the fixture's user distribution flattens as SF grows, and the
# driver adjudicates at sf0.01 where 0.5% keeps the result non-empty).
# The two-pass shape is the standard web-scale heavy-hitter pipeline; the
# verified output is exact ⇒ DuckDB-oracled (integer compare, no floats).
_FREQ_ITEMS_ORACLE = """
SELECT user_id, count(*) AS n_events
FROM events GROUP BY user_id
HAVING count(*) * 200 > (SELECT count(*) FROM events)
"""


@register("freq_items_users", _FREQ_ITEMS_ORACLE)
def q_freq_items_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Karp-Papadimitriou-Shenker frequent-items sketch over user_id +
    exact verify: the sketch guarantees no false negatives (every user
    with >0.5% of events is a candidate; asserted in tests/test_approx.py),
    the verify join prunes its false positives with exact counts. At
    100 TB the sketch pass touches every row once with mergeable O(1/s)
    state; the verify pass aggregates only candidate keys."""
    events = read_fixture(spark, sf_dir, "events")
    cand = (
        events.select("user_id")
        .stat.freqItems(["user_id"], support=0.005)
        .select(F.explode("user_id_freqItems").alias("user_id"))
    )
    total = events.select(F.count(F.lit(1)).alias("__total"))
    return (
        events.join(F.broadcast(cand), "user_id", "left_semi")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .join(F.broadcast(total))
        .filter(F.col("n_events") * 200 > F.col("__total"))
        .select("user_id", "n_events")
    )


_CENTROID_ORACLE = """
WITH un AS (
    SELECT label, t.i - 1 AS idx,
           CAST(embedding[t.i] AS DECIMAL(12,6)) AS v
    FROM embeddings, range(1, 65) AS t(i)
)
SELECT label, CAST(idx AS INT) AS idx,
       round(CAST(sum(v) AS DOUBLE) / count(*), 4) + 0 AS m
FROM un GROUP BY 1, 2
"""


@register("embedding_label_centroids", _CENTROID_ORACLE)
def q_embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid: posexplode → per-dimension mean — the
    distributed form of a k-means update step, emitted one row per
    (label, dimension) so every value is a scalar the driver can hash.
    (When an array container is needed downstream, re-assemble with
    array_sort(collect_list(struct(idx, m))) + transform — the IVF
    centroid build in operators/similarity.py covers the consuming path.)

    Mean is computed as exact-decimal sum ÷ count (one double division at
    the end): plain double `avg` is summation-order-sensitive, and with
    few rows per label the last-bit noise can flip `round(.., 4)` across
    engines. Quantizing each element to decimal(12,6) first makes the sum
    a single exact rational on both sides. The `+ 0` normalizes IEEE
    signed zero (DuckDB rounds -0.00001 to -0.0, Spark to +0.0 — equal
    numerically but not byte-wise for a hash comparator).
    """
    emb = read_fixture(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("idx", "v"))
        .groupBy("label", "idx")
        .agg(
            (
                F.round(
                    F.sum(F.col("v").cast("decimal(12,6)")).cast("double")
                    / F.count(F.lit(1)),
                    4,
                )
                + F.lit(0.0)
            ).alias("m")
        )
        .select("label", "idx", "m")
    )


# ---------------------------------------------------------------------------
# range (interval) join — bucketized, no equi key
# ---------------------------------------------------------------------------
# intervals: one 2-day maintenance window per 300th order; points: events.

_RANGE_JOIN_ORACLE = """
WITH win AS (
    SELECT event_id AS window_id, ts AS win_start,
           ts + INTERVAL '6 hours' AS win_end
    FROM events WHERE event_id % 500 = 0
)
SELECT e.event_id, w.window_id
FROM events e JOIN win w
  ON e.ts >= w.win_start AND e.ts < w.win_end
"""


@register("range_join_windows", _RANGE_JOIN_ORACLE)
def q_range_join_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval join via time-bucketized equi-join + residual
    filter (the non-quadratic interval-join strategy)."""
    from ..operators.rangejoin import range_join_bucketed

    events = read_fixture(spark, sf_dir, "events").select("event_id", "ts")
    win = (
        read_fixture(spark, sf_dir, "events")
        .filter(F.col("event_id") % 500 == 0)
        .select(
            F.col("event_id").alias("window_id"),
            F.col("ts").alias("win_start"),
            (F.col("ts") + F.expr("INTERVAL 6 HOURS")).alias("win_end"),
        )
    )
    out = range_join_bucketed(
        events, win, "ts", "win_start", "win_end", bucket_seconds=6 * 3600
    )
    return out.select("event_id", "window_id")


# ---------------------------------------------------------------------------
# sketch / ANN / LSH adjudication — registered LAST. Approximate operators
# can't be enumerated by a SQL oracle directly, so each query emits
# VERIFIED PROPERTIES computed in-plan (exact values + bound-check
# booleans the oracle asserts literally): a violated bound flips a value
# the driver hashes, so the correctness gate catches sketch regressions.
# ---------------------------------------------------------------------------

# Exact word-3-gram Jaccard ≥ 0.35 pair set (same derivation as
# _NGRAM_JACCARD_ORACLE), its connected components (recursive-CTE
# reachability — the dedup CLUSTER assignment), + the two literal
# property rows.
_LSH_ORACLE = f"""
WITH RECURSIVE g AS (
    SELECT doc_id AS id,
           list_distinct(list_transform(
               range(1, greatest(len(words) - 2, 0) + 1),
               i -> concat_ws(' ', words[i], words[i+1], words[i+2])
           )) AS grams
    FROM (SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(text), '\\s+'),
                             w -> w <> '') AS words
          FROM documents)
), inv AS (
    SELECT id, u.gram FROM g, unnest(g.grams) AS u(gram)
), shared AS (
    SELECT a.id AS id_a, b.id AS id_b, count(*) AS shared
    FROM inv a JOIN inv b ON a.gram = b.gram AND a.id < b.id
    GROUP BY 1, 2
), sizes AS (
    SELECT id, len(grams) AS sz FROM g
), exact AS (
    SELECT id_a, id_b
    FROM shared
    JOIN sizes sa ON sa.id = id_a
    JOIN sizes sb ON sb.id = id_b
    WHERE CAST(shared AS DOUBLE) / (sa.sz + sb.sz - shared) >= 0.35
), sym AS (
    SELECT id_a AS src, id_b AS dst FROM exact
    UNION
    SELECT id_b, id_a FROM exact
), reach(src, dst) AS (
    SELECT src, src FROM sym
    UNION
    SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
), comp AS (
    SELECT src, min(dst) AS comp FROM reach GROUP BY src
), quality AS (
    SELECT doc_id,
           {_QUALITY_SQL} AS q
    FROM documents
), canon AS (
    SELECT c.comp, first(c.src ORDER BY quality.q DESC, c.src ASC) AS keep_id
    FROM comp c JOIN quality ON quality.doc_id = c.src
    GROUP BY c.comp
)
SELECT 'minhash_lsh' AS method, id_a, id_b, CAST(NULL AS DOUBLE) AS val
FROM exact
UNION ALL
SELECT 'cluster', src, comp, CAST(NULL AS DOUBLE)
FROM comp
UNION ALL
SELECT 'canonical', c.src, k.keep_id, CAST(NULL AS DOUBLE)
FROM comp c JOIN canon k ON c.comp = k.comp
UNION ALL
SELECT 'minhash_recall', CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), 1.0
UNION ALL
SELECT 'simhash_precision_ok', CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), 1.0
"""


@register("dedup_lsh_pairs", _LSH_ORACLE)
def q_dedup_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64)+16-band LSH near-dup pipeline, driver-adjudicated
    against the exact word-3-gram Jaccard oracle:

    - `minhash_lsh` pair rows — the exact-verified LSH output. Verify
      makes false positives impossible; the banding parameters make
      recall 1.0 on this corpus (every qualifying pair sits at J ≥ 0.8,
      where 16-band/4-row capture probability is ≈ 1 — measured 1.0 at
      sf0.001/0.01/0.1), so the emitted set must EQUAL the oracle's
      exact pair set: a missed or spurious pair hash-mismatches.
    - `minhash_recall` row — |found ∩ exact| / |exact| computed in-plan;
      oracle asserts the literal 1.0.
    - `cluster` rows — connected components over the LSH pair graph
      (operators/dedup.connected_components: min-label propagation +
      pointer jumping, converged exactly), i.e. the CLUSTER ASSIGNMENT
      that turns pairs into a deduplicated corpus (survivor = min id per
      component). The oracle recomputes components with a recursive-CTE
      reachability over the exact pair set — a wrong merge, a missed
      transitive link, or early termination all hash-mismatch.
    - `canonical` rows — quality-aware survivor selection
      (operators/dedup.canonical_per_cluster): per component keep the
      member with the highest `quality_score` (tie → min id), i.e.
      dedup that never discards the cleanest copy. The oracle
      recomputes the argmax with an ordered-first over the identical
      rounded quality expression — a different survivor hash-mismatches.
    - `simhash_precision_ok` row — 1.0 iff ≥ 90% of SimHash64
      hamming ≤ 3 pairs (4-band pigeonhole + popcount verify) are in the
      exact J ≥ 0.35 set (measured precision: 1.0 at all SFs; SimHash
      pair identities themselves are signature-specific, so they stay
      pytest-pinned in tests/test_dedup.py).
    """
    from ..operators.dedup import canonical_per_cluster, connected_components

    docs = read_fixture(spark, sf_dir, "documents")
    exact = ngram_jaccard_pairs(
        docs, n=3, threshold=0.35, char_level=False, prefix_filter=False
    )
    mh = minhash_lsh_pairs(
        docs, num_hashes=64, bands=16, n=3, threshold=0.35, char_level=False
    )
    sh = simhash_pairs(docs, max_hamming=3)

    null_d = F.lit(None).cast("double")
    pair_rows = mh.select(
        F.lit("minhash_lsh").alias("method"),
        "id_a",
        "id_b",
        null_d.alias("val"),
    )
    comps = connected_components(mh)
    cluster_rows = comps.select(
        F.lit("cluster").alias("method"),
        F.col("node").alias("id_a"),
        F.col("comp").alias("id_b"),
        null_d.alias("val"),
    )
    canonical_rows = canonical_per_cluster(
        comps,
        docs.select("doc_id", quality_score("text").alias("q")),
        id_col="doc_id",
        score_col="q",
    ).select(
        F.lit("canonical").alias("method"),
        F.col("node").alias("id_a"),
        F.col("keep_id").alias("id_b"),
        null_d.alias("val"),
    )
    recall_row = (
        exact.join(mh.withColumn("__f", F.lit(True)), ["id_a", "id_b"], "left")
        .agg(
            F.coalesce(
                F.round(F.sum(F.when(F.col("__f"), 1).otherwise(0)) / F.count(F.lit(1)), 3),
                F.lit(1.0),
            ).alias("val")
        )
        .select(
            F.lit("minhash_recall").alias("method"),
            F.lit(-1).cast("long").alias("id_a"),
            F.lit(-1).cast("long").alias("id_b"),
            "val",
        )
    )
    precision_row = (
        sh.join(exact.withColumn("__x", F.lit(True)), ["id_a", "id_b"], "left")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("__x"), 1).otherwise(0)) / F.count(F.lit(1)),
                F.lit(1.0),
            ).alias("prec")
        )
        .select(
            F.lit("simhash_precision_ok").alias("method"),
            F.lit(-1).cast("long").alias("id_a"),
            F.lit(-1).cast("long").alias("id_b"),
            F.when(F.col("prec") >= 0.9, 1.0).otherwise(0.0).alias("val"),
        )
    )
    return _union_all(
        pair_rows, cluster_rows, canonical_rows, recall_row, precision_row
    )


# Every query gets exactly k=10 brute-force neighbors (corpus ≥ 500 ≫ k),
# so the oracle enumerates (method × query) with the literal floor bools,
# plus one aggregate `avg` row per method (query_id = -1).
_KNN_ANN_ORACLE = """
SELECT m.method, e.vec_id AS query_id, 10 AS n_results, TRUE AS recall_ok
FROM embeddings e, (VALUES ('ivf'), ('srp_lsh'), ('pq')) m(method)
WHERE e.vec_id % 25 = 0
UNION ALL
SELECT m.method, CAST(-1 AS BIGINT), -1, TRUE
FROM (VALUES ('ivf'), ('srp_lsh'), ('pq')) m(method)
"""


@register("knn_ann", _KNN_ANN_ORACLE)
def q_knn_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 neighbors, driver-adjudicated as recall@10 vs
    brute force computed in-plan: IVF (nlist=16, nprobe=8 — the
    partition-pruning path), signed-random-projection LSH (16 bits,
    8 bands — data-independent, append-stable), and product quantization
    (m=8 × 256 codewords — 32x memory compression — with the standard
    ADC-shortlist k×4 + exact-refine stack). Two property layers, all
    floors set from measurement across sf0.001/0.01/0.1:

    - per-query rows: recall_ok = recall@10 ≥ floor. Measured per-query
      MINIMUM at nprobe=8 with Lloyd-refined centroids (3 seeded
      spherical-k-means rounds over a deterministic hash-ordered sample,
      `similarity._ivf_centroids`): 0.60 / 0.60 / 0.50 across
      sf0.001/0.01/0.1 (was 0.40/0.50/0.40 with raw-vector init) → IVF
      floor 0.45 — one discrete recall@10 step (0.1) below the observed
      min, so a single lost neighbor on the worst query flips the row.
      SRP measured min 0.80 everywhere → floor 0.7. PQ runs the OPQ
      recipe (seeded orthogonal rotation from alternating
      k-means/Procrustes, `similarity.train_opq_codebooks`) with a
      k×8 refine shortlist: measured min 1.0 / 1.0 / 0.60 → floor 0.5.
      Attribution, measured at sf0.1: plain-PQ refine4 min 0.50 avg
      0.795 → refine8 lifts the WORST query (min 0.60 avg 0.909) →
      the OPQ rotation lifts the MEAN on top (min 0.60 avg 0.939);
      full-strength OPQ (sample 8192, 16 alternations) reaches min
      0.70 avg 0.937 but costs ~22 s of driver training — available
      via train_opq_codebooks params for build-once serving indexes,
      not spent here where training reruns per query run.
    - one `avg` row per method (query_id=-1, n_results=-1): mean recall
      over all queries ≥ 0.7 for IVF (measured 0.785 / 0.850 / 0.806
      post-refinement), ≥ 0.9 for SRP (measured 0.965-0.97), ≥ 0.85 for
      OPQ+refine8 (measured 1.0 / 1.0 / 0.939) — the aggregate floor is
      the real regression catch: a parameter regression that halves
      typical recall flips this row even when every query clears the
      per-query bar.

    The oracle asserts every row TRUE, so one degraded query (or a
    degraded mean) flips a hashed value. `n_results` pins per-query
    output cardinality (exactly k). Output contract at edges: recall is
    coalesced to 0.0, so a (method, query) whose ANN returns zero rows
    emits n_results=0 / recall_ok=false (never a NULL or a dropped
    row); the brute side always has k rows per query (corpus ≫ k), so
    approx-only groups cannot occur."""
    from ..operators.similarity import srp_lsh_topk

    emb = read_fixture(spark, sf_dir, "embeddings", split=False)
    queries = _query_vectors(spark, sf_dir)
    brute = brute_force_topk(emb, queries, k=10)

    # Spark plans are trees: a per-method helper that joins against
    # `brute` twice (recall join + n_results agg, x2 methods) re-runs the
    # brute-force corpus pass and each ANN pass per reference. Instead the
    # method dimension is EXPLODED onto the brute side (narrow 2x row
    # tag), both ANN outputs union with their method tag, and ONE
    # full-outer join + ONE aggregation produce recall and cardinality
    # together - every subtree evaluated exactly once.
    from ..operators.similarity import (
        pq_encode,
        pq_topk,
        train_opq_codebooks,
    )

    brute2 = brute.select(
        "query_id",
        "neighbor_id",
        F.explode(
            F.array(F.lit("ivf"), F.lit("srp_lsh"), F.lit("pq"))
        ).alias("method"),
    ).withColumn("__b", F.lit(True))
    ivf = ivf_topk(emb, queries, k=10, nlist=16, nprobe=8)
    srp = srp_lsh_topk(emb, queries, k=10, n_bits=16, bands=8, d=64)
    # opq_iters=3/iters=6: measured identical FLOORS to the 8x10
    # full-strength config at sf0.1 (min 0.60; avg 0.921 vs 0.939) at
    # ~quarter the training cost — this query retrains per run; the
    # full-strength default stays for callers that train once and reuse
    rot, books = train_opq_codebooks(
        emb, m=8, ksub=256, opq_iters=3, iters=6
    )
    pq = pq_topk(
        pq_encode(emb, books, rotation=rot), books, queries, k=10,
        refine_corpus=emb, refine_factor=8, rotation=rot,
    )
    approx2 = (
        ivf.select("query_id", "neighbor_id")
        .withColumn("method", F.lit("ivf"))
        .unionByName(
            srp.select("query_id", "neighbor_id").withColumn(
                "method", F.lit("srp_lsh")
            )
        )
        .unionByName(
            pq.select("query_id", "neighbor_id").withColumn(
                "method", F.lit("pq")
            )
        )
        .withColumn("__f", F.lit(True))
    )
    floor = (
        F.when(F.col("method") == "ivf", F.lit(0.45))
        .when(F.col("method") == "pq", F.lit(0.5))
        .otherwise(F.lit(0.7))
    )
    avg_floor = (
        F.when(F.col("method") == "ivf", F.lit(0.7))
        .when(F.col("method") == "pq", F.lit(0.85))
        .otherwise(F.lit(0.9))
    )
    per_query = (
        brute2.join(approx2, ["method", "query_id", "neighbor_id"], "full")
        .groupBy("method", "query_id")
        .agg(
            F.sum(F.when(F.col("__f"), 1).otherwise(0))
            .cast("int")
            .alias("n_results"),
            F.coalesce(
                F.sum(F.when(F.col("__b") & F.col("__f"), 1).otherwise(0))
                / F.sum(F.when(F.col("__b"), 1).otherwise(0)),
                F.lit(0.0),
            ).alias("__recall"),
        )
    )
    # tiny (3 methods x |queries| rows); both output layers reuse it as
    # a LOCAL relation so the shared brute/ANN subtrees execute exactly
    # once (r12: localCheckpoint's RDD path re-executed them, 13.1 s vs
    # 8.8 s; a session-lifetime persist taxed every LATER query's
    # analysis via CacheManager plan matching). r13: the single collect
    # needs no persist at all — one action executes the plan once on the
    # normal path (AQE + exchange reuse) — and the rows ride Arrow BOTH
    # ways: toPandas() out, pandas → Arrow local relation back in.
    # The r12 form rebuilt via createDataFrame(rows, schema), the
    # pickled-row path this round's etl_job `_local_df` work replaced
    # everywhere else (driver re-pickles every row per action).
    schema = per_query.schema
    pdf = per_query.toPandas()
    per_query = spark.createDataFrame(pdf, schema=schema)
    query_rows = per_query.select(
        "method",
        "query_id",
        "n_results",
        (F.col("__recall") >= floor).alias("recall_ok"),
    )
    avg_rows = (
        per_query.groupBy("method")
        .agg(F.avg("__recall").alias("__avg"))
        .select(
            "method",
            F.lit(-1).cast("long").alias("query_id"),
            F.lit(-1).cast("int").alias("n_results"),
            (F.col("__avg") >= avg_floor).alias("recall_ok"),
        )
    )
    return query_rows.unionByName(avg_rows)


# Exact values computed in SQL; bound booleans asserted literally. The
# discrete quantile is the element at rank ceil(p·n) (1-indexed, value
# ascending) — identical explicit definition on both sides, so the double
# compares byte-equal with no interpolation-order risk.
_SKETCH_ORACLE = """
WITH s AS (
    SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS xu
    FROM events GROUP BY 1
), r AS (
    SELECT event_type, value,
           row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn
    FROM events
), t AS (
    SELECT s.event_type, v.stat, CAST(ceil(v.p * s.n) AS BIGINT) AS tr
    FROM s, (VALUES (0.5, 'q50'), (0.95, 'q95'), (0.99, 'q99')) v(p, stat)
)
SELECT event_type, 'users' AS stat, CAST(xu AS DOUBLE) AS exact_val,
       TRUE AS ok
FROM s
UNION ALL
SELECT event_type, 'n_events', CAST(n AS DOUBLE), TRUE FROM s
UNION ALL
SELECT t.event_type, t.stat, r.value, TRUE
FROM t JOIN r ON r.event_type = t.event_type AND r.rn = t.tr
"""


@register("approx_sketches_by_type", _SKETCH_ORACLE)
def q_approx_sketches_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch aggregates per event type, driver-adjudicated as
    property rows (exact value + in-plan bound check):

    - `users`: exact distinct count; `ok` = HLL++ (rsd 2%) estimate
      within 8% relative error (4σ of the configured rsd).
    - `q50/q95/q99`: exact discrete quantile (element at rank ceil(p·n));
      `ok` = the GK (accuracy 10⁴ → ε 10⁻⁴) estimate's true rank window
      [count(<v)/n, count(≤v)/n] overlaps p ± 0.005.
    - `n_events`: exact row count (always-true anchor row).

    Single-pass mergeable sketch state is the 100 TB path — the exact
    forms here (distinct, per-group sort) exist only to verify it.
    """
    events = read_fixture(spark, sf_dir, "events")
    base = events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("au"),
        F.countDistinct("user_id").alias("xu"),
        F.percentile_approx(
            "value", F.array(F.lit(0.5), F.lit(0.95), F.lit(0.99)), F.lit(10000)
        ).alias("qa"),
        F.count(F.lit(1)).alias("n"),
    )
    users = base.select(
        "event_type",
        F.lit("users").alias("stat"),
        F.col("xu").cast("double").alias("exact_val"),
        (F.abs(F.col("au") - F.col("xu")) / F.col("xu") <= 0.08).alias("ok"),
    )
    n_events = base.select(
        "event_type",
        F.lit("n_events").alias("stat"),
        F.col("n").cast("double").alias("exact_val"),
        F.lit(True).alias("ok"),
    )
    # approx quantile values + their target p, one row per (type, p)
    qa = base.select(
        "event_type",
        "n",
        F.posexplode("qa").alias("pos", "av"),
    ).withColumn(
        "p", F.element_at(F.array(F.lit(0.5), F.lit(0.95), F.lit(0.99)), F.col("pos") + 1)
    ).withColumn(
        "stat",
        F.element_at(F.array(F.lit("q50"), F.lit("q95"), F.lit("q99")), F.col("pos") + 1),
    )
    # rank window of each approx value within its group (one broadcast of
    # 3·|types| rows against the events scan — no extra sort)
    rank_check = (
        events.join(F.broadcast(qa), "event_type")
        .groupBy("event_type", "stat", "p", "n")
        .agg(
            F.sum(F.when(F.col("value") <= F.col("av"), 1).otherwise(0)).alias("le"),
            F.sum(F.when(F.col("value") < F.col("av"), 1).otherwise(0)).alias("lt"),
        )
        .select(
            "event_type",
            "stat",
            (
                (F.col("le") / F.col("n") >= F.col("p") - 0.005)
                & (F.col("lt") / F.col("n") <= F.col("p") + 0.005)
            ).alias("ok"),
        )
    )
    # exact discrete quantile: element at rank ceil(p·n), value ascending
    w = Window.partitionBy("event_type").orderBy("value")
    targets = qa.select(
        "event_type", "stat", F.ceil(F.col("p") * F.col("n")).alias("tr")
    )
    exact_q = (
        events.withColumn("rn", F.row_number().over(w))
        .join(F.broadcast(targets), "event_type")
        .filter(F.col("rn") == F.col("tr"))
        .select("event_type", "stat", F.col("value").alias("exact_val"))
    )
    quant = exact_q.join(rank_check, ["event_type", "stat"]).select(
        "event_type", "stat", "exact_val", "ok"
    )
    return users.unionByName(n_events).unionByName(quant)


# ---------------------------------------------------------------------------
# BM25 ranking — the search face beyond the reference's tsvector matching
# (`iis_etl/logic.py:394-404` only builds the vector; overlap IS the rank
# there). Adjudicated with the oracle mirroring the exact arithmetic.
# ---------------------------------------------------------------------------

# literal forms mirror the Spark operator's Python-evaluated constants:
# e0-suffixed literals parse as DOUBLE in DuckDB (bare 1.2 would be
# DECIMAL(2,1) and silently change the arithmetic's type lattice), and
# compound constants like (1.2e0 + 1.0e0) fold in IEEE double on both
# engines to the same bits as Python's `k1 + 1.0`.
_BM25_ORACLE = f"""
WITH base AS (
    SELECT doc_id AS id,
           list_filter(
               regexp_split_to_array(lower(trim(text)), '[^\\p{{L}}\\p{{N}}]+'),
               x -> x <> '') AS ws
    FROM documents
), based AS (
    SELECT id, len(ws) AS dl, ws FROM base
), stats AS (
    SELECT count(*) AS n_docs,
           CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
    FROM based
), matched AS (
    SELECT id, dl, unnest(ws) AS tok FROM based
), m AS (
    SELECT * FROM matched WHERE tok IN ('spark', 'merge', 'window')
), tf AS (
    SELECT id, tok, count(*) AS tf, min(dl) AS dl FROM m GROUP BY 1, 2
), dft AS (
    SELECT tok, count(DISTINCT id) AS df FROM m GROUP BY 1
)
, bm AS (
SELECT tf.id AS doc_id,
       round(CAST(sum(CAST(
           ln(1.0e0 + (CAST(n_docs - df AS DOUBLE) + 0.5e0)
                      / (CAST(df AS DOUBLE) + 0.5e0))
           * (CAST(tf AS DOUBLE) * (1.2e0 + 1.0e0))
           / (CAST(tf AS DOUBLE)
              + 1.2e0 * ((1.0e0 - 0.75e0)
                         + (0.75e0 * CAST(dl AS DOUBLE)) / avgdl))
       AS DECIMAL(20,8))) AS DOUBLE), 4) + 0 AS score
FROM tf JOIN dft USING (tok) CROSS JOIN stats
GROUP BY tf.id
), qual AS (
    SELECT d.doc_id,
           {_QUALITY_SQL} AS q
    FROM documents d JOIN bm ON d.doc_id = bm.doc_id
), rb AS (
    SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r
    FROM bm
), rq AS (
    SELECT doc_id, row_number() OVER (ORDER BY q DESC, doc_id) AS r
    FROM qual
)
SELECT bm.doc_id, bm.score,
       CAST(round((1.0 / (60.0 + rb.r) + 1.0 / (60.0 + rq.r)) * 1e8, 0)
            AS BIGINT) AS rrf_q8
FROM bm JOIN rb ON bm.doc_id = rb.doc_id JOIN rq ON bm.doc_id = rq.doc_id
"""


@register("bm25_rank", _BM25_ORACLE)
def q_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 ranking of the documents corpus for a 3-term query —
    one declarative plan (match-filtered explode, in-plan corpus stats,
    broadcast df/avgdl), no driver collect. `stable=True` makes the
    score reproducible across engines and partitionings (exact-sum
    avgdl, decimal-quantized contribution sum) so every scored row is
    value-hash-adjudicable; round(4) + 0 is the established float/
    signed-zero canonicalization.

    rrf_q8: hybrid re-ranking of the SAME candidate set via
    reciprocal-rank fusion (operators/search.rrf_fuse_signals —
    Cormack et al. 2009, the rerank-stage column mode): BM25-relevance
    rank fused with a quality-prior rank, both by (rounded score DESC,
    doc_id) so ranks replay exactly; the fused 1/(60+r) sum is a
    fixed-order IEEE-double expression, exported as round(rrf·10⁸)
    BIGINT — the whole hybrid-retrieval combiner is hash-adjudicated.
    Column mode keeps the plan chained windows over ONE candidate
    subtree (the list-mode operator joins per list and re-evaluates
    the candidates — measured 2.5x slower here; it exists for fusing
    rankings that are genuinely separate frames, pytest-pinned)."""
    from ..operators.search import rrf_fuse_signals

    docs = read_fixture(spark, sf_dir, "documents")
    scored = bm25_scores(
        docs, ["spark", "merge", "window"], stable=True
    ).select(
        "doc_id", (F.round(F.col("score"), 4) + F.lit(0.0)).alias("score")
    )
    cand = scored.join(
        docs.select("doc_id", quality_score("text").alias("q")), "doc_id"
    )
    fused = rrf_fuse_signals(cand, ["score", "q"], id_col="doc_id")
    return fused.select(
        "doc_id",
        "score",
        F.round(F.col("rrf") * 1e8, 0).cast("long").alias("rrf_q8"),
    )


# ---------------------------------------------------------------------------
# table profiling — the pre-training sanity sweep, one scan, one aggregation
# ---------------------------------------------------------------------------

_PROFILE_ORACLE = """
WITH a AS (
    SELECT count(*) AS n,
        CAST(sum(CASE WHEN doc_id  IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nul0,
        CAST(count(DISTINCT doc_id)  AS BIGINT) AS dis0,
        CAST(min(doc_id)  AS VARCHAR) AS min0, CAST(max(doc_id)  AS VARCHAR) AS max0,
        CAST(sum(CASE WHEN text    IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nul1,
        CAST(count(DISTINCT text)    AS BIGINT) AS dis1,
        CAST(min(text)    AS VARCHAR) AS min1, CAST(max(text)    AS VARCHAR) AS max1,
        CAST(sum(CASE WHEN lang    IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nul2,
        CAST(count(DISTINCT lang)    AS BIGINT) AS dis2,
        CAST(min(lang)    AS VARCHAR) AS min2, CAST(max(lang)    AS VARCHAR) AS max2,
        CAST(sum(CASE WHEN source  IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nul3,
        CAST(count(DISTINCT source)  AS BIGINT) AS dis3,
        CAST(min(source)  AS VARCHAR) AS min3, CAST(max(source)  AS VARCHAR) AS max3,
        CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nul4,
        CAST(count(DISTINCT n_chars) AS BIGINT) AS dis4,
        CAST(min(n_chars) AS VARCHAR) AS min4, CAST(max(n_chars) AS VARCHAR) AS max4
    FROM documents
)
SELECT 'doc_id' AS "column", n AS n_rows, nul0 AS n_nulls, dis0 AS n_distinct,
       min0 AS min_value, max0 AS max_value FROM a
UNION ALL SELECT 'text',    n, nul1, dis1, min1, max1 FROM a
UNION ALL SELECT 'lang',    n, nul2, dis2, min2, max2 FROM a
UNION ALL SELECT 'source',  n, nul3, dis3, min3, max3 FROM a
UNION ALL SELECT 'n_chars', n, nul4, dis4, min4, max4 FROM a
"""


def q_profile_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass per-column profile of the documents table (null count,
    exact distinct cardinality, min/max rendered to strings): ONE
    aggregation over ONE scan — no per-column jobs. The oracle computes
    the same statistics column-by-column and unpivots via UNION ALL.
    All profiled columns are bigint/varchar, so the string rendering of
    min/max is engine-independent (doubles would not be)."""
    from ..operators.profile import profile_table

    return profile_table(read_fixture(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# PII scrubbing — deterministic PII-bearing text synthesized per doc (the
# fixture corpus is clean word salad), then category counts + redaction.
# The oracle interpolates the LITERAL same patterns (functions/text.py
# PII_PATTERNS — lookahead-free, so Java regex and RE2 agree) and applies
# them in the same fixed order, counting each category on the text with
# earlier categories already redacted, exactly like pii_counts.
# ---------------------------------------------------------------------------


def _pii_oracle() -> str:
    from ..functions.text import PII_PATTERNS

    email, url, ip, phone = (
        PII_PATTERNS["email"],
        PII_PATTERNS["url"],
        PII_PATTERNS["ip"],
        PII_PATTERNS["phone"],
    )
    return f"""
WITH synth AS (
    SELECT doc_id,
        substr(text, 1, 32)
        || ' reach user' || CAST(doc_id AS VARCHAR) || '@mail.example.com'
        || CASE WHEN doc_id % 3 = 0
                THEN ' cc admin' || CAST(doc_id % 50 AS VARCHAR) || '@example.org'
                ELSE '' END
        || ' or https://docs.example.com/d/' || CAST(doc_id % 97 AS VARCHAR)
        || ' node 10.0.' || CAST(doc_id % 200 AS VARCHAR)
        || '.' || CAST((doc_id * 7) % 250 AS VARCHAR)
        || CASE WHEN doc_id % 2 = 1
                THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                ELSE ' no phone' END
        || ' end' AS s
    FROM documents
), s1 AS (
    SELECT doc_id, len(regexp_extract_all(s, '{email}')) AS n_email,
           regexp_replace(s, '{email}', '<EMAIL>', 'g') AS s FROM synth
), s2 AS (
    SELECT doc_id, n_email, len(regexp_extract_all(s, '{url}')) AS n_url,
           regexp_replace(s, '{url}', '<URL>', 'g') AS s FROM s1
), s3 AS (
    SELECT doc_id, n_email, n_url, len(regexp_extract_all(s, '{ip}')) AS n_ip,
           regexp_replace(s, '{ip}', '<IP>', 'g') AS s FROM s2
), s4 AS (
    SELECT doc_id, n_email, n_url, n_ip,
           len(regexp_extract_all(s, '{phone}')) AS n_phone,
           regexp_replace(s, '{phone}', '<PHONE>', 'g') AS s FROM s3
)
SELECT doc_id, n_email, n_url, n_ip, n_phone, s AS redacted FROM s4
"""


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction + per-category counts over synthesized PII-bearing
    text (email / optional cc email / URL / dotted-quad / optional phone,
    varied deterministically by doc_id, prefixed with real corpus text so
    redaction interplays with organic content). Chained JVM regex — zero
    shuffles, narrow projection; the 100 TB shape for corpus scrubbing.
    Counts use the pii_counts contract: a category is counted on text
    with earlier categories already redacted (a quad inside a URL is the
    URL, not an extra IP; redacted digits never double-count as phones)."""
    from ..functions.text import pii_counts, redact_pii

    sid = F.col("doc_id")
    synth = F.concat(
        F.substring("text", 1, 32),
        F.lit(" reach user"), sid.cast("string"),
        F.lit("@mail.example.com"),
        F.when(
            sid % 3 == 0,
            F.concat(
                F.lit(" cc admin"),
                (sid % 50).cast("string"),
                F.lit("@example.org"),
            ),
        ).otherwise(F.lit("")),
        F.lit(" or https://docs.example.com/d/"), (sid % 97).cast("string"),
        F.lit(" node 10.0."), (sid % 200).cast("string"),
        F.lit("."), ((sid * 7) % 250).cast("string"),
        F.when(
            sid % 2 == 1,
            F.concat(
                F.lit(" call +1-555-"),
                F.lpad((sid % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit(" no phone")),
        F.lit(" end"),
    )
    docs = read_fixture(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", synth.alias("s"))
        .withColumn("c", pii_counts(F.col("s")))
        .select(
            "doc_id",
            F.col("c.email").alias("n_email"),
            F.col("c.url").alias("n_url"),
            F.col("c.ip").alias("n_ip"),
            F.col("c.phone").alias("n_phone"),
            redact_pii(F.col("s")).alias("redacted"),
        )
    )


# ---------------------------------------------------------------------------
# sequence packing + per-domain capping — the mixture/packing stage of a
# training-data pipeline (operators/packing.py)
# ---------------------------------------------------------------------------

_PACK_ORACLE = """
WITH t AS (
    SELECT source, doc_id,
           CAST(CASE WHEN trim(text) = '' THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
           AS BIGINT) AS n_tokens
    FROM documents
), c AS (
    SELECT source, doc_id, n_tokens,
           coalesce(sum(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
    FROM t WHERE n_tokens > 0
)
SELECT source, doc_id, n_tokens,
       CAST(floor(cb / 512) AS BIGINT) AS seq_start,
       CAST(floor((cb + n_tokens - 1) / 512) AS BIGINT) AS seq_end,
       cb % 512 AS offset_in_seq
FROM c
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk sequence packing at budget 512 over the documents
    corpus, grouped by source: every document gets its token interval
    (starting sequence, ending sequence, offset) from ONE group-parallel
    window cumsum — no global sort. Token counts are the whitespace
    tokenizer the oracle replicates verbatim."""
    from ..operators.packing import pack_sequences

    docs = read_fixture(spark, sf_dir, "documents").select(
        "source", "doc_id", token_count("text").cast("long").alias("n_tokens")
    )
    return pack_sequences(docs, budget=512, token_col="n_tokens")


_MIX_CAP_ORACLE = """
SELECT source, doc_id, n_chars FROM (
    SELECT source, doc_id, n_chars,
           row_number() OVER (
               PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn
    FROM documents) t
WHERE rn <= 15
"""


def q_domain_mix_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain mixture cap: keep the 15 best documents per source
    (longest-first with id tiebreak — an integer ordering so both engines
    rank identically; in production the order column is the quality
    score). One window row_number per group, single shuffle."""
    from ..operators.packing import cap_per_group

    docs = read_fixture(spark, sf_dir, "documents").select(
        "source", "doc_id", "n_chars"
    )
    return cap_per_group(
        docs, 15, "source", [F.col("n_chars").desc(), F.col("doc_id")]
    )


# ---------------------------------------------------------------------------
# mergeable HLL sketches — per-day build, lossless union (operators/sketches)
# ---------------------------------------------------------------------------

_HLL_UNION_ORACLE = """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct,
       TRUE AS within_bound
FROM events
GROUP BY 1
"""


def q_hll_daily_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event_type answered by UNIONING per-day HLL
    sketches (never re-scanning events): sketches built per (event_type,
    day), then merged per event_type. Adjudication emits the exact
    distinct (computed in-plan) plus a 5%-relative-error bound boolean —
    a broken union (double-count, dropped day, lgK mismatch) blows the
    bound and flips a hashed value. The lossless-union law (union of
    day sketches == one whole-window sketch, estimate-exact) is pinned
    in tests/test_approx.py."""
    from ..operators.sketches import (
        build_distinct_sketches,
        merge_distinct_sketches,
    )

    events = read_fixture(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts")
    )
    daily = build_distinct_sketches(events, ["event_type", "day"], "user_id")
    approx = merge_distinct_sketches(daily, ["event_type"])
    exact = events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return exact.join(approx, "event_type").select(
        "event_type",
        "exact_distinct",
        (
            F.abs(F.col("approx_distinct") - F.col("exact_distinct"))
            <= 0.05 * F.col("exact_distinct")
        ).alias("within_bound"),
    )


# ---------------------------------------------------------------------------
# Theta set algebra + mergeable KLL quantiles (operators/sketches.py)
# ---------------------------------------------------------------------------

_THETA_ORACLE = """
WITH t AS (SELECT DISTINCT event_type FROM events),
p AS (SELECT DISTINCT event_type, user_id FROM events),
x AS (SELECT a.event_type AS ta, b.event_type AS tb, count(*) AS c
      FROM p a JOIN p b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2)
SELECT t1.event_type AS type_a, t2.event_type AS type_b,
       CAST(coalesce(x.c, 0) AS BIGINT) AS exact_common,
       TRUE AS within_bound
FROM t t1 JOIN t t2 ON t1.event_type < t2.event_type
LEFT JOIN x ON x.ta = t1.event_type AND x.tb = t2.event_type
"""


def q_theta_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap via Theta set algebra: distinct users who did
    BOTH event types, for every type pair, estimated purely from
    per-type sketches (the fact table is never rescanned for a pair).
    Adjudication emits the exact intersection (computed in-plan from
    distinct pairs) plus a bound boolean — a broken intersection blows
    the 5%+2 tolerance and flips a hashed value."""
    from ..operators.sketches import build_theta_sketches, theta_pair_overlap

    events = read_fixture(spark, sf_dir, "events")
    overlap = theta_pair_overlap(
        build_theta_sketches(events, ["event_type"], "user_id"), "event_type"
    ).select(
        F.col("key_a").alias("type_a"),
        F.col("key_b").alias("type_b"),
        "common",
    )
    p = events.select("event_type", "user_id").distinct()
    exact = (
        p.alias("a")
        .join(
            p.alias("b"),
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    return (
        overlap.join(exact, ["type_a", "type_b"], "left")
        .withColumn("exact_common", F.coalesce(F.col("__c"), F.lit(0)))
        .select(
            "type_a",
            "type_b",
            "exact_common",
            (
                F.abs(F.col("common") - F.col("exact_common"))
                <= 0.05 * F.col("exact_common") + 2.0
            ).alias("within_bound"),
        )
    )


# Rank check mirrors quantiles_by_type: the estimate's true rank must sit
# within p ± 0.03 (KLL k=200 normalized rank error ~1.65% at 99%
# confidence). The oracle enumerates (event_type x stat) with TRUE.
_KLL_ORACLE = """
SELECT event_type, v.stat, TRUE AS rank_ok
FROM (SELECT DISTINCT event_type FROM events) t,
     (VALUES ('q50'), ('q95')) v(stat)
"""


def q_kll_rolling_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type value quantiles answered by MERGING per-day KLL sketches
    (the rolling-window shape — merge keeps the rank-error guarantee,
    unlike averaging per-shard percentiles which has none). Adjudicated
    by computing each estimate's exact rank in-plan and asserting it
    sits within p ± 0.03."""
    from ..operators.sketches import (
        build_quantile_sketches,
        merge_quantile_sketches,
    )

    events = read_fixture(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts")
    )
    daily = build_quantile_sketches(events, ["event_type", "day"], "value")
    est = merge_quantile_sketches(
        daily, ["event_type"], {"q50": 0.5, "q95": 0.95}
    )
    targets = est.select(
        "event_type",
        F.explode(
            F.create_map(
                F.lit("q50"), F.struct(F.col("q50").alias("est"), F.lit(0.5).alias("p")),
                F.lit("q95"), F.struct(F.col("q95").alias("est"), F.lit(0.95).alias("p")),
            )
        ).alias("stat", "s"),
    ).select("event_type", "stat", F.col("s.est").alias("est"), F.col("s.p").alias("p"))
    ranked = (
        events.join(F.broadcast(targets), "event_type")
        .groupBy("event_type", "stat", "p")
        .agg(
            F.sum(F.when(F.col("value") <= F.col("est"), 1).otherwise(0)).alias("le"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return ranked.select(
        "event_type",
        "stat",
        (
            (F.col("le") / F.col("n") >= F.col("p") - 0.03)
            & (F.col("le") / F.col("n") <= F.col("p") + 0.03)
        ).alias("rank_ok"),
    )


# ---------------------------------------------------------------------------
# document chunking — fixed-size overlapping word windows (operators/chunking)
# ---------------------------------------------------------------------------

_CHUNK_ORACLE = """
WITH w AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS ws
    FROM documents
), n AS (
    SELECT doc_id, ws, len(ws) AS n FROM w WHERE len(ws) > 0
), c AS (
    SELECT doc_id, ws, n,
           CAST(ceil(CAST(greatest(n - 10, 1) AS DOUBLE) / 30) AS BIGINT) AS nc
    FROM n
)
SELECT doc_id, u.i AS chunk_idx,
       u.i * 30 AS start_word,
       least(u.i * 30 + 40, n) AS end_word,
       array_to_string(
           list_slice(ws, u.i * 30 + 1, least(u.i * 30 + 40, n)), ' '
       ) AS chunk_text
FROM c, unnest(range(0, nc)) AS u(i)
"""


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping word-window chunking of the corpus (40-word chunks,
    10-word overlap): tokenize once, explode a per-doc index sequence,
    slice — zero shuffles, every chunk boundary and the reassembled text
    value-hash-adjudicated against the oracle's identical arithmetic."""
    from ..operators.chunking import chunk_documents

    return chunk_documents(
        read_fixture(spark, sf_dir, "documents"), chunk_words=40, overlap_words=10
    )


# ---------------------------------------------------------------------------
# consolidated adjudication queries — the driver's correctness gate checks
# at most the FIRST 50 registered queries, so the LLM-pipeline prep and
# corpus-statistics families are each unioned under one method-tagged
# query (the `dedup_lsh_pairs` pattern): every family keeps a hash-green
# driver row without spending a registry slot per sub-operator.
# ---------------------------------------------------------------------------


def _llm_prep_oracle() -> str:
    return f"""
SELECT 'chunk' AS method, CAST(doc_id AS BIGINT) AS doc_id,
       CAST(chunk_idx AS BIGINT) AS k1, CAST(start_word AS BIGINT) AS k2,
       CAST(end_word AS BIGINT) AS k3, CAST(NULL AS BIGINT) AS k4,
       chunk_text AS txt
FROM ({_CHUNK_ORACLE}) c
UNION ALL
SELECT 'pack', CAST(doc_id AS BIGINT), CAST(n_tokens AS BIGINT),
       CAST(seq_start AS BIGINT), CAST(seq_end AS BIGINT),
       CAST(offset_in_seq AS BIGINT), source
FROM ({_PACK_ORACLE}) p
UNION ALL
SELECT 'mix_cap', CAST(doc_id AS BIGINT), CAST(n_chars AS BIGINT),
       NULL, NULL, NULL, source
FROM ({_MIX_CAP_ORACLE}) m
UNION ALL
SELECT 'pii', CAST(doc_id AS BIGINT), CAST(n_email AS BIGINT),
       CAST(n_url AS BIGINT), CAST(n_ip AS BIGINT),
       CAST(n_phone AS BIGINT), redacted
FROM ({_pii_oracle()}) s
UNION ALL
SELECT 'bpe', CAST(doc_id AS BIGINT),
       CAST(octet_length(encode(text)) AS BIGINT),
       NULL, NULL, NULL, 'true:true:true'
FROM documents WHERE text IS NOT NULL
UNION ALL
SELECT 'lm_ppl', CAST(doc_id AS BIGINT), CAST(n_grams AS BIGINT),
       CAST(logp_q4 AS BIGINT), NULL, NULL, CAST(NULL AS VARCHAR)
FROM (
    WITH tr AS (
        SELECT substr(text, 1, 512) AS t FROM documents
        WHERE doc_id % 10 = 0 AND text IS NOT NULL
    ),
    tri AS (
        SELECT substr(t, u.i, 3) AS gram, count(*) AS c_tri
        FROM (SELECT t FROM tr WHERE length(t) >= 3) s,
             unnest(range(1, length(t) - 1)) u(i)
        GROUP BY 1
    ),
    ctx AS (
        SELECT substr(gram, 1, 2) AS ctx, sum(c_tri) AS c_ctx
        FROM tri GROUP BY 1
    ),
    voc AS (
        SELECT count(DISTINCT substr(t, u.i, 1)) AS v
        FROM tr, unnest(range(1, length(t) + 1)) u(i)
    ),
    sc AS (
        SELECT d.doc_id, substr(substr(d.text, 1, 512), u.i, 3) AS gram
        FROM documents d,
             unnest(range(1, length(substr(d.text, 1, 512)) - 1)) u(i)
        WHERE d.text IS NOT NULL AND length(substr(d.text, 1, 512)) >= 3
    )
    SELECT doc_id, count(*) AS n_grams,
           CAST(round(sum(CAST(round(ln((coalesce(t.c_tri, 0) + 1.0)
                                      / (coalesce(c.c_ctx, 0) + v.v)), 8)
                               AS DECIMAL(20,8))), 4) * 10000 AS BIGINT)
               AS logp_q4
    FROM sc LEFT JOIN tri t USING (gram)
            LEFT JOIN ctx c ON substr(sc.gram, 1, 2) = c.ctx
            CROSS JOIN voc v
    GROUP BY doc_id
) lmq
UNION ALL
SELECT 'ccnet_bucket', CAST(b.doc_id AS BIGINT), CAST(b.bucket AS BIGINT),
       CAST(b.logp_q4 AS BIGINT), NULL, NULL, b.lang
FROM (
    SELECT s.doc_id, d.lang, s.logp_q4,
           ntile(3) OVER (PARTITION BY d.lang
                          ORDER BY CAST(s.logp_q4 AS DOUBLE) / s.n_grams
                                   DESC, s.doc_id) AS bucket
    FROM (
    
    WITH tr AS (
        SELECT substr(text, 1, 512) AS t FROM documents
        WHERE doc_id % 10 = 0 AND text IS NOT NULL
    ),
    tri AS (
        SELECT substr(t, u.i, 3) AS gram, count(*) AS c_tri
        FROM (SELECT t FROM tr WHERE length(t) >= 3) s,
             unnest(range(1, length(t) - 1)) u(i)
        GROUP BY 1
    ),
    ctx AS (
        SELECT substr(gram, 1, 2) AS ctx, sum(c_tri) AS c_ctx
        FROM tri GROUP BY 1
    ),
    voc AS (
        SELECT count(DISTINCT substr(t, u.i, 1)) AS v
        FROM tr, unnest(range(1, length(t) + 1)) u(i)
    ),
    sc AS (
        SELECT d.doc_id, substr(substr(d.text, 1, 512), u.i, 3) AS gram
        FROM documents d,
             unnest(range(1, length(substr(d.text, 1, 512)) - 1)) u(i)
        WHERE d.text IS NOT NULL AND length(substr(d.text, 1, 512)) >= 3
    )
    SELECT doc_id, count(*) AS n_grams,
           CAST(round(sum(CAST(round(ln((coalesce(t.c_tri, 0) + 1.0)
                                      / (coalesce(c.c_ctx, 0) + v.v)), 8)
                               AS DECIMAL(20,8))), 4) * 10000 AS BIGINT)
               AS logp_q4
    FROM sc LEFT JOIN tri t USING (gram)
            LEFT JOIN ctx c ON substr(sc.gram, 1, 2) = c.ctx
            CROSS JOIN voc v
    GROUP BY doc_id
    ) s JOIN documents d USING (doc_id)
) b
UNION ALL
SELECT 'c4', CAST(doc_id AS BIGINT),
       CAST(len(kept) AS BIGINT),
       CAST(len(string_split(text, chr(10))) AS BIGINT),
       CAST(length(cleaned)
            - length(regexp_replace(cleaned, '[.!?]', '', 'g')) AS BIGINT),
       CAST(CASE WHEN NOT contains(lower(text), 'lorem ipsum')
                  AND NOT contains(text, '{{')
                  AND length(cleaned)
                      - length(regexp_replace(cleaned, '[.!?]', '', 'g')) >= 5
             THEN 1 ELSE 0 END AS BIGINT),
       cleaned
FROM (
    SELECT doc_id, text, kept,
           coalesce(array_to_string(kept, chr(10)), '') AS cleaned
    FROM (
        SELECT doc_id, text,
               list_filter(
                   string_split(text, chr(10)),
                   ln -> regexp_matches(trim(ln), '[.!?"]$')
                         AND len(regexp_split_to_array(trim(ln), '\\s+')) >= 3
               ) AS kept
        FROM (
            SELECT doc_id,
                   concat(replace(text, ' value ', '.' || chr(10)),
                          CASE WHEN doc_id % 7 = 0 THEN ' {{' ELSE '' END,
                          CASE WHEN doc_id % 11 = 0 THEN ' Lorem Ipsum'
                               ELSE '' END) AS text
            FROM documents WHERE text IS NOT NULL
        )
    )
)
UNION ALL
SELECT 'gopher', CAST(doc_id AS BIGINT),
       n_words, mean_wlen_q6, stop_hits,
       CAST(CASE WHEN n_words >= 50 AND n_words <= 100000
                  AND mean_wlen_q6 BETWEEN 3000000 AND 10000000
                  AND symbol_ratio_q6 <= 100000
                  AND bullet_frac_q6 <= 900000
                  AND ellipsis_frac_q6 <= 300000
                  AND alpha_frac_q6 >= 800000
                  AND stop_hits >= 2
                  AND dup_line_frac_q6 <= 300000
                  AND dup_char_frac_q6 <= 200000
             THEN 1 ELSE 0 END AS BIGINT),
       concat_ws(':', alpha_frac_q6, symbol_ratio_q6, bullet_frac_q6,
                 ellipsis_frac_q6, dup_line_frac_q6, dup_char_frac_q6)
FROM (
    SELECT doc_id,
           CAST(len(words) AS BIGINT) AS n_words,
           CAST(round(CASE WHEN len(words) > 0 THEN
                    CAST(coalesce(list_sum(list_transform(words,
                         w -> length(w))), 0) AS DOUBLE) / len(words)
                ELSE 0.0 END * 1e6, 0) AS BIGINT) AS mean_wlen_q6,
           CAST(round(CASE WHEN len(words) > 0 THEN
                    CAST(len(list_filter(words,
                         w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
                    / len(words)
                ELSE 0.0 END * 1e6, 0) AS BIGINT) AS alpha_frac_q6,
           CAST(len(list_intersect(
                list_distinct(list_transform(words, w -> lower(w))),
                ['the','be','to','of','and','that','have','with']
           )) AS BIGINT) AS stop_hits,
           CAST(round(CASE WHEN len(words) > 0 THEN
                    (CAST(length(text) - length(replace(text, '#', ''))
                          AS DOUBLE)
                     + CAST(length(text) - length(replace(text, '...', ''))
                            AS DOUBLE) / 3)
                    / len(words)
                ELSE 0.0 END * 1e6, 0) AS BIGINT) AS symbol_ratio_q6,
           CAST(round(CASE WHEN len(lines) > 0 THEN
                    CAST(len(list_filter(lines,
                         ln -> regexp_matches(trim(ln), '^[-*•]')))
                         AS DOUBLE) / len(lines)
                ELSE 0.0 END * 1e6, 0) AS BIGINT) AS bullet_frac_q6,
           CAST(round(CASE WHEN len(lines) > 0 THEN
                    CAST(len(list_filter(lines,
                         ln -> regexp_matches(trim(ln), '\\.\\.\\.$')))
                         AS DOUBLE) / len(lines)
                ELSE 0.0 END * 1e6, 0) AS BIGINT) AS ellipsis_frac_q6,
           CAST(round(CASE WHEN len(lines) > 0 THEN
                    1.0 - CAST(len(list_distinct(lines)) AS DOUBLE)
                          / len(lines)
                ELSE 0.0 END * 1e6, 0) AS BIGINT) AS dup_line_frac_q6,
           CAST(round(CASE WHEN coalesce(list_sum(list_transform(lines,
                         ln -> length(ln))), 0) > 0 THEN
                    CAST(coalesce(list_sum(list_transform(
                         list_filter(lines,
                             ln -> len(list_filter(lines, x -> x = ln)) > 1),
                         ln -> length(ln))), 0) AS DOUBLE)
                    / list_sum(list_transform(lines, ln -> length(ln)))
                ELSE 0.0 END * 1e6, 0) AS BIGINT) AS dup_char_frac_q6
    FROM (
        SELECT doc_id, text,
               list_filter(regexp_split_to_array(text, '\\s+'),
                           w -> w <> '') AS words,
               string_split(text, chr(10)) AS lines
        FROM (
            SELECT doc_id,
                   concat(replace(text, ' value ', '.' || chr(10)),
                          CASE WHEN doc_id % 7 = 0 THEN ' {{' ELSE '' END,
                          CASE WHEN doc_id % 11 = 0 THEN ' Lorem Ipsum'
                               ELSE '' END) AS text
            FROM documents WHERE text IS NOT NULL
        )
    )
)
UNION ALL
SELECT 'repgram', CAST(r.doc_id AS BIGINT), r.n_chars,
       r.top_frac_q6, r.dup_frac_q6, NULL, CAST(NULL AS VARCHAR)
FROM (
    WITH w AS (
        SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
               list_filter(regexp_split_to_array(text, '\\s+'),
                           w -> w <> '') AS words
        FROM documents WHERE text IS NOT NULL
    ),
    g2 AS (
        SELECT doc_id, concat_ws(' ', words[i], words[i+1]) AS gram
        FROM w, unnest(range(1, greatest(len(words) - 1, 0) + 1)) u(i)
    ),
    g5 AS (
        SELECT doc_id, concat_ws(' ', words[i], words[i+1], words[i+2],
                                 words[i+3], words[i+4]) AS gram
        FROM w, unnest(range(1, greatest(len(words) - 4, 0) + 1)) u(i)
    ),
    c2 AS (
        SELECT doc_id, max(cnt * length(gram)) AS top_score
        FROM (SELECT doc_id, gram, count(*) AS cnt FROM g2 GROUP BY 1, 2)
        GROUP BY 1
    ),
    c5 AS (
        SELECT doc_id,
               sum(CASE WHEN cnt >= 2 THEN cnt * length(gram) END)
                   AS dup_score
        FROM (SELECT doc_id, gram, count(*) AS cnt FROM g5 GROUP BY 1, 2)
        GROUP BY 1
    )
    SELECT w.doc_id, w.n_chars,
           CAST(round(least(CASE WHEN n_chars > 0
                THEN coalesce(top_score, 0) / CAST(n_chars AS DOUBLE)
                ELSE 0.0 END, 1.0) * 1e6, 0) AS BIGINT) AS top_frac_q6,
           CAST(round(least(CASE WHEN n_chars > 0
                THEN coalesce(dup_score, 0) / CAST(n_chars AS DOUBLE)
                ELSE 0.0 END, 1.0) * 1e6, 0) AS BIGINT) AS dup_frac_q6
    FROM w LEFT JOIN c2 USING (doc_id) LEFT JOIN c5 USING (doc_id)
) r
UNION ALL
SELECT 'span_dedup', CAST(doc_id AS BIGINT), n_spans, kept, NULL, NULL, txt
FROM (
    WITH src AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0
                    THEN 'shared span one. shared span two. shared span three. '
                         || replace(text, ' table ', '. ')
                    ELSE replace(text, ' table ', '. ') END AS text
        FROM documents WHERE text IS NOT NULL
    ),
    sent AS (
        SELECT doc_id, string_split(text, '. ') AS sents FROM src
    ),
    chunks AS (
        SELECT doc_id, CAST(u.i AS INT) AS chunk_idx,
               array_to_string(sents[u.i*3+1 : u.i*3+3], '. ') AS chunk_text
        FROM sent,
             unnest(range(0, CAST(ceil(len(sents) / 3.0) AS BIGINT))) u(i)
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY chunk_text ORDER BY doc_id, chunk_idx
        ) AS rn
        FROM chunks
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS kept,
           coalesce(string_agg(CASE WHEN rn = 1 THEN chunk_text END,
                               '. ' ORDER BY chunk_idx), '') AS txt
    FROM ranked GROUP BY doc_id
)
UNION ALL
SELECT 'url_canon', CAST(doc_id AS BIGINT), CAST(length(canon) AS BIGINT),
       NULL, NULL, NULL, canon
FROM (
    SELECT doc_id,
           CASE WHEN qs = '' THEN u1
                WHEN len(kept) = 0 THEN base
                ELSE base || '?' || array_to_string(kept, '&') END AS canon
    FROM (
        SELECT doc_id, u1, base, qs,
               list_filter(string_split(qs, '&'),
                           p -> NOT starts_with(p, 'utm_')) AS kept
        FROM (
            SELECT doc_id, u1,
                   regexp_replace(u1, '\\?.*$', '') AS base,
                   coalesce(regexp_extract(u1, '\\?(.*)$', 1), '') AS qs
            FROM (
                SELECT doc_id,
                       regexp_replace(
                           regexp_replace(lower(auth),
                                          '^(https://[^/:]*):443$', '\\1'),
                           '^(http://[^/:]*):80$', '\\1')
                       || substr(u0, length(auth) + 1) AS u1
                FROM (
                    SELECT doc_id, u0,
                           regexp_extract(u0,
                               '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', 0)
                               AS auth
                    FROM (
                        SELECT doc_id,
                               regexp_replace(url, '#.*$', '') AS u0
                        FROM (
                            SELECT doc_id,
                                   'HTTPS://WWW.Site' || (doc_id % 7)
                                   || '.COM:443/Path/' || doc_id
                                   || CASE WHEN doc_id % 2 = 0
                                        THEN '?utm_source=a&id=' || doc_id
                                             || '&utm_b=2#frag'
                                        ELSE '#top' END AS url
                            FROM documents WHERE text IS NOT NULL
                        )
                    )
                )
            )
        )
    )
)
"""


@register("llm_prep_ops", _llm_prep_oracle())
def q_llm_prep_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM training-data prep surface, `method`-tagged under one
    registered query (each sub-plan is the UNCHANGED standalone operator
    query — see the per-helper docstrings above for semantics and scale
    design):

    - 'chunk' rows (q_chunk_documents): k1=chunk_idx, k2=start_word,
      k3=end_word, txt=chunk_text.
    - 'pack' rows (q_pack_sequences): k1=n_tokens, k2=seq_start,
      k3=seq_end, k4=offset_in_seq, txt=source.
    - 'mix_cap' rows (q_domain_mix_cap): k1=n_chars, txt=source.
    - 'pii' rows (q_pii_scrub): k1..k4 = email/url/ip/phone counts,
      txt=redacted text.
    - 'bpe' rows (functions/bpe): k1=UTF-8 byte count (oracle-exact),
      txt=round_trip:tokens_le_bytes:ids_in_vocab law booleans.
    - 'lm_ppl' rows (operators/lm): k1=trigrams scored, k2=total
      log-prob in exact 1e-4 units (decimal-quantized smoothing
      arithmetic, fully hash-adjudicated).
    - 'c4' rows (functions/text c4_* kit): k1/k2=lines kept/total,
      k3=sentence count, k4=page keep flag, txt=the cleaned text.
    - 'gopher' rows (functions/text gopher_metrics): k1=words, k2=mean
      word length (q6), k3=stop hits, k4=keep flag, txt=six q6 ratios.
    - 'repgram' rows (operators/repetition): k1=n_chars, k2=top-2-gram
      char fraction (q6), k3=dup-5-gram char fraction (q6).
    - 'span_dedup' rows (operators/dedup.dedup_sentence_spans):
      k1/k2=spans total/kept, txt=the reassembled deduped text.
    - 'ccnet_bucket' rows (operators/lm.perplexity_buckets): k1=the
      per-language head/middle/tail bucket, k2=logp_q4, txt=lang.
    - 'url_canon' rows (functions/text.canonicalize_url): k1=length,
      txt=the canonical URL (the oracle replays the rule chain).

    The union is lazy and each subtree independent — Spark executes the
    four plans side by side; no cross-family shuffle is introduced.
    """
    null_l = F.lit(None).cast("long")
    chunk = q_chunk_documents(spark, sf_dir).select(
        F.lit("chunk").alias("method"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("chunk_idx").cast("long").alias("k1"),
        F.col("start_word").cast("long").alias("k2"),
        F.col("end_word").cast("long").alias("k3"),
        null_l.alias("k4"),
        F.col("chunk_text").alias("txt"),
    )
    pack = q_pack_sequences(spark, sf_dir).select(
        F.lit("pack").alias("method"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_tokens").cast("long").alias("k1"),
        F.col("seq_start").cast("long").alias("k2"),
        F.col("seq_end").cast("long").alias("k3"),
        F.col("offset_in_seq").cast("long").alias("k4"),
        F.col("source").alias("txt"),
    )
    cap = q_domain_mix_cap(spark, sf_dir).select(
        F.lit("mix_cap").alias("method"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_chars").cast("long").alias("k1"),
        null_l.alias("k2"),
        null_l.alias("k3"),
        null_l.alias("k4"),
        F.col("source").alias("txt"),
    )
    pii = q_pii_scrub(spark, sf_dir).select(
        F.lit("pii").alias("method"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_email").cast("long").alias("k1"),
        F.col("n_url").cast("long").alias("k2"),
        F.col("n_ip").cast("long").alias("k3"),
        F.col("n_phone").cast("long").alias("k4"),
        F.col("redacted").alias("txt"),
    )
    # 'bpe' rows: a REAL byte-level BPE tokenizer (functions/bpe) —
    # trained driver-side on a bounded deterministic sample (the
    # documented codebook-training contract), encoded distributedly.
    # k1 = byte count (oracle-exact: pins that the kernel consumed the
    # full text); txt = three in-plan law booleans the oracle asserts
    # constant-true: lossless round-trip (ids decoded in-kernel must
    # reproduce the text bit-exactly), token count ≤ byte count, and
    # every id inside the trained vocabulary.
    from ..functions.bpe import bpe_encode, train_bpe

    docs = read_fixture(spark, sf_dir, "documents")
    merges = train_bpe(docs, vocab_size=512, sample_rows=256)
    bpe = bpe_encode(
        docs.where(F.col("text").isNotNull()), merges
    ).select(
        F.lit("bpe").alias("method"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_bytes").cast("long").alias("k1"),
        null_l.alias("k2"),
        null_l.alias("k3"),
        null_l.alias("k4"),
        F.concat_ws(
            ":",
            F.col("round_trip_ok").cast("string"),
            (F.col("n_tokens") <= F.col("n_bytes")).cast("string"),
            F.col("ids_in_vocab").cast("string"),
        ).alias("txt"),
    )
    # 'lm_ppl' rows: CCNet-style char-trigram LM perplexity scoring
    # (operators/lm) — the LM is a model-as-TABLE (trigram counts
    # broadcast into the scoring join; no Python kernel, no driver
    # collect), trained on the deterministic doc_id % 10 reference
    # slice. k1 = trigrams scored; k2 = total log-prob in exact 1e-4
    # units (per-gram decimal(20,8) quantization before the sum — the
    # BM25 stable-score recipe — so the hash adjudicates the full
    # smoothing arithmetic, not a float approximation).
    from ..operators.lm import (
        perplexity_buckets,
        score_perplexity,
        train_char_lm,
    )

    lm = train_char_lm(docs.filter("doc_id % 10 = 0"))
    # NOT cached deliberately: lm_rows and ccnet_bucket share this
    # subtree under the union, but ReuseExchange already dedups the
    # identical scoring aggregation here — A/B-measured (sf0.1 warm):
    # plain 0.7-1.0 s vs persist/localCheckpoint 2.4-2.7 s (the
    # materialization defeats the reuse and costs more than it saves)
    ppl = score_perplexity(docs, lm)
    lm_rows = ppl.select(
        F.lit("lm_ppl").alias("method"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_grams").cast("long").alias("k1"),
        F.col("logp_q4").cast("long").alias("k2"),
        null_l.alias("k3"),
        null_l.alias("k4"),
        F.lit(None).cast("string").alias("txt"),
    )
    # 'ccnet_bucket' rows: CCNet's head/middle/tail perplexity split
    # (operators/lm.perplexity_buckets) — per-language ntile(3) over
    # per-gram log-prob logp_q4/n_grams (DESC, id tie-break; a ratio of
    # two exact integers in IEEE double is identical on both engines),
    # so the bucket assignment is deterministic and hash-adjudicated.
    bucket_rows = perplexity_buckets(ppl, docs).select(
        F.lit("ccnet_bucket").alias("method"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("bucket").cast("long").alias("k1"),
        F.col("logp_q4").cast("long").alias("k2"),
        null_l.alias("k3"),
        null_l.alias("k4"),
        F.col("lang").alias("txt"),
    )
    # 'c4' rows: the public T5/C4 cleaning recipe (functions/text
    # c4_kept_lines + c4_page_keep) over a line-structured corpus
    # synthesized DETERMINISTICALLY from the fixture (word 'value' →
    # sentence boundary; '{' / 'Lorem Ipsum' markers injected by
    # doc_id residue so the page gates actually fire). k1 = lines
    # kept, k2 = lines total, k3 = sentence count over the cleaned
    # text, k4 = page keep flag, txt = the cleaned text itself —
    # the whole filter output is hash-adjudicated. Pure JVM
    # higher-order functions; zero shuffles in this subtree.
    from ..functions.text import c4_kept_lines, c4_page_keep, c4_sentence_count

    c4_src = docs.where(F.col("text").isNotNull()).select(
        "doc_id",
        F.concat(
            F.regexp_replace("text", " value ", ".\n"),
            F.when(F.col("doc_id") % 7 == 0, F.lit(" {")).otherwise(
                F.lit("")
            ),
            F.when(F.col("doc_id") % 11 == 0, F.lit(" Lorem Ipsum")).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )
    c4_mid = c4_src.select(
        "doc_id",
        "text",
        c4_kept_lines("text").alias("kept"),
    ).withColumn("cleaned", F.array_join("kept", "\n"))
    c4 = c4_mid.select(
        F.lit("c4").alias("method"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size("kept").cast("long").alias("k1"),
        F.size(F.split("text", "\n")).cast("long").alias("k2"),
        c4_sentence_count("cleaned").alias("k3"),
        c4_page_keep("text", "cleaned").cast("long").alias("k4"),
        F.col("cleaned").alias("txt"),
    )
    # 'gopher' rows: the Gopher/MassiveText quality gate
    # (functions/text.gopher_metrics + gopher_keep) over the same
    # line-structured corpus as the c4 rows. Every metric is an exact
    # count or a 1e-6-quantized ratio of exact counts, so the oracle
    # recomputes ALL of them bit-for-bit: k1=n_words, k2=mean word
    # length (q6), k3=stop-word hits, k4=page keep flag, txt=the six
    # remaining q6 metrics joined ':'. Zero shuffles in this subtree.
    from ..functions.text import gopher_keep, gopher_metrics

    gopher = c4_src.select(
        "doc_id", gopher_metrics("text").alias("m")
    ).select(
        F.lit("gopher").alias("method"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("m.n_words").alias("k1"),
        F.col("m.mean_wlen_q6").alias("k2"),
        F.col("m.stop_hits").alias("k3"),
        gopher_keep(F.col("m")).cast("long").alias("k4"),
        F.concat_ws(
            ":",
            F.col("m.alpha_frac_q6"),
            F.col("m.symbol_ratio_q6"),
            F.col("m.bullet_frac_q6"),
            F.col("m.ellipsis_frac_q6"),
            F.col("m.dup_line_frac_q6"),
            F.col("m.dup_char_frac_q6"),
        ).alias("txt"),
    )
    # 'repgram' rows: the n-gram half of the Gopher repetition rules
    # (operators/repetition.repetition_metrics — explode + two partial
    # aggs, the scalable shape; the line-level half lives in the gopher
    # rows above). k1=n_chars, k2=top-2-gram char fraction (q6),
    # k3=dup-5-gram char fraction (q6, capped proxy), all
    # hash-adjudicated against a DuckDB unnest+group recomputation.
    from ..operators.repetition import repetition_metrics

    repgram = repetition_metrics(docs).select(
        F.lit("repgram").alias("method"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_chars").alias("k1"),
        F.col("top_frac_q6").alias("k2"),
        F.col("dup_frac_q6").alias("k3"),
        null_l.alias("k4"),
        F.lit(None).cast("string").alias("txt"),
    )
    # 'span_dedup' rows: C4's corpus-wide three-sentence-span dedup
    # (operators/dedup.dedup_sentence_spans) over a sentence-structured
    # corpus synthesized deterministically from the fixture (word
    # 'table' → sentence boundary) with a SHARED leading span planted
    # on every doc_id % 3 == 0 — so first-occurrence-wins is exercised
    # corpus-wide and the oracle pins exactly which doc keeps it.
    # k1=n_spans, k2=n_spans_kept, txt=the reassembled text.
    from ..operators.dedup import dedup_sentence_spans

    shared = "shared span one. shared span two. shared span three. "
    span_src = docs.where(F.col("text").isNotNull()).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(shared), F.regexp_replace("text", " table ", ". ")
            ),
        )
        .otherwise(F.regexp_replace("text", " table ", ". "))
        .alias("text"),
    )
    span_rows = dedup_sentence_spans(span_src).select(
        F.lit("span_dedup").alias("method"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_spans").cast("long").alias("k1"),
        F.col("n_spans_kept").cast("long").alias("k2"),
        null_l.alias("k3"),
        null_l.alias("k4"),
        F.col("text").alias("txt"),
    )
    # 'url_canon' rows: canonical URL keys (functions/text
    # canonicalize_url) over URLs synthesized deterministically from
    # doc_id (mixed-case scheme/host, default port, utm params,
    # fragment — every rule fires); the oracle REPLAYS the identical
    # rule chain, so any divergence in any rule hash-mismatches.
    from ..functions.text import canonicalize_url

    url_src = docs.where(F.col("text").isNotNull()).select(
        "doc_id",
        F.concat(
            F.lit("HTTPS://WWW.Site"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".COM:443/Path/"),
            F.col("doc_id").cast("string"),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(
                    F.lit("?utm_source=a&id="),
                    F.col("doc_id").cast("string"),
                    F.lit("&utm_b=2#frag"),
                ),
            ).otherwise(F.lit("#top")),
        ).alias("url"),
    )
    url_rows = url_src.select(
        F.lit("url_canon").alias("method"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.length(canonicalize_url("url")).cast("long").alias("k1"),
        null_l.alias("k2"),
        null_l.alias("k3"),
        null_l.alias("k4"),
        canonicalize_url("url").alias("txt"),
    )
    return (
        _union_all(
            chunk, pack, cap, pii, bpe, lm_rows, bucket_rows, c4,
            gopher, repgram, span_rows, url_rows,
        )
    )


def _corpus_stats_oracle() -> str:
    return f"""
SELECT 'profile' AS method, "column" AS key_a, CAST(NULL AS VARCHAR) AS key_b,
       CAST(n_rows AS BIGINT) AS v1, CAST(n_nulls AS BIGINT) AS v2,
       CAST(n_distinct AS BIGINT) AS v3,
       min_value AS lo, max_value AS hi, TRUE AS ok
FROM ({_PROFILE_ORACLE}) pr
UNION ALL
SELECT 'hll_union', event_type, NULL, CAST(exact_distinct AS BIGINT),
       NULL, NULL, NULL, NULL, within_bound
FROM ({_HLL_UNION_ORACLE}) h
UNION ALL
SELECT 'theta_overlap', type_a, type_b, CAST(exact_common AS BIGINT),
       NULL, NULL, NULL, NULL, within_bound
FROM ({_THETA_ORACLE}) t
UNION ALL
SELECT 'kll_quantile', event_type, stat, NULL, NULL, NULL, NULL, NULL,
       rank_ok
FROM ({_KLL_ORACLE}) k
UNION ALL
SELECT 'cms', event_type, NULL, CAST(count(*) AS BIGINT),
       NULL, NULL, NULL, NULL, TRUE
FROM events GROUP BY event_type
"""


@register("corpus_stats_ops", _corpus_stats_oracle())
def q_corpus_stats_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus/warehouse statistics surface, `method`-tagged under one
    registered query (each sub-plan is the UNCHANGED standalone operator
    query — see the per-helper docstrings above):

    - 'profile' rows (q_profile_docs): key_a=column, v1=n_rows,
      v2=n_nulls, v3=n_distinct, lo/hi=min/max rendered to strings.
    - 'hll_union' rows (q_hll_daily_union): key_a=event_type,
      v1=exact_distinct, ok=5%-relative-error bound on the merged
      per-day HLL estimate.
    - 'theta_overlap' rows (q_theta_audience_overlap): key_a/key_b=the
      type pair, v1=exact_common, ok=5%+2 bound on the Theta
      intersection estimate.
    - 'kll_quantile' rows (q_kll_rolling_quantiles): key_a=event_type,
      key_b=stat, ok=the merged KLL estimate's exact rank sits within
      p ± 0.03.
    - 'cms' rows (operators/sketches count-min family): key_a=
      event_type, v1=exact count; ok = the merged per-day CMS point
      estimate never underestimates (est >= true), respects the
      eps*N overestimate bound, AND equals the single global sketch
      bit-for-bit (the lossless-merge law). Sketch blobs are KB-sized;
      estimates are a bounded driver computation like the centroid
      collects.
    """
    null_l = F.lit(None).cast("long")
    null_s = F.lit(None).cast("string")
    prof = q_profile_docs(spark, sf_dir).select(
        F.lit("profile").alias("method"),
        F.col("column").alias("key_a"),
        null_s.alias("key_b"),
        F.col("n_rows").cast("long").alias("v1"),
        F.col("n_nulls").cast("long").alias("v2"),
        F.col("n_distinct").cast("long").alias("v3"),
        F.col("min_value").alias("lo"),
        F.col("max_value").alias("hi"),
        F.lit(True).alias("ok"),
    )
    hll = q_hll_daily_union(spark, sf_dir).select(
        F.lit("hll_union").alias("method"),
        F.col("event_type").alias("key_a"),
        null_s.alias("key_b"),
        F.col("exact_distinct").cast("long").alias("v1"),
        null_l.alias("v2"),
        null_l.alias("v3"),
        null_s.alias("lo"),
        null_s.alias("hi"),
        F.col("within_bound").alias("ok"),
    )
    theta = q_theta_audience_overlap(spark, sf_dir).select(
        F.lit("theta_overlap").alias("method"),
        F.col("type_a").alias("key_a"),
        F.col("type_b").alias("key_b"),
        F.col("exact_common").cast("long").alias("v1"),
        null_l.alias("v2"),
        null_l.alias("v3"),
        null_s.alias("lo"),
        null_s.alias("hi"),
        F.col("within_bound").alias("ok"),
    )
    kll = q_kll_rolling_quantiles(spark, sf_dir).select(
        F.lit("kll_quantile").alias("method"),
        F.col("event_type").alias("key_a"),
        F.col("stat").alias("key_b"),
        null_l.alias("v1"),
        null_l.alias("v2"),
        null_l.alias("v3"),
        null_s.alias("lo"),
        null_s.alias("hi"),
        F.col("rank_ok").alias("ok"),
    )

    from ..operators.sketches import _cms_merge_blobs, build_cms_sketches

    events = read_fixture(spark, sf_dir, "events")
    days = events.withColumn("day", F.to_date("ts"))
    per_day = build_cms_sketches(days, ["day"], "event_type", eps=0.001)
    global_sk = build_cms_sketches(events, [], "event_type", eps=0.001)
    # ONE driver job for all three driver-sized aggregates (true counts +
    # both sketch sets ride one union; the three aggregations execute
    # concurrently) instead of three sequential collect jobs; the blob
    # merge uses the numpy counter-sum pinned byte-equal to the JVM
    # mergeInPlace chain (tests/test_approx.py), then one readFrom for
    # the point queries — identical estimates (integer counter sums are
    # order-independent).
    null_b = F.lit(None).cast("binary")
    null_cnt = F.lit(None).cast("long")
    stat_rows = (
        per_day.select(
            F.lit("day").alias("__t"), null_s.alias("__k"),
            F.col("cms").alias("__b"), null_cnt.alias("__n"),
        )
        .unionByName(
            global_sk.select(
                F.lit("g").alias("__t"), null_s.alias("__k"),
                F.col("cms").alias("__b"), null_cnt.alias("__n"),
            )
        )
        .unionByName(
            events.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.lit("t").alias("__t"), F.col("event_type").alias("__k"),
                null_b.alias("__b"), F.col("n").alias("__n"),
            )
        )
        .collect()
    )
    true = {r["__k"]: r["__n"] for r in stat_rows if r["__t"] == "t"}
    n_total = sum(true.values())
    keys = sorted(true)

    def _estimates(blobs):
        if not blobs:
            return {k: 0 for k in keys}
        sk = spark._jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
            bytearray(_cms_merge_blobs(blobs))
        )
        return {k: int(sk.estimateCount(k)) for k in keys}

    est_m = _estimates([r["__b"] for r in stat_rows if r["__t"] == "day"])
    est_g = _estimates([r["__b"] for r in stat_rows if r["__t"] == "g"])
    cms = spark.createDataFrame(
        [
            (
                k,
                int(true[k]),
                bool(
                    est_m[k] >= true[k]
                    and est_m[k] <= true[k] + 0.001 * n_total + 1
                    and est_m[k] == est_g[k]
                ),
            )
            for k in keys
        ],
        "key_a string, v1 long, ok boolean",
    ).select(
        F.lit("cms").alias("method"),
        "key_a",
        null_s.alias("key_b"),
        "v1",
        null_l.alias("v2"),
        null_l.alias("v3"),
        null_s.alias("lo"),
        null_s.alias("hi"),
        "ok",
    )
    return prof.unionByName(hll).unionByName(theta).unionByName(kll).unionByName(cms)


# ---------------------------------------------------------------------------
# exact repeated-passage detection (operators/passages.py) — substring-level
# dedup: the span signal whole-document near-dup (LSH) cannot see.
# ---------------------------------------------------------------------------

_PASSAGES_ORACLE = """
WITH w AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(trim(text), '\\s+'),
                       x -> x <> '') AS ws
    FROM documents
), n AS (
    SELECT doc_id, ws, len(ws) AS n FROM w WHERE len(ws) >= 8
), sh AS (
    SELECT doc_id, u.i AS pos,
           array_to_string(list_slice(ws, u.i + 1, u.i + 8), ' ') AS sg
    FROM n, unnest(range(0, n - 7)) AS u(i)
), rep AS (
    SELECT sg FROM sh GROUP BY sg HAVING count(DISTINCT doc_id) >= 2
), m AS (
    SELECT s.doc_id, s.pos, (r.sg IS NOT NULL) AS rep
    FROM sh s LEFT JOIN rep r ON s.sg = r.sg
), isl AS (
    SELECT doc_id, pos,
           pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
    FROM m WHERE rep
)
SELECT 'stats' AS kind, doc_id,
       CAST(count(*) AS BIGINT) AS v1,
       CAST(sum(CASE WHEN rep THEN 1 ELSE 0 END) AS BIGINT) AS v2
FROM m GROUP BY doc_id
UNION ALL
SELECT 'span', doc_id, CAST(min(pos) AS BIGINT), CAST(max(pos) + 7 AS BIGINT)
FROM isl GROUP BY doc_id, grp
"""


@register("repeated_passages", _PASSAGES_ORACLE)
def q_repeated_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-passage detection over the corpus (8-token
    windows, repeated = present in ≥2 distinct docs), `kind`-tagged:

    - 'stats' rows: per doc, total window count (v1) and how many sit
      inside cross-doc repeats (v2).
    - 'span' rows: maximal repeated passages as inclusive word-index
      intervals (v1=start, v2=end) — consecutive repeated windows merged
      via the gaps-and-islands window, so each passage reports once.

    Adjudicated with string shingle keys (DuckDB has no xxhash64); the
    production ``hashed=True`` path (8-byte shuffle keys) is pinned
    output-identical in tests/test_passages.py. See operators/passages
    for the 100 TB shuffle design."""
    from ..operators.passages import repeated_passages

    docs = read_fixture(spark, sf_dir, "documents")
    out = repeated_passages(docs, k=8, min_docs=2, hashed=False)
    stats = out["stats"].select(
        F.lit("stats").alias("kind"),
        F.col("id").alias("doc_id"),
        F.col("n_shingles").cast("long").alias("v1"),
        F.col("n_repeated").cast("long").alias("v2"),
    )
    spans = out["spans"].select(
        F.lit("span").alias("kind"),
        F.col("id").alias("doc_id"),
        F.col("start_word").cast("long").alias("v1"),
        F.col("end_word").cast("long").alias("v2"),
    )
    return stats.unionByName(spans)


# ---------------------------------------------------------------------------
# ordered-event funnel (conversion analysis)
# ---------------------------------------------------------------------------

_RETENTION_PERIOD_S = 7 * 86_400  # weekly cohorts

_FUNNEL_ORACLE = f"""
WITH s1 AS (
    SELECT user_id, min(ts) AS ts1 FROM events
    WHERE event_type = 'view' AND ts IS NOT NULL GROUP BY 1
), s2 AS (
    SELECT e.user_id, min(e.ts) AS ts2
    FROM events e JOIN s1 USING (user_id)
    WHERE e.event_type = 'click' AND e.ts > s1.ts1 GROUP BY 1
), s3 AS (
    SELECT e.user_id, min(e.ts) AS ts3
    FROM events e JOIN s2 USING (user_id)
    WHERE e.event_type = 'purchase' AND e.ts > s2.ts2 GROUP BY 1
), act AS (
    SELECT DISTINCT user_id,
           CAST(floor(floor(epoch(ts)) / {_RETENTION_PERIOD_S})
                * {_RETENTION_PERIOD_S} AS BIGINT) AS p
    FROM events
), firsts AS (
    SELECT user_id, min(p) AS cohort FROM act GROUP BY 1
), sizes AS (
    SELECT cohort, count(*) AS n_cohort FROM firsts GROUP BY 1
), rel AS (
    SELECT DISTINCT f.cohort,
           CAST((a.p - f.cohort) / {_RETENTION_PERIOD_S} AS BIGINT) AS period,
           a.user_id
    FROM act a JOIN firsts f USING (user_id)
    WHERE (a.p - f.cohort) / {_RETENTION_PERIOD_S} <= 12
)
SELECT 'funnel' AS method, s1.user_id AS id,
       CAST(floor(epoch(s1.ts1)) AS BIGINT) AS v1,
       CAST(floor(epoch(s2.ts2)) AS BIGINT) AS v2,
       CAST(floor(epoch(s3.ts3)) AS BIGINT) AS v3,
       CAST(1 + CASE WHEN s2.ts2 IS NULL THEN 0 ELSE 1 END
              + CASE WHEN s3.ts3 IS NULL THEN 0 ELSE 1 END AS BIGINT) AS v4
FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
UNION ALL
SELECT 'retention', r.cohort, r.period, count(*), s.n_cohort, NULL
FROM rel r JOIN sizes s USING (cohort)
GROUP BY r.cohort, r.period, s.n_cohort
UNION ALL
SELECT 'resample', f.user_id, f.b,
       CAST(round(f.v * 1000000) AS BIGINT), NULL, NULL
FROM (
    WITH obs AS (
        SELECT user_id,
               CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT) AS b,
               epoch(ts) AS e, value
        FROM events
    ), pb AS (
        SELECT user_id, b, max({{'e': e, 'v': value}}) AS w
        FROM obs GROUP BY user_id, b
    ), bounds AS (
        SELECT user_id, min(b) AS lo, max(b) AS hi FROM obs GROUP BY user_id
    ), grid AS (
        SELECT user_id, unnest(range(lo, hi + 86400, 86400)) AS b FROM bounds
    )
    SELECT g.user_id, g.b,
           last_value((p.w).v IGNORE NULLS) OVER (
               PARTITION BY g.user_id ORDER BY g.b
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
    FROM grid g LEFT JOIN pb p ON g.user_id = p.user_id AND g.b = p.b
) f
"""


@register("funnel_events", _FUNNEL_ORACLE)
def q_funnel_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event analytics over the events stream, method-tagged (one slot
    adjudicates both operators):

    - 'funnel' rows: view → click → purchase, per-user earliest
      STRICTLY-ordered chain (t_i = min step-i time after t_{i-1}),
      cohort = users who viewed; v1-v3 = step epochs, v4 = depth. The
      oracle recomputes the chain with correlated min-joins — the
      blocked per-step min-aggregation plan is adjudicated against the
      declarative definition.
    - 'retention' rows: weekly cohort retention
      (`operators.funnel.cohort_retention`): id = cohort period, v1 =
      relative period, v2 = distinct active users, v3 = cohort size
      (v4 NULL; the retention ratio is v2/v3, not exported — engine
      float division stays out of the hash).
    - 'resample' rows: `operators.timeseries.resample_ffill` on a daily
      grid per user — id = user, v1 = grid epoch, v2 = forward-filled
      `value` in integer micro-units (the value is CARRIED, not
      computed: both engines multiply the identical parquet double by
      1e6 once, so the quantization is bit-stable). The oracle rebuilds
      the grid + latest-in-bucket struct-max + IGNORE-NULLS window fill
      declaratively.

    Epochs as floor()'d integer seconds — exact on both engines."""
    from ..operators.funnel import cohort_retention, funnel_steps
    from ..operators.timeseries import resample_ffill

    events = read_fixture(spark, sf_dir, "events")
    funnel = funnel_steps(events, ["view", "click", "purchase"]).select(
        F.lit("funnel").alias("method"),
        F.col("user_id").alias("id"),
        F.unix_timestamp("t_1").alias("v1"),
        F.unix_timestamp("t_2").alias("v2"),
        F.unix_timestamp("t_3").alias("v3"),
        F.col("depth").cast("long").alias("v4"),
    )
    retention = cohort_retention(
        events, period_s=_RETENTION_PERIOD_S, max_periods=12
    ).select(
        F.lit("retention").alias("method"),
        F.col("cohort").alias("id"),
        F.col("period").cast("long").alias("v1"),
        F.col("n_active").alias("v2"),
        F.col("n_cohort").alias("v3"),
        F.lit(None).cast("long").alias("v4"),
    )
    resample = resample_ffill(
        events, "user_id", "ts", ["value"], step_s=86_400
    ).select(
        F.lit("resample").alias("method"),
        F.col("user_id").alias("id"),
        F.unix_timestamp("grid_ts").alias("v1"),
        F.round(F.col("value") * 1e6).cast("long").alias("v2"),
        F.lit(None).cast("long").alias("v3"),
        F.lit(None).cast("long").alias("v4"),
    )
    return funnel.unionByName(retention).unionByName(resample)
