"""Train/eval n-gram contamination detection (decontamination).

The standard LLM-pipeline integrity check (the n-gram-overlap family used
since GPT-3's 13-gram dedup of eval sets, Brown et al. 2020 App. C): for
every EVAL document, count how many of its distinct word n-grams occur
anywhere in the TRAIN corpus. Downstream policy (drop the doc, strike the
overlapping spans, or just report) consumes the per-doc counts; this
operator computes the counts exactly.

Pairs with ``operators.sampling.deterministic_split``: because split
assignment is append-stable there, contamination found here can only come
from genuine content overlap, never from split churn between runs.

Scale design (100 TB):

- Train grams are ``distinct``-ed then reduced to 64-bit ``xxhash64``
  longs BEFORE the join — the shuffle ships 8-byte keys, never gram
  strings (at n=8+ a gram is ~50-100 bytes; hashing cuts the dominant
  shuffle ~10x). String equality is replaced by hash equality: a false
  hit needs an xxhash64 collision between a train gram and an eval gram
  (~|grams|²/2⁶⁴ expected — negligible below ~10¹⁸ grams; use the
  verbatim-gram variant if exactness at that scale is required).
- The join key is a uniform hash → no skew by construction; hot NATURAL
  grams (stopword runs) collapse in the train-side ``distinct`` to one
  row each, so posting-list blowup cannot occur.
- Output is one row per eval doc: counts aggregate with map-side
  partial aggregation on the eval id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import word_ngrams


def ngram_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Per eval document: (doc_id, n_ngrams, n_contaminated).

    ``n_ngrams`` counts the doc's DISTINCT word n-grams (lowercased,
    whitespace-tokenized — same canonicalization as the dedup family);
    ``n_contaminated`` counts how many of those occur in any train doc.
    Docs with fewer than ``n`` words emit (0, 0) — present in the output,
    trivially uncontaminated.
    """
    from ..functions.text import _word_gram_sql, quote_ident

    # ONE WITH-CTE statement = one parse/analysis (each DataFrame op on
    # these gram-explode plans costs ~20-45 ms of driver time — the r12
    # pagerank finding applied to the whole gram family)
    grams = _word_gram_sql(quote_ident(text_col), n)
    sql = (
        "WITH tg AS (SELECT DISTINCT xxhash64(gram) AS gh FROM "
        f"(SELECT explode(array_distinct({grams})) AS gram FROM {{train}})),\n"
        "eg AS (SELECT doc_id, "
        # NULL (never-matching) key for the no-grams placeholder row, so
        # short docs survive the left join without a spurious hash hit
        "CASE WHEN gram IS NOT NULL THEN xxhash64(gram) END AS gh FROM "
        f"(SELECT {quote_ident(id_col)} AS doc_id, "
        f"explode_outer(array_distinct({grams})) AS gram FROM {{eval}}))\n"
        "SELECT e.doc_id, "
        "sum(CASE WHEN e.gh IS NOT NULL THEN 1 ELSE 0 END) AS n_ngrams, "
        "sum(CASE WHEN t.__hit THEN 1 ELSE 0 END) AS n_contaminated "
        "FROM eg e LEFT JOIN (SELECT gh, TRUE AS __hit FROM tg) t "
        "ON e.gh = t.gh GROUP BY e.doc_id"
    )
    return train.sparkSession.sql(sql, train=train, eval=eval_df)


def strike_contaminated_spans(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    margin: int = 0,
) -> DataFrame:
    """Decontamination REMOVAL pass — the policy half of
    :func:`ngram_contamination` (the GPT-3 recipe, Brown et al. 2020
    App. C: don't just count eval overlap in train docs, STRIKE it):
    delete from every train document each word window that matches an
    eval n-gram, plus ``margin`` words on each side, and rebuild the
    document from the surviving words.

    Canonicalization contract: BOTH sides tokenize identically — words
    are whitespace tokens of the original text (empty tokens filtered),
    matched CASE-INSENSITIVELY via per-token lowercasing — and the
    surviving text keeps original casing. Rebuilt text joins words with
    single spaces (whitespace runs do not survive — the same convention
    as ``dedup.dedup_sentence_spans``).

    Returns one row per train doc with non-NULL text: (id, text,
    n_words, n_words_struck, n_hits) — ``text`` is the cleaned document
    ('' when every word was struck), ``n_hits`` the number of matching
    gram windows. NULL-text docs are EXCLUDED from the output (the
    family contract — dsir/lm/dedup_sentence_spans all filter
    ``text IS NOT NULL``), never coerced to empty-string documents.

    Scale shape: grams reduce to 8-byte ``xxhash64`` keys before the
    hit join (the ``ngram_contamination`` recipe — the shuffle never
    ships gram strings); each hit expands to exactly n + 2·margin word
    indexes (a bounded explode — no range join); the struck-index set
    anti-joins the word rows; rebuild is one partial-agg'able
    sort-struct collect per doc. No driver participation."""
    from ..functions.text import quote_ident, word_window_array_sql

    id_q, text_q = quote_ident(id_col), quote_ident(text_col)
    # ONE WITH-CTE statement = one parse/analysis (see
    # ngram_contamination). Structure is the r12 DataFrame chain
    # verbatim: tokenize-once projection barriers (__wds/__lw column
    # attributes, never the re-inlined chain — the measured 5-10x
    # gram-explode trap), posexplode ordinal = 0-based gram start,
    # hash-keyed semi join, bounded strike explode, anti-join rebuild.
    gram_hashes = (
        f"transform({word_window_array_sql('__lw', n)}, g -> xxhash64(g))"
    )
    tok = (
        "SELECT __id, __wds, transform(__wds, w -> lower(w)) AS __lw "
        "FROM (SELECT {id} AS __id, "
        "filter(split({text}, '\\\\s+'), w -> w != '') AS __wds "
        "FROM {rel} WHERE {text} IS NOT NULL)"
    )
    sql = (
        "WITH t_tok AS ("
        + tok.format(id=id_q, text=text_q, rel="{train}")
        + "),\ne_tok AS ("
        + tok.format(id=id_q, text=text_q, rel="{eval}")
        + "),\n"
        # train words with positions (original case preserved for rebuild)
        "t_words AS (SELECT __id, i, w FROM t_tok "
        "LATERAL VIEW OUTER posexplode(__wds) pw AS i, w),\n"
        f"t_grams AS (SELECT __id, s, gh FROM t_tok "
        f"LATERAL VIEW posexplode({gram_hashes}) pg AS s, gh),\n"
        f"e_keys AS (SELECT DISTINCT gh FROM e_tok "
        f"LATERAL VIEW explode({gram_hashes}) ge AS gh),\n"
        "hits AS (SELECT t.__id, t.s FROM t_grams t "
        "LEFT SEMI JOIN e_keys e ON t.gh = e.gh),\n"
        f"struck AS (SELECT DISTINCT __id, i FROM hits "
        f"LATERAL VIEW explode(sequence(greatest(s - {margin}, 0), "
        f"s + {n - 1 + margin})) si AS i),\n"
        "kept AS (SELECT tw.__id, tw.i, tw.w FROM t_words tw "
        "LEFT ANTI JOIN struck sk "
        "ON tw.__id = sk.__id AND tw.i = sk.i),\n"
        "n_hits AS (SELECT __id, count(1) AS n_hits FROM hits "
        "GROUP BY __id),\n"
        "rebuilt AS (SELECT __id, "
        "concat_ws(' ', transform(array_sort(collect_list("
        "CASE WHEN i IS NOT NULL THEN struct(i, w) END)), x -> x.w)) "
        "AS __text, "
        "sum(CASE WHEN i IS NOT NULL THEN 1 ELSE 0 END) AS n_kept "
        "FROM kept GROUP BY __id)\n"
        # anchor on the train-id universe: a fully-struck doc has NO
        # kept rows and would otherwise vanish instead of returning ''
        f"SELECT b.__id AS {id_q}, "
        f"coalesce(r.__text, '') AS {text_q}, b.n_words, "
        "b.n_words - coalesce(r.n_kept, 0) AS n_words_struck, "
        "CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits "
        "FROM (SELECT __id, CAST(size(__wds) AS BIGINT) AS n_words "
        "FROM t_tok) b "
        "LEFT JOIN rebuilt r ON b.__id = r.__id "
        "LEFT JOIN n_hits h ON b.__id = h.__id"
    )
    return train.sparkSession.sql(sql, train=train, eval=eval_df)
