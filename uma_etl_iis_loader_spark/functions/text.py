"""Text kit: search-text assembly + tokenizer (SURVEY.md §2.9 / X10) and the
text-analysis extensions (language-ID heuristic, quality scoring, token
counting, fingerprinting) for large-scale training-data pipelines.

Everything here is built-in `pyspark.sql.functions` — JVM-side, codegen'd,
no Python in the hot path — so it scales linearly with executors at 100 TB.

The reference's TSVECTOR (`to_tsvector('russian', ...)`,
`iis_etl/logic.py:394-404`) maps to `search_text` + `tokenize`; query-side
matching is `arrays_overlap(search_tokens, tokenize(query))`.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — resolves pandas_udf type annotations
from pyspark.sql import Column
from pyspark.sql import functions as F

# \p{N} (all Unicode numbers), NOT \p{Nd}: the DuckDB oracle's RE2 class
# is \p{N}, and a No/Nl character ('²', 'Ⅻ') must tokenize identically
# in both engines
_NONWORD = r"[^\p{L}\p{N}]+"
# ASCII-only variant used when the oracle must reproduce it (DuckDB's \w is
# not unicode-aware in the same way)
_NONWORD_ASCII = "[^a-z0-9]+"


def search_text(*parts: Column) -> Column:
    """Space-joined concat of text parts, skipping NULLs (X10,
    iis_etl/logic.py:344-348). Array parts should be pre-joined with
    `array_join(col, ' ')` by the caller."""
    return F.concat_ws(" ", *parts)


def tokenize(col: Column | str, ascii_only: bool = False) -> Column:
    """lowercase → split on non-word runs → drop empties → dedup → sort.

    Deterministic replacement for tsvector's lexeme set (no stemming —
    documented deviation, SURVEY.md §2.9).
    """
    c = F.col(col) if isinstance(col, str) else col
    pat = _NONWORD_ASCII if ascii_only else _NONWORD
    toks = F.split(F.lower(c), pat)
    toks = F.filter(toks, lambda x: x != "")
    return F.array_sort(F.array_distinct(toks))


# Russian light stemmer: one longest-match suffix strip from an ordered
# alternation (longest alternatives first), with a ≥3-char stem guard and
# ё→е pre-normalization — the light-stemmer approach of Savoy & Dolamic
# (CLEF Russian ad-hoc work; also the shape of Lucene's
# RussianLightStemmer), covering the noun/adjective case system that
# dominates schedule text, PLUS the Snowball verb passes where they are
# regex-expressible:
#   - branch 1 replicates Snowball's "preceded by а/я" group-1
#     verb/gerund endings WITHOUT lookbehind: the а/я is captured in a
#     second group and re-emitted by the `$1$2` replacement (an
#     unmatched group renders empty in both Java regex and RE2).
#   - branch 2 carries the noun/adjective alternation plus Snowball's
#     unconditional group-2 verb endings (ила/ыла/…/ен/ит/ят).
# Divergence from the full to_tsvector('russian') Snowball dictionary
# (`iis_etl/logic.py:394-404`) is MEASURED, not guessed:
# tests/test_text.py checks token-level agreement against a pure-Python
# reference implementation of the published algorithm
# (tests/snowball_ru_reference.py) on a golden paradigm corpus AND on a
# generated stem×ending stress corpus (≥4k tokens) — see COVERAGE.md for
# the current numbers. The single-suffix strip is followed by the
# regex-expressible Snowball tail passes (below): reflexive pre-strip,
# the step-2 и removal, the R2-gated -ость/-ост derivational pass, the
# superlative pass, and нн-undoubling. Remaining deviation: the ≥3-char
# stem guard on the MAIN pattern (deliberate precision device Snowball
# lacks — visible only on 1-2 char stems).
# Engine-portable (Java regex AND RE2): lazy-prefix `.{2,}?`/`.{3,}?`
# fixes the split position (both engines try shortest prefix = longest
# suffix first), no lookarounds, no backreferences in the match.
RU_STEM_PATTERN = (
    r"^(?:"
    r"(.{2,}?[ая])(?:вшись|вши|ешь|ете|йте|нно|ть|ют|ет|ем|ли|ла|ло|на|но|ны|й|л|н|в)"
    r"|(.{3,}?)(?:"
    r"ившись|ывшись|ивши|ывши|"
    r"иями|ьями|иях|ьях|иям|ьям|ями|ами|ией|ием|его|ого|ему|ому|ыми|ими|"
    r"ила|ыла|или|ыли|ило|ыло|ена|ено|ены|ишь|ить|ыть|ует|уют|"
    r"ах|ях|ам|ям|ов|ев|ой|ей|ый|ий|ая|яя|ую|юю|ое|ее|ие|ые|"
    r"ом|ем|им|ым|их|ых|ою|ею|ия|ья|ью|ии|ию|"
    r"ен|ил|ыл|ит|ят|ив|ыв|"
    r"а|я|о|е|и|й|ы|у|ю|ь"
    r"))$"
)

# replacement emitting whichever branch's stem group participated
RU_STEM_REPLACEMENT_JAVA = "$1$2"
RU_STEM_REPLACEMENT_RE2 = r"\1\2"

# Snowball tail passes, each a single engine-portable regex (RV = the
# ending lies after the word's first vowel ⟺ the kept prefix contains a
# vowel; R2 = the ending starts after the second vowel→consonant
# transition ⟺ the kept prefix completes two such transitions):
#   reflexive ся/сь BEFORE the main strip (Snowball removes it first,
#   then runs the adjectival/verb/noun step on the remainder);
#   step-2 terminal и, the R2-gated derivational -ость/-ост, the
#   superlative -ейше/-ейш, and нн → н — AFTER the main strip, in
#   Snowball's step order.
RU_REFLEX_PATTERN = r"^(.*?[аеиоуыэюя].*?)(?:ся|сь)$"
RU_I_PATTERN = r"^(.*?[аеиоуыэюя].*?)и$"
RU_DERIV_PATTERN = r"^((?:.*?[аеиоуыэюя][^аеиоуыэюя]){2}.*?)(?:ость|ост)$"
RU_SUPER_PATTERN = r"^(.*?[аеиоуыэюя].*?)(?:ейше|ейш)$"
RU_NN_PATTERN = r"^(.*н)н$"

# (pattern, needs-$2) chain applied in order by ru_light_stem and
# replayed identically (RE2 \1 replacements) by the DuckDB oracle
RU_STEM_CHAIN = (
    (RU_REFLEX_PATTERN, False),
    (RU_STEM_PATTERN, True),
    (RU_I_PATTERN, False),
    (RU_DERIV_PATTERN, False),
    (RU_SUPER_PATTERN, False),
    (RU_NN_PATTERN, False),
)


def ru_light_stem(col: Column | str) -> Column:
    """Stem one lowercase Russian token (JVM-side regexp chain, no UDF).
    Non-Cyrillic tokens pass through unchanged (the suffix alternatives
    are all Cyrillic)."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.regexp_replace(c, "ё", "е")
    for pattern, two_groups in RU_STEM_CHAIN:
        out = F.regexp_replace(
            out, pattern, RU_STEM_REPLACEMENT_JAVA if two_groups else "$1"
        )
    return out


def tokenize_stemmed(col: Column | str) -> Column:
    """`tokenize` + per-token Russian light stem, re-deduped and
    re-sorted (distinct inflections collapse to one lexeme — the
    tsvector-like behavior the raw-token path lacks)."""
    toks = tokenize(col, ascii_only=False)
    return F.array_sort(F.array_distinct(F.transform(toks, ru_light_stem)))


def token_count(col: Column | str) -> Column:
    """Whitespace token count (fast path for budget/quality filters)."""
    c = F.col(col) if isinstance(col, str) else col
    trimmed = F.trim(c)
    return F.when(trimmed == "", F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )


def distinct_word_count(col: Column | str) -> Column:
    """Distinct lowercased whitespace-token count. With token_count this
    gives the type-token ratio — the repetition signal of the
    MassiveText/Gopher quality rules (a low distinct/total ratio marks
    boilerplate and keyword-stuffed documents)."""
    c = F.col(col) if isinstance(col, str) else col
    trimmed = F.trim(F.lower(c))
    return F.when(trimmed == "", F.lit(0)).otherwise(
        F.size(F.array_distinct(F.split(trimmed, r"\s+")))
    )


def _sql_str_lit(s: str) -> str:
    """A Python string as a Spark SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def word_window_array_sql(words_sql: str, n: int, sep: str = " ") -> str:
    """The n-word-window builder as ONE SQL expression string over a
    SQL array expression — construction cost is one ``F.expr`` py4j
    round trip instead of the ~40 the Column form pays (measured
    80 ms → 0.5 ms per call; the gram-heavy queries build dozens).
    Semantics identical to the Column form below."""
    cnt = f"(size({words_sql}) - {n - 1})"
    slices = ", ".join(
        f"slice({words_sql}, {i + 1}, {cnt})" for i in range(n)
    )
    fields = ", ".join(f"x['{i}']" for i in range(n))
    return (
        f"CASE WHEN {cnt} >= 1 THEN "
        f"transform(arrays_zip({slices}), "
        f"x -> concat_ws({_sql_str_lit(sep)}, {fields})) "
        f"ELSE CAST(array() AS array<string>) END"
    )


def word_window_array(words: Column | str, n: int, sep: str = " ") -> Column:
    """``sep``-joined n-word windows, in order, over an ARRAY column —
    the ONE window builder the whole gram family shares (word_ngrams /
    top_ngram_count here, operators/repetition, operators/contamination,
    operators/dsir). Empty when the array has < n elements. A ``str``
    input is a SQL array expression and routes through the one-call
    ``word_window_array_sql`` fast path.

    Built from n TOP-LEVEL slices zipped elementwise — never a
    per-index slice inside the transform lambda, where the (loop-
    invariant) array expression would re-evaluate once per element:
    HOF lambdas defeat common-subexpression elimination, which made
    gram construction quadratic in words-per-doc (measured 5-10x on
    sf0.1 explodes)."""
    if isinstance(words, str):
        return F.expr(word_window_array_sql(words, n, sep))
    cnt = F.size(words) - (n - 1)
    zipped = F.arrays_zip(
        *[F.slice(words, i + 1, cnt).alias(f"c{i}") for i in range(n)]
    )
    return F.when(
        cnt >= 1,
        F.transform(
            zipped,
            lambda x: F.concat_ws(sep, *[x[f"c{i}"] for i in range(n)]),
        ),
    ).otherwise(F.array().cast("array<string>"))


def quote_ident(name: str) -> str:
    """A column name as a SQL identifier: wrapped in backticks, any
    inner backtick doubled, so names with spaces, dots or backticks
    survive being put into a SQL string."""
    return "`" + name.replace("`", "``") + "`"


def words_sql(src_sql: str) -> str:
    """The gram family's shared tokenization as a SQL expression string:
    lowercased whitespace tokens, empty tokens filtered."""
    return f"filter(split(lower({src_sql}), '\\\\s+'), w -> w != '')"


def _word_gram_sql(src_sql: str, n: int) -> str:
    """NON-distinct word n-grams (document order) as one SQL string."""
    return word_window_array_sql(words_sql(src_sql), n)


def _word_gram_array(col: Column | str, n: int) -> Column:
    """NON-distinct word n-grams in document order (lowercased,
    whitespace-tokenized, EMPTY tokens filtered — split emits '' at
    whitespace edges and [''] for empty text; filtering keeps this
    tokenization identical to the gopher/dsir/strike family, so the
    detection and removal halves of decontamination see the same
    windows). Shared gram construction for word_ngrams /
    top_ngram_count so tokenization changes happen in one place. A doc
    with fewer than n words has NO n-grams. ``str`` input = SQL
    expression, one-call construction."""
    if isinstance(col, str):
        return F.expr(_word_gram_sql(col, n))
    words = F.filter(F.split(F.lower(col), r"\s+"), lambda w: w != "")
    return word_window_array(words, n)


def top_ngram_count(col: Column | str, n: int = 2) -> Column:
    """Occurrence count of the document's most frequent word n-gram
    (NON-distinct grams — repeats are the point). count × n / total_words
    is Gopher's "fraction of words in the top n-gram" repetition filter.
    Sort the gram array and take the longest run of equal adjacent
    elements — O(T log T) per doc (the distinct×total nested-filter form
    is quadratic: a single 100k-word doc would do ~10¹⁰ comparisons
    inside ONE row with no intra-row parallelism). Still a pure array
    expression: no explode, no shuffle, zero-exchange scan shape."""
    if isinstance(col, str):
        # one-call construction (SQL string); CASE/IF equivalence with
        # the Column form's when/otherwise is exact
        step = "IF(x = acc.prev, acc.run + 1, 1)"
        return F.expr(
            f"aggregate(array_sort({_word_gram_sql(col, n)}), "
            f"named_struct('prev', '', 'run', 0, 'best', 0), "
            f"(acc, x) -> named_struct('prev', x, 'run', {step}, "
            f"'best', greatest(acc.best, {step})), "
            f"acc -> acc.best)"
        )
    grams = F.array_sort(_word_gram_array(col, n))
    run = F.aggregate(
        grams,
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    return run


# GPT-2-style pre-tokenizer, minus lookahead (RE2/DuckDB-compatible so the
# oracle can run the SAME pattern): contraction suffixes, space-prefixed
# letter runs, digit runs, punctuation runs.
BPE_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+"


def bpe_token_count(col: Column | str) -> Column:
    """BPE-ish token count: number of pre-tokenizer matches — the budget
    estimate that tracks real tokenizer counts far better than whitespace
    splitting on punctuation-heavy or CJK-adjacent text."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(BPE_PATTERN))


def char_ngrams(col: Column | str, n: int = 3) -> Column:
    """Distinct character n-grams of the lowercased string — the shingle
    set for MinHash / Jaccard dedup. Pure built-ins: substring over a
    generated offset sequence."""
    c = F.lower(F.col(col) if isinstance(col, str) else col)
    idx = F.sequence(F.lit(1), F.greatest(F.length(c) - (n - 1), F.lit(0)))
    grams = F.transform(idx, lambda i: F.substring(c, F.lit(0) + i, n))
    return F.array_distinct(grams)


def word_ngrams(col: Column | str, n: int = 2) -> Column:
    """Distinct word n-grams (whitespace tokens, lowercased)."""
    if isinstance(col, str):
        return F.expr(f"array_distinct({_word_gram_sql(col, n)})")
    return F.array_distinct(_word_gram_array(col, n))


def quality_score(col: Column | str) -> Column:
    """Heuristic document quality in [0,1]: blend of length saturation,
    alpha ratio, and mean-word-length sanity. Deterministic, JVM-only."""
    c = F.col(col) if isinstance(col, str) else col
    length = F.length(c).cast("double")
    alpha = F.length(F.regexp_replace(c, r"[^A-Za-z]", "")).cast("double")
    words = F.size(F.split(F.trim(c), r"\s+")).cast("double")
    alpha_ratio = F.when(length > 0, alpha / length).otherwise(F.lit(0.0))
    len_sat = F.least(length / F.lit(1000.0), F.lit(1.0))
    mean_wlen = F.when(words > 0, length / words).otherwise(F.lit(0.0))
    wlen_ok = F.when((mean_wlen >= 3) & (mean_wlen <= 12), F.lit(1.0)).otherwise(
        F.lit(0.5)
    )
    return F.round(
        F.lit(0.4) * alpha_ratio + F.lit(0.3) * len_sat + F.lit(0.3) * wlen_ok, 6
    )


# tiny per-language stopword markers for the n-gram language heuristic
_LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "les", "et", "des"],
    "es": ["el", "la", "los", "que", "de"],
}


def lang_id(col: Column | str) -> Column:
    """Heuristic language ID: CJK codepoint share → 'zh'; else the language
    whose marker stopwords hit most; ties/none → 'en'. A real pipeline slots
    a model here — the operator shape (pure column expr, no shuffle) is what
    matters at scale."""
    c = F.col(col) if isinstance(col, str) else col
    toks = F.split(F.lower(c), "[^a-z]+")
    cjk = F.length(F.regexp_replace(c, r"[^\x{4e00}-\x{9fff}]", ""))
    def marker_hits(markers: list[str]):
        # closure factory: a default-arg lambda would look binary to Spark's
        # higher-order-function arity sniffing (element, index)
        return F.size(F.filter(toks, lambda x: x.isin(*markers)))

    scores = {lang: marker_hits(m) for lang, m in _LANG_MARKERS.items()}
    best = F.lit("en")
    best_score = scores["en"]
    for lang in ("de", "fr", "es"):
        better = scores[lang] > best_score
        best = F.when(better, F.lit(lang)).otherwise(best)
        best_score = F.when(better, scores[lang]).otherwise(best_score)
    return F.when(cjk * 4 > F.length(c), F.lit("zh")).otherwise(best)


def fingerprint(col: Column | str) -> Column:
    """Canonical-form document fingerprint: lowercase, collapse whitespace,
    strip punctuation, md5. Stable across engines (md5 exists in DuckDB) —
    the exact-dedup key for 100 TB corpora."""
    c = F.col(col) if isinstance(col, str) else col
    canon = F.trim(F.regexp_replace(F.lower(c), r"[^a-z0-9]+", " "))
    return F.md5(canon)


def simhash64(col: Column | str, gram_n: int = 2) -> Column:
    """64-bit SimHash over distinct word n-grams (default bigrams — unigram
    signatures collide wholesale on shared-vocabulary corpora) using
    xxhash64 as the feature hash. Majority vote per bit via bit arithmetic
    in higher-order functions — no UDF, fully distributed."""
    c = F.col(col) if isinstance(col, str) else col
    toks = (
        word_ngrams(c, gram_n)
        if gram_n > 1
        else F.array_distinct(F.filter(F.split(F.lower(c), r"\s+"), lambda x: x != ""))
    )
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    n = F.size(toks)

    # one fold over tokens carrying 64 bit-counters (a per-bit filter pass
    # would scan the token array 64 times and blow up the expression tree)
    masks = F.array(
        *[
            F.lit((1 << i) if i < 63 else (1 << 63) - 2**64).cast("long")
            for i in range(64)
        ]
    )
    counts = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda a, m: a + F.when(h.bitwiseAND(m) != 0, 1).otherwise(0),
        ),
    )
    votes = F.zip_with(
        counts,
        masks,
        lambda c, m: F.when(c * 2 > n, m).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(
        votes, F.lit(0).cast("long"), lambda acc, x: acc.bitwiseOR(x)
    )


def winnow_fingerprints(k: int = 5, window: int = 4):
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03): Rabin-Karp ROLLING hash over k-grams of the canonicalized
    text, then the minimum hash per sliding window of ``window`` hashes
    (rightmost-min tie-break) — the classic local fingerprinting scheme
    whose selected hashes are position-robust: any match of length ≥
    k+window-1 between two documents shares at least one fingerprint.

    Returns an Arrow-batched pandas UDF: text → array<bigint> of sorted
    distinct selected hashes. Vectorized numpy (the rolling hash is a
    single cumulative multiply-add per document, the window minima one
    sliding-window argmin) — per-row interpreted hashing would be the
    slow path at corpus scale.
    """
    import numpy as np

    base = np.uint64(1000003)  # polynomial base; arithmetic wraps mod 2^64

    @F.pandas_udf("array<bigint>")
    def winnow(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            s = " ".join((t or "").lower().split())
            if len(s) < k:
                out.append(np.array([], dtype=np.int64))
                continue
            b = np.frombuffer(s.encode("utf-8"), dtype=np.uint8)
            # decode width varies with utf-8; hash over BYTES of the
            # canonical form — deterministic and alphabet-agnostic
            n = len(b) - k + 1
            if n <= 0:
                out.append(np.array([], dtype=np.int64))
                continue
            powers = base ** np.arange(k - 1, -1, -1, dtype=np.uint64)
            # windowed dot product ≡ the rolling recurrence mod 2^64
            # (k multiply-adds per position, one vectorized matmul per
            # doc — no per-byte Python loop)
            hashes = (
                np.lib.stride_tricks.sliding_window_view(b, k).astype(np.uint64)
                @ powers
            )
            if n <= window:
                sel = np.array([hashes.min()], dtype=np.uint64)
            else:
                m = np.lib.stride_tricks.sliding_window_view(hashes, window)
                # rightmost minimum per window (the paper's tie rule)
                sel = m[np.arange(len(m)),
                        window - 1 - np.argmin(m[:, ::-1], axis=1)]
            out.append(np.unique(sel).astype(np.int64))
        return pd.Series(out)

    return winnow


# --- PII scrubbing (curation surface) -----------------------------------
# RE2-compatible patterns (no lookbehind) so the same regexes run in any
# engine an oracle might use. Deliberately high-recall / low-precision —
# curation pipelines scrub aggressively and keep the counts as signals.
PII_PATTERNS: dict[str, str] = {
    # local@domain.tld (word chars, dots, +, - in local part)
    "email": r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}",
    # http(s)://... or www.-prefixed
    "url": r"(?:https?://|www\.)[^\s]+",
    # dotted-quad IPv4
    "ip": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    # phone-ish: optional +CC, then 7+ digits with separators
    "phone": r"\+?\d[\d\-\s().]{6,}\d",
}

# replacement order matters: emails before phones (a phone regex would
# otherwise eat digit runs inside already-tagged tokens), urls before ips
# (hosts can be dotted quads)
_PII_ORDER = ["email", "url", "ip", "phone"]


def pii_counts(col: Column | str) -> Column:
    """Struct of per-category PII match counts — the reporting face
    (schema: email/url/ip/phone ints). Each category is counted on the
    text with earlier categories already redacted, so the counts are
    exactly what redact_pii tags (a dotted-quad inside a URL counts as
    the URL, not as an extra IP; an IP's digit runs never double-count
    as a phone). Zero shuffles, JVM regex."""
    c = F.col(col) if isinstance(col, str) else col
    counts = []
    for k in _PII_ORDER:
        counts.append(F.regexp_count(c, F.lit(PII_PATTERNS[k])).alias(k))
        c = F.regexp_replace(c, PII_PATTERNS[k], f"<{k.upper()}>")
    return F.struct(*counts)


def redact_pii(col: Column | str) -> Column:
    """Replace each PII match with a <CATEGORY> tag, applied in a fixed
    order so categories can't partially overwrite each other's tags.
    Chained JVM regexp_replace — narrow, codegen-friendly, no Python."""
    c = F.col(col) if isinstance(col, str) else col
    out = c
    for k in _PII_ORDER:
        out = F.regexp_replace(out, PII_PATTERNS[k], f"<{k.upper()}>")
    return out


# ---------------------------------------------------------------------------
# web-corpus cleaning: HTML boilerplate strip + unicode normalization
# ---------------------------------------------------------------------------

# the entities that actually dominate crawled text; anything rarer passes
# through literally (a conservative, deterministic choice — no external
# entity table). &amp; MUST decode LAST: decoding it earlier would turn
# the escaped-markup sequence '&amp;lt;' into '&lt;' in time for the
# &lt; rule to double-decode it to '<' — text the author explicitly
# escaped would become pseudo-markup.
_HTML_ENTITIES = [
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&apos;", "'"),
    ("&amp;", "&"),
]


def c4_kept_lines(col: Column | str, min_words: int = 3) -> Column:
    """C4 line filter (the public T5/C4 cleaning recipe): keep only
    lines that end in a terminal punctuation mark (``. ! ? "``) and
    contain at least ``min_words`` whitespace-separated words. Returns
    the KEPT-LINE ARRAY (callers take ``size`` for the count and
    ``array_join(…, '\\n')`` for the cleaned text, without recomputing
    the filter). Pure JVM higher-order function over ``split`` — no
    Python, no shuffle, codegen'd linear per byte."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(
        F.split(c, "\n"),
        lambda ln: F.trim(ln).rlike('[.!?"]$')
        & (F.size(F.split(F.trim(ln), r"\s+")) >= min_words),
    )


def c4_sentence_count(col: Column | str) -> Column:
    """Terminal-punctuation count — the deterministic, SQL-matched
    sentence proxy the C4 page gate uses (the paper ran a sentence
    splitter; the count of ``. ! ?`` over the CLEANED text is the same
    signal, exactly reproducible on any engine)."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.length(c) - F.length(F.regexp_replace(c, r"[.!?]", ""))
    ).cast("long")


def c4_page_keep(
    raw: Column | str, cleaned: Column | str, min_sentences: int = 5
) -> Column:
    """C4 page gate: drop any page mentioning "lorem ipsum" (placeholder
    text), containing ``{`` (leaked code), or with fewer than
    ``min_sentences`` sentences after line cleaning. Compose with
    :func:`c4_kept_lines`; the three predicates are the document-level
    half of the public C4 recipe (boilerplate-heavy and code-like pages
    out, prose in)."""
    r = F.col(raw) if isinstance(raw, str) else raw
    return (
        ~F.lower(r).contains("lorem ipsum")
        & ~r.contains("{")
        & (c4_sentence_count(cleaned) >= min_sentences)
    )


def canonicalize_url(col: Column | str) -> Column:
    """Canonical URL key for URL-level dedup — the standard first pass
    before any content dedup (two crawls of one page must collide HERE,
    not survive to MinHash). Deterministic rule chain, all JVM regex /
    higher-order exprs, zero shuffle:

    1. strip the fragment (``#…``);
    2. lowercase scheme and authority (path/query case is significant);
    3. drop explicit default ports (``https…:443``, ``http…:80``);
    4. drop ``utm_*`` tracking params (split/filter/rejoin the query
       string — handles any number of them, unlike chained regex
       deletes which miss adjacent params);
    5. drop a now-empty ``?``.

    NOT done (documented): path normalization (``/a/../b``), percent-
    decoding, param sorting — those change semantics on hostile servers;
    this key under-merges rather than over-merges."""
    c = F.col(col) if isinstance(col, str) else col
    u0 = F.regexp_replace(c, "#.*$", "")
    auth = F.regexp_extract(u0, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", 0)
    rest = u0.substr(F.length(auth) + 1, F.length(u0))
    auth = F.lower(auth)
    auth = F.regexp_replace(auth, "^(https://[^/:]*):443$", "$1")
    auth = F.regexp_replace(auth, "^(http://[^/:]*):80$", "$1")
    u1 = F.concat(auth, rest)
    base = F.regexp_replace(u1, r"\?.*$", "")
    qs = F.regexp_extract(u1, r"\?(.*)$", 1)
    kept = F.filter(
        F.split(qs, "&"), lambda p: ~p.startswith("utm_")
    )
    return F.when(qs == "", u1).otherwise(
        F.when(F.size(kept) == 0, base).otherwise(
            F.concat(base, F.lit("?"), F.array_join(kept, "&"))
        )
    )


_GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_metrics(col: Column | str) -> Column:
    """Gopher/MassiveText quality metrics (the public DeepMind recipe —
    the other canonical corpus filter next to :func:`c4_kept_lines`):
    a STRUCT of per-document signals, each either an exact count or a
    ratio of exact counts quantized to 1e-6 (ratios of integers divide
    identically in IEEE double on every engine, so the quantized values
    are hash-stable cross-engine):

    - ``n_words``, ``mean_wlen_q6`` — word count, mean word length
    - ``alpha_frac_q6`` — fraction of words containing a letter
    - ``stop_hits`` — how many of the 8 Gopher stop words appear
    - ``symbol_ratio_q6`` — (# chars + '...' occurrences) / words
    - ``bullet_frac_q6`` / ``ellipsis_frac_q6`` — lines starting with a
      bullet / ending with an ellipsis
    - ``dup_line_frac_q6`` — 1 − distinct/total lines
    - ``dup_char_frac_q6`` — chars in lines occurring ≥2× / line chars
      (quadratic in lines-per-doc via nested ``filter`` — JVM-side and
      fine at real line counts; the banded dedup operators are the
      cross-document path)

    All higher-order array expressions over one ``split`` — zero
    shuffles, zero Python."""
    c = F.col(col) if isinstance(col, str) else col
    # split emits '' tokens at whitespace edges (and [''] for empty
    # text) — filter them so empty/whitespace-only docs count 0 words
    # and leading newlines don't add phantom words (trim strips only
    # spaces, not \n)
    words = F.filter(F.split(c, r"\s+"), lambda w: w != "")
    n_words = F.size(words).cast("long")
    sum_wlen = F.aggregate(
        words, F.lit(0).cast("long"), lambda a, w: a + F.length(w)
    )
    q6 = lambda x: F.round(x * 1e6, 0).cast("long")  # noqa: E731
    mean_wlen = F.when(n_words > 0, sum_wlen / n_words).otherwise(F.lit(0.0))
    alpha_frac = F.when(
        n_words > 0,
        F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]"))) / n_words,
    ).otherwise(F.lit(0.0))
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(F.transform(words, F.lower)),
            F.array([F.lit(s) for s in _GOPHER_STOPWORDS]),
        )
    ).cast("long")
    n_hash = F.length(c) - F.length(F.regexp_replace(c, "#", ""))
    n_ellipsis = (
        F.length(c) - F.length(F.regexp_replace(c, r"\.\.\.", ""))
    ) / 3
    symbol_ratio = F.when(
        n_words > 0, (n_hash + n_ellipsis) / n_words
    ).otherwise(F.lit(0.0))
    lines = F.split(c, "\n")
    n_lines = F.size(lines)
    bullet_frac = F.when(
        n_lines > 0,
        F.size(
            F.filter(lines, lambda ln: F.trim(ln).rlike(r"^[-*•]"))
        )
        / n_lines,
    ).otherwise(F.lit(0.0))
    ellipsis_frac = F.when(
        n_lines > 0,
        F.size(F.filter(lines, lambda ln: F.trim(ln).rlike(r"\.\.\.$")))
        / n_lines,
    ).otherwise(F.lit(0.0))
    dup_line_frac = F.when(
        n_lines > 0,
        1.0 - F.size(F.array_distinct(lines)) / n_lines,
    ).otherwise(F.lit(0.0))
    line_chars = F.aggregate(
        lines, F.lit(0).cast("long"), lambda a, ln: a + F.length(ln)
    )
    dup_chars = F.aggregate(
        F.filter(
            lines,
            lambda ln: F.size(F.filter(lines, lambda x: x == ln)) > 1,
        ),
        F.lit(0).cast("long"),
        lambda a, ln: a + F.length(ln),
    )
    dup_char_frac = F.when(
        line_chars > 0, dup_chars / line_chars
    ).otherwise(F.lit(0.0))
    return F.struct(
        n_words.alias("n_words"),
        q6(mean_wlen).alias("mean_wlen_q6"),
        q6(alpha_frac).alias("alpha_frac_q6"),
        stop_hits.alias("stop_hits"),
        q6(symbol_ratio).alias("symbol_ratio_q6"),
        q6(bullet_frac).alias("bullet_frac_q6"),
        q6(ellipsis_frac).alias("ellipsis_frac_q6"),
        q6(dup_line_frac).alias("dup_line_frac_q6"),
        q6(dup_char_frac).alias("dup_char_frac_q6"),
    )


def gopher_keep(metrics: Column) -> Column:
    """The Gopher page gate over :func:`gopher_metrics` (public paper
    thresholds): 50 ≤ words ≤ 100k, mean word length in [3, 10],
    symbol ratio ≤ 0.1, ≤ 90% bullet lines, ≤ 30% ellipsis lines,
    ≥ 80% alphabetic words, ≥ 2 stop words, duplicate-line fraction
    ≤ 0.30, duplicate-line char fraction ≤ 0.20."""
    m = metrics
    return (
        (m.n_words >= 50)
        & (m.n_words <= 100_000)
        & (m.mean_wlen_q6 >= 3_000_000)
        & (m.mean_wlen_q6 <= 10_000_000)
        & (m.symbol_ratio_q6 <= 100_000)
        & (m.bullet_frac_q6 <= 900_000)
        & (m.ellipsis_frac_q6 <= 300_000)
        & (m.alpha_frac_q6 >= 800_000)
        & (m.stop_hits >= 2)
        & (m.dup_line_frac_q6 <= 300_000)
        & (m.dup_char_frac_q6 <= 200_000)
    )


def strip_html(col: Column | str) -> Column:
    """Markup → text: drop <script>/<style> blocks WITH their contents,
    turn block-level tags into newlines (paragraph structure survives for
    downstream chunking), strip remaining tags, decode the common
    entities, collapse runs of blanks. Pure JVM regexp chain — codegen'd,
    zero Python, linear per byte; the 100 TB boilerplate-removal
    front-door (finer extraction — readability scoring, DOM weighting —
    is a different, parser-based operator).
    """
    c = F.col(col) if isinstance(col, str) else col
    # (?is): case-insensitive, dot matches newline
    c = F.regexp_replace(c, r"(?is)<(script|style)\b[^>]*>.*?</\1\s*>", " ")
    c = F.regexp_replace(c, r"(?is)<!--.*?-->", " ")
    c = F.regexp_replace(
        c, r"(?i)</?(p|div|br|li|ul|ol|h[1-6]|tr|table|section|article)\b[^>]*>", "\n"
    )
    c = F.regexp_replace(c, r"(?s)<[^>]+>", " ")
    for ent, rep in _HTML_ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(rep))
    c = F.regexp_replace(c, r"[ \t]+", " ")
    c = F.regexp_replace(c, r" ?\n ?", "\n")
    c = F.regexp_replace(c, r"\n{2,}", "\n")
    # trim() strips spaces only — newlines at the edges need the regexp
    return F.regexp_replace(c, r"^\s+|\s+$", "")


def normalize_unicode_udf(form: str = "NFKC", fix_mojibake: bool = True):
    """Arrow-batched unicode normalizer: ``unicodedata.normalize(form)``
    (ligatures, full-width forms, compatibility chars) plus an optional
    ftfy-style single-pass mojibake repair (UTF-8 bytes mis-decoded as
    latin-1/cp1252 — 'Ã©' → 'é'): re-encode and re-decode, keep the
    repair only if it strictly reduces the suspect-character count. JVM
    has no NFKC builtin, so this is a documented Python rung — stdlib
    only, vectorized per Arrow batch, no per-row Python round-trips
    beyond the string ops themselves.
    """
    import unicodedata

    suspects = set("ÃÂâ€™œ¢")

    def _fix(s: str) -> str:
        if s is None:
            return None
        t = s
        if fix_mojibake and any(ch in suspects for ch in t):
            try:
                repaired = t.encode("cp1252", errors="strict").decode(
                    "utf-8", errors="strict"
                )
                if sum(ch in suspects for ch in repaired) < sum(
                    ch in suspects for ch in t
                ):
                    t = repaired
            except (UnicodeEncodeError, UnicodeDecodeError):
                pass
        return unicodedata.normalize(form, t)

    @F.pandas_udf("string")
    def norm(texts: pd.Series) -> pd.Series:
        return texts.map(_fix, na_action="ignore")

    return norm


# Bundled snapshot of PUBLIC SUFFIX LIST rules (publicsuffix.org — public
# content; the canonical list is maintained by Mozilla volunteers). This
# is a curated SUBSET: the high-traffic multi-label registry suffixes
# (ICANN section) plus the hosting platforms whose subdomains are
# independent sites (private section) — the rules that actually change
# per-domain cap/mixture grouping on web corpora. Single-label TLDs need
# no entry (the PSL default rule `*` covers them). Deployments that need
# the FULL list pass it via ``extract_domain(..., suffixes=...)`` — the
# algorithm is rule-count-agnostic.
_PSL_EXACT = (
    # .uk / .au / .nz / .jp / .kr / .za / .il / .th / .ke registries
    "co.uk", "org.uk", "net.uk", "ac.uk", "gov.uk", "me.uk", "ltd.uk",
    "plc.uk", "sch.uk", "nhs.uk",
    "com.au", "net.au", "org.au", "edu.au", "gov.au", "asn.au", "id.au",
    "co.nz", "net.nz", "org.nz", "govt.nz", "ac.nz", "school.nz",
    "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp", "ad.jp", "ed.jp", "lg.jp",
    "co.kr", "ne.kr", "or.kr", "re.kr", "go.kr", "ac.kr", "pe.kr",
    "co.za", "net.za", "org.za", "ac.za", "gov.za", "web.za",
    "co.il", "org.il", "net.il", "ac.il", "gov.il", "muni.il",
    "co.th", "in.th", "ac.th", "go.th", "or.th", "net.th",
    "co.ke", "or.ke", "ne.ke", "go.ke", "ac.ke",
    # Americas
    "com.br", "net.br", "org.br", "gov.br", "edu.br",
    "com.mx", "net.mx", "org.mx", "edu.mx", "gob.mx",
    "com.ar", "net.ar", "org.ar", "edu.ar", "gob.ar",
    "com.co", "net.co", "org.co", "edu.co", "gov.co",
    # Asia
    "com.cn", "net.cn", "org.cn", "edu.cn", "gov.cn", "ac.cn",
    "com.tw", "net.tw", "org.tw", "edu.tw", "gov.tw", "idv.tw",
    "com.hk", "net.hk", "org.hk", "edu.hk", "gov.hk",
    "com.sg", "net.sg", "org.sg", "edu.sg", "gov.sg",
    "com.my", "net.my", "org.my", "edu.my", "gov.my",
    "co.id", "net.id", "or.id", "web.id", "ac.id", "go.id", "sch.id",
    "co.in", "net.in", "org.in", "ac.in", "edu.in", "gov.in", "res.in",
    "gen.in", "firm.in", "ind.in",
    "com.vn", "net.vn", "org.vn", "edu.vn", "gov.vn",
    "com.ph", "net.ph", "org.ph", "edu.ph", "gov.ph",
    "com.pk", "net.pk", "org.pk", "edu.pk", "gov.pk",
    "com.bd", "net.bd", "org.bd", "edu.bd", "gov.bd",
    "com.np", "net.np", "org.np", "edu.np", "gov.np",
    # Europe / Middle East
    "com.tr", "net.tr", "org.tr", "edu.tr", "gov.tr",
    "com.pl", "net.pl", "org.pl", "edu.pl", "gov.pl", "waw.pl",
    "com.ua", "net.ua", "org.ua", "edu.ua", "gov.ua", "in.ua",
    "com.ru", "net.ru", "org.ru",
    "com.gr", "net.gr", "org.gr", "edu.gr", "gov.gr",
    "com.ro", "org.ro", "tm.ro", "nt.ro",
    "com.sa", "net.sa", "org.sa", "edu.sa", "gov.sa", "med.sa",
    "com.eg", "net.eg", "org.eg", "edu.eg", "gov.eg",
    "com.ng", "net.ng", "org.ng", "edu.ng", "gov.ng",
    # private section: hosting platforms whose subdomains are
    # independently-operated sites
    "github.io", "gitlab.io", "blogspot.com", "herokuapp.com",
    "appspot.com", "firebaseapp.com", "web.app", "netlify.app",
    "vercel.app", "azurewebsites.net", "cloudfront.net", "pages.dev",
    "workers.dev", "readthedocs.io", "neocities.org",
)
# wildcard rules `*.X`: EVERY 2-label suffix under X is a public suffix
_PSL_WILDCARD = ("ck", "er", "fk", "mm")
# exception rules `!host`: carve-outs from a wildcard
_PSL_EXCEPTION = ("www.ck",)


def extract_domain(
    col: Column | str,
    strip_www: bool = True,
    psl: bool = True,
    suffixes: tuple | None = None,
) -> Column:
    """Registrable domain (eTLD+1) of a URL — the mixture/cap/dedup
    grouping key of web-corpus pipelines. ``parse_url(..., 'HOST')``
    (JVM built-in) lowercases and isolates the host; the public-suffix
    rules then pick the longest matching suffix and keep ONE label more:
    ``a.co.uk`` and ``b.co.uk`` stay distinct sites, while
    ``news.example.com`` and ``blog.example.com`` collapse into
    ``example.com`` — and ``alice.github.io`` / ``bob.github.io`` stay
    distinct (private-section platform suffixes).

    Entirely JVM-side: trailing-label candidate suffixes via
    split/slice/array_join, matched against literal rule sets compiled
    into the plan (``isin`` → an In/InSet expression inside whole-stage
    codegen) — no join, no shuffle, no Python. Rule semantics follow the
    published PSL algorithm: longest match wins; ``*.X`` wildcards make
    any 2-label suffix under X public; ``!host`` exceptions carve back
    one level; unknown TLDs fall back to the default rule (the TLD
    itself). The bundled snapshot is a curated subset (see
    ``_PSL_EXACT``); pass ``suffixes=`` (iterable of rules, ``*.``/
    ``!`` syntax supported) to swap in the full published list, or
    ``psl=False`` for the raw host (minus ``www.``).

    Hosts with NO registrable domain (the bare suffix itself — e.g.
    ``co.uk``, ``com``, ``localhost``) → NULL, per the PSL contract.
    IPv4 hosts are their own key (returned unchanged — an IP has no
    registrable domain but IS a meaningful cap-grouping unit).
    Schemeless inputs ('example.com/page') get an ``http://`` prefix
    first so HOST still resolves; NULL/unparseable → NULL."""
    c = F.col(col) if isinstance(col, str) else col
    with_scheme = F.when(
        c.rlike(r"^[a-zA-Z][a-zA-Z0-9+.-]*://"), c
    ).otherwise(F.concat(F.lit("http://"), c))
    host = F.lower(F.parse_url(with_scheme, F.lit("HOST")))
    # strip_www applies ONLY to the raw-host mode: under PSL semantics a
    # leading www is just a subdomain label the eTLD+1 collapse already
    # removes — and pre-stripping it would mangle hosts whose
    # REGISTRABLE domain starts with www (the `!www.ck` exception:
    # 'www.ck' must survive as itself, not become bare 'ck')
    if strip_www and not psl:
        host = F.regexp_replace(host, r"^www\.", "")
    host = F.when(c.isNull() | (F.trim(c) == ""), F.lit(None)).otherwise(host)
    if not psl:
        return host

    if suffixes is None:
        exact = set(_PSL_EXACT)
        wildcard = set(_PSL_WILDCARD)
        exception = set(_PSL_EXCEPTION)
    else:
        exact, wildcard, exception = set(), set(), set()
        for rule in suffixes:
            rule = rule.strip().lower()
            if not rule or rule.startswith("//"):
                continue
            if rule.startswith("!"):
                exception.add(rule[1:])
            elif rule.startswith("*."):
                wildcard.add(rule[2:])
            else:
                exact.add(rule)

    labels = F.split(host, r"\.")
    n = F.size(labels)

    def suffix(i: int) -> Column:
        # null when the host has fewer labels — isin(null) is null→false
        return F.when(
            n >= i, F.array_join(F.slice(labels, -i, i), ".")
        )

    by_len: dict[int, list[str]] = {}
    for s in exact:
        by_len.setdefault(s.count(".") + 1, []).append(s)
    exc_by_len: dict[int, list[str]] = {}
    for s in exception:
        exc_by_len.setdefault(s.count(".") + 1, []).append(s)
    wc_by_len: dict[int, list[str]] = {}
    for s in wildcard:
        wc_by_len.setdefault(s.count(".") + 1, []).append(s)

    # PSL algorithm: exceptions first (suffix = rule minus its first
    # label), else the longest matching exact/wildcard rule, else the
    # default rule `*` (the TLD). suffix_len = label count of the
    # winning public suffix.
    suffix_len = None
    max_len = max(
        [ln for ln in by_len] + [ln + 1 for ln in wc_by_len] + [2]
    )
    cases = []
    for ln, rules in sorted(exc_by_len.items(), reverse=True):
        cases.append((suffix(ln).isin(rules), F.lit(ln - 1)))
    for ln in range(max_len, 1, -1):
        conds = []
        if ln in by_len:
            conds.append(suffix(ln).isin(by_len[ln]))
        if ln - 1 in wc_by_len:
            conds.append(suffix(ln - 1).isin(wc_by_len[ln - 1]))
        if conds:
            cond = conds[0]
            for extra in conds[1:]:
                cond = cond | extra
            cases.append((cond, F.lit(ln)))
    for cond, val in cases:
        suffix_len = (
            F.when(cond, val) if suffix_len is None else suffix_len.when(cond, val)
        )
    suffix_len = (
        suffix_len.otherwise(F.lit(1)) if suffix_len is not None else F.lit(1)
    )

    ipv4 = host.rlike(r"^\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}$")
    keep = (suffix_len + F.lit(1)).cast("int")  # suffix labels + 1
    etld1 = F.when(
        n > suffix_len, F.array_join(F.slice(labels, -keep, keep), ".")
    )
    return F.when(host.isNull(), F.lit(None)).when(ipv4, host).otherwise(etld1)
