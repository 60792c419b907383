"""Byte-level BPE tokenizer: deterministic driver-side training on a
bounded corpus sample, distributed Arrow-batched encoding with per-batch
memoization, lossless round-trip by construction.

Byte-level (GPT-2 style): the base vocabulary is the 256 single bytes,
merges operate on UTF-8 byte sequences, so ANY text encodes without an
out-of-vocabulary path and decodes back bit-exactly. Pre-tokenization
partitions the text completely (``\\S+|\\s+`` — every character belongs
to exactly one pre-token and merges never cross pre-token boundaries),
so concatenating decoded pre-tokens reassembles the original string.

Scale design (100 TB shape):
- TRAIN is driver-side on a bounded deterministic sample (same contract
  as the PQ codebook / k-means centroid training in
  ``operators/similarity``: a capped ``collect`` is the documented,
  size-bounded driver artifact — vocabularies are trained on samples in
  every production tokenizer pipeline). Pair counting uses incremental
  updates (only words containing the merged pair are touched per round),
  not a full recount.
- ENCODE is fully distributed: the merge table (a few KB) ships in the
  task closure, each Arrow batch keeps a pre-token → ids memo (Zipf:
  the distinct-word working set is far smaller than the token stream),
  zero shuffles, no driver participation.

Cite: the reference has no tokenizer (`iis_etl/` is relational ETL);
this is extension surface — the canonical LLM-training-data operator
(SURVEY.md §6). Public recipe: Sennrich et al. 2016 (BPE), byte-level
per GPT-2's public tokenizer description.
"""

from __future__ import annotations

import re
from collections import Counter
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# partitions the text completely: every char is in exactly one pre-token.
# The whitespace class is pinned to the Unicode White_Space property (what
# the JVM's ``(?U)\s`` matches): Python's bare ``\s`` additionally counts
# U+001C–U+001F (FS/GS/RS/US control separators: bidi class B/S, but
# White_Space=No), so the four are moved to the NON-space side here.
_PRETOKEN_RE = re.compile(r"[\S\u001c-\u001f]+|[^\S\u001c-\u001f]+")

BASE_VOCAB = 256


def train_bpe(
    docs: DataFrame,
    text_col: str = "text",
    vocab_size: int = 512,
    sample_rows: int = 512,
    max_chars_per_doc: int = 4000,
    seed: int = 42,
) -> list[tuple[bytes, bytes]]:
    """Train ``vocab_size - 256`` merges on a bounded deterministic
    sample of the corpus (rows ordered by ``xxhash64(text, seed)`` with
    a full-text tie-break, capped at ``sample_rows`` × first
    ``max_chars_per_doc`` chars — a size-bounded driver collect, the
    documented training contract shared with the ANN codebooks).

    Merge selection is deterministic: highest pair count, ties broken by
    the lexicographically smallest (left, right) byte pair — so two
    trainings of the same sample produce identical merge tables.
    Training stops early when no pair occurs twice."""
    rows = (
        docs.select(F.col(text_col).cast("string").alias("t"))
        .where(F.col("t").isNotNull())
        .orderBy(F.xxhash64(F.col("t"), F.lit(seed)), F.col("t"))
        .limit(sample_rows)
        .collect()
    )
    word_freq: Counter = Counter()
    for r in rows:
        for tok in _PRETOKEN_RE.findall(r["t"][:max_chars_per_doc]):
            word_freq[tok] += 1
    return _merges_from_word_freq(word_freq, vocab_size)


def _merges_from_word_freq(
    word_freq: Counter, vocab_size: int
) -> list[tuple[bytes, bytes]]:
    """The deterministic merge loop behind :func:`train_bpe`: highest
    pair count wins, ties
    break to the lexicographically smallest (left, right) byte pair;
    stops early when no pair occurs twice. Pair counting is incremental
    (only words containing the merged pair are touched per round)."""
    seqs: dict[str, tuple[bytes, ...]] = {
        w: tuple(bytes([b]) for b in w.encode("utf-8")) for w in word_freq
    }
    pair_counts: Counter = Counter()
    pair_words: dict[tuple[bytes, bytes], set] = {}
    for w, f in word_freq.items():
        s = seqs[w]
        for p in zip(s, s[1:]):
            pair_counts[p] += f
            pair_words.setdefault(p, set()).add(w)

    merges: list[tuple[bytes, bytes]] = []
    for _ in range(max(0, vocab_size - BASE_VOCAB)):
        if not pair_counts:
            break
        best_count = max(pair_counts.values())
        if best_count < 2:
            break
        best = min(p for p, c in pair_counts.items() if c == best_count)
        merges.append(best)
        new_sym = best[0] + best[1]
        # incremental update: only words containing `best` are touched
        for w in list(pair_words.get(best, ())):
            f = word_freq[w]
            old = seqs[w]
            new = _merge_seq(old, best, new_sym)
            for p in zip(old, old[1:]):
                pair_counts[p] -= f
                if pair_counts[p] <= 0:
                    del pair_counts[p]
                ws = pair_words.get(p)
                if ws is not None:
                    ws.discard(w)
            for p in zip(new, new[1:]):
                pair_counts[p] += f
                pair_words.setdefault(p, set()).add(w)
            seqs[w] = new
    return merges


def _merge_seq(
    seq: tuple[bytes, ...], pair: tuple[bytes, bytes], new_sym: bytes
) -> tuple[bytes, ...]:
    """Replace every left-to-right non-overlapping occurrence of
    ``pair`` in ``seq`` with ``new_sym`` (one pass — the classic BPE
    merge step)."""
    out = []
    i, n = 0, len(seq)
    while i < n:
        if i + 1 < n and seq[i] == pair[0] and seq[i + 1] == pair[1]:
            out.append(new_sym)
            i += 2
        else:
            out.append(seq[i])
            i += 1
    return tuple(out)


def build_vocab(merges: list[tuple[bytes, bytes]]) -> dict[bytes, int]:
    """Token-bytes → id table: ids 0..255 are the single bytes, id
    256 + i is the product of merge i (deterministic from the merge
    list alone, so only merges need to ship)."""
    vocab = {bytes([b]): b for b in range(BASE_VOCAB)}
    for i, (a, b) in enumerate(merges):
        vocab[a + b] = BASE_VOCAB + i
    return vocab


def _encode_word(
    word: str,
    ranks: dict[tuple[bytes, bytes], int],
    vocab: dict[bytes, int],
    cache: dict,
) -> list[int]:
    ids = cache.get(word)
    if ids is not None:
        return ids
    syms = [bytes([b]) for b in word.encode("utf-8")]
    while len(syms) > 1:
        best_rank, best_pair = None, None
        for p in zip(syms, syms[1:]):
            r = ranks.get(p)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_pair = r, p
        if best_pair is None:
            break
        syms = list(_merge_seq(tuple(syms), best_pair, best_pair[0] + best_pair[1]))
    ids = [vocab[s] for s in syms]
    cache[word] = ids
    return ids


def bpe_decode(ids: list[int], merges: list[tuple[bytes, bytes]]) -> str:
    """Inverse of encoding: ids → token bytes → UTF-8 text. Lossless for
    any input text by byte-level construction."""
    inv: dict[int, bytes] = {b: bytes([b]) for b in range(BASE_VOCAB)}
    for i, (a, b) in enumerate(merges):
        inv[BASE_VOCAB + i] = a + b
    return b"".join(inv[i] for i in ids).decode("utf-8")


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[bytes, bytes]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Distributed BPE encode: one row per document with token ids,
    token/byte counts, and two in-plan law booleans —

    - ``round_trip_ok``: the ids, decoded INSIDE the kernel, reproduce
      the input text bit-exactly (byte-level losslessness, checked per
      row, oracle-adjudicable as a constant-true column);
    - ``ids_in_vocab``: every id < 256 + len(merges).

    The merge table rides in the task closure (KBs); each Arrow batch
    memoizes pre-token → ids (Zipf working set). Zero shuffles, no
    driver participation — the 100 TB encode shape."""
    ranks = {p: i for i, p in enumerate(merges)}
    vocab = build_vocab(merges)
    inv = {v: k for k, v in vocab.items()}
    max_id = BASE_VOCAB + len(merges)

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict = {}
        for pdf in batches:
            # the memo lives for the whole task; bound it so a partition
            # with an enormous distinct-token set can't balloon worker
            # memory (Zipf means evictions are rare in practice)
            if len(cache) > 500_000:
                cache.clear()
            out = []
            for rid, text in zip(
                pdf[id_col].tolist(), pdf[text_col].tolist()
            ):
                if text is None:
                    out.append((rid, None, None, None, None, None))
                    continue
                text = str(text)
                ids: list[int] = []
                for tok in _PRETOKEN_RE.findall(text):
                    ids.extend(_encode_word(tok, ranks, vocab, cache))
                decoded = b"".join(inv[i] for i in ids).decode("utf-8")
                out.append(
                    (
                        rid,
                        len(text.encode("utf-8")),
                        len(ids),
                        ids,
                        decoded == text,
                        all(i < max_id for i in ids),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    id_col, "n_bytes", "n_tokens", "token_ids",
                    "round_trip_ok", "ids_in_vocab",
                ],
            )

    # derive the id column's type from the input schema (hard-coding
    # `long` broke string ids — same fix as similarity._assign_centroid)
    id_type = docs.schema[id_col].dataType.simpleString()
    return docs.select(id_col, text_col).mapInPandas(
        encode,
        f"{id_col} {id_type}, n_bytes long, n_tokens long, "
        "token_ids array<int>, round_trip_ok boolean, ids_in_vocab boolean",
    )
