"""Exact repeated-passage detection: planted-passage golden cases,
hash/string key equivalence, span-merge laws."""

from __future__ import annotations

from uma_etl_iis_loader_spark.operators.passages import repeated_passages

BOILER = "this license text is shared verbatim across several documents here"


def _docs(spark):
    rows = [
        # docs 1 and 2 share an 11-word boilerplate passage at different
        # offsets; doc 3 is unrelated; doc 4 too short for any window
        (1, "alpha beta " + BOILER + " gamma delta epsilon"),
        (2, BOILER + " zeta eta theta iota kappa some other tail words"),
        (3, "completely different content with no repeated passage at all today ok"),
        (4, "too short"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_planted_passage_spans_and_stats(spark):
    out = repeated_passages(_docs(spark), k=8, min_docs=2, hashed=False)
    spans = {
        (r.id, r.start_word, r.end_word) for r in out["spans"].collect()
    }
    # BOILER is 10 words → windows fully inside it are repeated.
    # doc 1: BOILER at words 2..11 → window starts 2,3,4 → span (2, 11)
    # doc 2: BOILER at words 0..9 → window starts 0,1,2 → span (0, 9)
    assert (1, 2, 11) in spans
    assert (2, 0, 9) in spans
    assert not any(i == 3 for i, _, _ in spans)
    stats = {r.id: (r.n_shingles, r.n_repeated) for r in out["stats"].collect()}
    assert stats[1] == (8, 3)   # 15 words → 8 windows; 3 repeated
    assert stats[3][1] == 0
    assert 4 not in stats       # < k tokens: no window exists


def test_hashed_and_string_keys_identical(spark, sf_dir):
    from uma_etl_iis_loader_spark.io import read_fixture

    docs = read_fixture(spark, sf_dir, "documents").limit(300)
    a = repeated_passages(docs, k=8, hashed=True)
    b = repeated_passages(docs, k=8, hashed=False)
    for part in ("stats", "spans"):
        ra = sorted(map(tuple, a[part].collect()))
        rb = sorted(map(tuple, b[part].collect()))
        assert ra == rb, part


def test_spans_merge_consecutive_windows(spark):
    # one long shared passage must yield ONE span per doc, not one row
    # per window
    long_shared = " ".join(f"tok{i}" for i in range(20))
    df = spark.createDataFrame(
        [(1, long_shared + " unique one"), (2, long_shared + " other two")],
        "doc_id long, text string",
    )
    out = repeated_passages(df, k=8, min_docs=2, hashed=False)
    spans = [
        (r.id, r.start_word, r.end_word)
        for r in out["spans"].orderBy("id").collect()
    ]
    assert spans == [(1, 0, 19), (2, 0, 19)]


def test_within_doc_repeats_do_not_count(spark):
    phrase = " ".join(f"w{i}" for i in range(8))
    df = spark.createDataFrame(
        [(1, phrase + " filler middle words here " + phrase),
         (2, "entirely unrelated words that never repeat anything at all")],
        "doc_id long, text string",
    )
    out = repeated_passages(df, k=8, min_docs=2, hashed=False)
    assert out["spans"].count() == 0  # repeats only within doc 1


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_slow = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)


@given(
    docs=st.lists(
        st.lists(st.integers(0, 5), min_size=0, max_size=30),
        min_size=1,
        max_size=6,
    ),
    k=st.integers(2, 4),
)
@_slow
def test_passage_laws_arbitrary_corpora(spark, docs, k):
    """Laws over arbitrary tiny-vocabulary corpora (vocab of 6 tokens
    forces heavy cross-doc window collisions):

    1. stats consistency: n_shingles == n_tokens - k + 1 per doc with
       ≥ k tokens; docs below k emit nothing.
    2. spans ⇔ repeated windows: the union of [start, end-k+1] over a
       doc's spans equals EXACTLY its repeated window-start set (spans
       are maximal merges: no overlap, no adjacency).
    3. reference parity: 'repeated' per window recomputed in plain
       Python (cross-doc distinct-count ≥ 2) matches.
    """
    from uma_etl_iis_loader_spark.operators.passages import (
        repeated_passages,
    )

    rows = [
        (i, " ".join(f"w{t}" for t in toks)) for i, toks in enumerate(docs)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = repeated_passages(df, k=k, min_docs=2, hashed=False)
    stats = {r.id: (r.n_shingles, r.n_repeated) for r in out["stats"].collect()}
    spans = {}
    for r in out["spans"].collect():
        spans.setdefault(r.id, []).append((r.start_word, r.end_word))

    # plain-Python reference
    windows = {}  # (doc, pos) -> shingle tuple
    by_shingle = {}
    for i, toks in enumerate(docs):
        for p in range(max(len(toks) - k + 1, 0)):
            sg = tuple(toks[p : p + k])
            windows[(i, p)] = sg
            by_shingle.setdefault(sg, set()).add(i)
    repeated = {
        (i, p) for (i, p), sg in windows.items() if len(by_shingle[sg]) >= 2
    }

    for i, toks in enumerate(docs):
        n = len(toks)
        if n < k:
            assert i not in stats
            assert i not in spans
            continue
        n_sh, n_rep = stats[i]
        assert n_sh == n - k + 1  # law 1
        ref_positions = {p for (d, p) in repeated if d == i}
        assert n_rep == len(ref_positions)  # law 3 (counts)
        got_positions = set()
        doc_spans = sorted(spans.get(i, []))
        for s, e in doc_spans:
            got_positions |= set(range(s, e - k + 2))
        assert got_positions == ref_positions  # law 2 + 3 (positions)
        # maximality: consecutive spans are separated by ≥ 2 (no
        # adjacent-window spans left unmerged)
        for (s1, e1), (s2, e2) in zip(doc_spans, doc_spans[1:]):
            assert s2 > e1 - k + 2
