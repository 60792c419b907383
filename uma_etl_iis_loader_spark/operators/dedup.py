"""Deduplication operators for large-scale training-data pipelines.

Four tiers, trading recall for cost (all shuffle-safe, no driver collect):

- ``exact_dedup``          — canonical-form fingerprint groupBy. O(n).
- ``ngram_jaccard_pairs``  — exact word-n-gram Jaccard via inverted-index
                             self-join. Exact but quadratic in the worst
                             case; n-grams of 3+ words keep candidate sets
                             sparse. The verify step of choice.
- ``minhash_lsh_pairs``    — MinHash signatures + banded LSH bucketing:
                             the 100 TB path. Cost ∝ n × (candidates per
                             bucket); exact Jaccard verify only on bucket
                             collisions.
- ``simhash_pairs``        — 64-bit SimHash + banded Hamming candidates.
- ``embedding_cosine_pairs`` — near-dup by embedding cosine (blocked
                             self-join; for web scale use the IVF/LSH
                             bucketing in operators/similarity.py first).
- ``semantic_dedup``       — cluster-scoped embedding near-dup (SemDeDup
                             shape): k-means the space, compare only
                             within clusters — linear-ish at web scale,
                             cross-cluster near-dups traded away.

``connected_components`` turns any of the pair outputs into the cluster
assignment a dedup pipeline actually applies (keep ``node == comp``, the
min id per component).

All pair outputs are (id_a < id_b) canonical, ids only — similarity scores
stay internal so cross-engine float noise can't flip a comparison result.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import char_ngrams, fingerprint, word_ngrams
from ..functions.vectors import cosine_arrow


def _simhash_pandas_udf(gram_n: int):
    """Vectorized SimHash64 as an Arrow-batched Pandas UDF.

    The pure column-expression version (functions.text.simhash64) is
    semantically identical but folds 64 bit-counters per token through
    interpreted nested lambdas — measured ~35 ms/doc. This UDF does the
    same majority vote in numpy at ~0.1 ms/doc; the hash is blake2b-8byte
    (deterministic across workers, unlike Python's seeded str hash).
    """
    @F.pandas_udf("long")
    def simhash(texts: pd.Series) -> pd.Series:
        out = np.zeros(len(texts), dtype=np.uint64)
        shifts = np.arange(64, dtype=np.uint64)
        for i, t in enumerate(texts):
            words = (t or "").lower().split()
            grams = {
                " ".join(words[j : j + gram_n])
                for j in range(max(len(words) - gram_n + 1, 0))
            }
            if not grams:
                continue
            h = np.fromiter(
                (
                    int.from_bytes(
                        hashlib.blake2b(g.encode(), digest_size=8).digest(),
                        "little",
                    )
                    for g in grams
                ),
                dtype=np.uint64,
                count=len(grams),
            )
            ones = ((h[:, None] >> shifts) & np.uint64(1)).sum(axis=0)
            sig = ((ones * 2 > len(grams)).astype(np.uint64) << shifts).sum()
            out[i] = sig
        return pd.Series(out.view(np.int64))

    return simhash


def exact_dedup(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """One row per distinct canonical text: (fingerprint, keep_id, dup_count).
    keep_id = min id (deterministic survivor pick)."""
    return (
        docs.select(F.col(id_col), fingerprint(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def _grams_udf(n: int, char_level: bool):
    """Distinct n-gram extraction as an Arrow-batched Pandas UDF — same
    semantics as functions.text.{char,word}_ngrams (lowercase, distinct,
    first-seen order irrelevant downstream) but ~20x faster than the
    interpreted transform-over-sequence column expression."""

    @F.pandas_udf("array<string>")
    def grams(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            t = (t or "").lower()
            if char_level:
                gs = {t[i : i + n] for i in range(max(len(t) - n + 1, 0))}
            else:
                w = t.split()
                gs = {
                    " ".join(w[i : i + n])
                    for i in range(max(len(w) - n + 1, 0))
                }
            out.append(list(gs))
        return pd.Series(out)

    return grams


def _gram_table(
    docs: DataFrame, id_col: str, text_col: str, n: int, char_level: bool
) -> DataFrame:
    return docs.select(
        F.col(id_col).alias("id"),
        _grams_udf(n, char_level)(F.col(text_col)).alias("grams"),
    )


# Threshold cutoff for automatic path selection: at t ≥ 0.6 the PPJoin
# prefix is ≤ ~40% of each doc's grams and candidate pruning beats the
# naive join's hot-gram quadratic blowup; below it the prefix covers most
# of the doc (at t=0.35 it is ~65%), so the extra df-ordering shuffle +
# verify join cost more than they prune. Measured on the fixture corpus
# (see tests/test_dedup.py::test_adaptive_path_selection and bench notes).
PREFIX_FILTER_MIN_THRESHOLD = 0.6


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    char_level: bool = False,
    prefix_filter: bool | None = None,
    pin: bool = True,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs ≥ ``threshold``.

    Default path is PPJoin-style prefix filtering (Chaudhuri et al. 2006 /
    Vernica et al. SIGMOD'10 MapReduce set-similarity): order each doc's
    grams by ascending document frequency (rarest first, (df, gram) as the
    global total order), explode only the prefix of length
    |x| − ⌈t·|x|⌉ + 1 — any pair with Jaccard ≥ t must share a prefix
    token — join prefixes, apply the size filter min ≥ t·max, then verify
    candidates with exact intersect/union on the full gram arrays. Output
    is identical to the naive inverted-index join, but the join
    intermediate shrinks from Σ(posting list)² pair rows to only
    rare-token collisions.

    ``prefix_filter=None`` (default) selects the path from the threshold:
    prefix filtering at t ≥ PREFIX_FILTER_MIN_THRESHOLD (where the prefix
    is short and posting-list pruning wins — the 100 TB path for
    dedup-grade thresholds), the naive inverted-index join below it
    (where the prefix covers most grams and pruning can't pay for its
    df-ordering shuffle). Both paths produce identical output
    (equivalence pytest-pinned); pass an explicit bool to force one.

    ``pin=True`` (default) eagerly materializes the small pair output and
    releases the cached/shingle intermediates immediately (no persist
    leak across a long session); pass ``pin=False`` to keep the plan lazy
    for composition or plan inspection — the caller then owns the cost of
    re-evaluating the gram UDF per downstream reference.
    """
    if prefix_filter is None:
        prefix_filter = threshold >= PREFIX_FILTER_MIN_THRESHOLD
    g = _gram_table(docs, id_col, text_col, n, char_level)
    if not prefix_filter:
        # Pin the gram table eagerly: the self-join references it twice and
        # both size() and explode() reference the UDF column, so without a
        # materialization barrier Catalyst's project-collapse evaluates the
        # gram UDF FOUR times (visible as 4 ArrowEvalPython nodes). One
        # materialized shingle table is also what a real pipeline persists
        # at corpus scale. sz rides along so no size joins are needed after
        # the pair count (functionally dependent on id — free groupBy key).
        g = g.select("id", F.size("grams").alias("sz"), "grams")
        if pin:
            g = g.localCheckpoint(eager=True)
        inv = g.select("id", "sz", F.explode("grams").alias("gram"))
        a, b = inv.alias("a"), inv.alias("b")
        return (
            a.join(b, "gram")
            .filter(F.col("a.id") < F.col("b.id"))
            .groupBy(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                F.col("a.sz").alias("sz_a"),
                F.col("b.sz").alias("sz_b"),
            )
            .agg(F.count(F.lit(1)).alias("shared"))
            .filter(
                F.col("shared")
                / (F.col("sz_a") + F.col("sz_b") - F.col("shared"))
                >= threshold
            )
            .select("id_a", "id_b")
        )

    inv = g.select("id", F.explode("grams").alias("gram"))
    freq = inv.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    # grams per doc re-assembled in (df, gram) ascending order; persisted —
    # reused by the prefix explode and twice by the verify join.
    ordered = (
        inv.join(freq, "gram")
        .groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "gram"))).alias("og"))
        .select(
            "id",
            F.col("og").getField("gram").alias("grams"),
            F.size("og").alias("sz"),
        )
        .persist()
    )
    # ⌈t·sz⌉ with an epsilon so float noise can't round 7.0 up to 8 and
    # shorten the prefix (a too-short prefix loses exactness; one token
    # extra only costs candidates).
    prefix_len = (
        F.col("sz") - F.ceil(threshold * F.col("sz") - 1e-9) + 1
    ).cast("int")
    pre = ordered.select(
        "id", "sz", F.explode(F.slice("grams", F.lit(1), prefix_len)).alias("gram")
    )
    a, b = pre.alias("a"), pre.alias("b")
    candidates = (
        a.join(b, "gram")
        .filter(F.col("a.id") < F.col("b.id"))
        # size filter: Jaccard ≥ t ⇒ min(|A|,|B|) ≥ t·max(|A|,|B|)
        .filter(
            F.least("a.sz", "b.sz")
            >= threshold * F.greatest("a.sz", "b.sz") - 1e-9
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    ga = ordered.select(F.col("id").alias("id_a"), F.col("grams").alias("grams_a"))
    gb = ordered.select(F.col("id").alias("id_b"), F.col("grams").alias("grams_b"))
    out = (
        candidates.join(ga, "id_a")
        .join(gb, "id_b")
        .filter(
            F.size(F.array_intersect("grams_a", "grams_b"))
            / F.size(F.array_union("grams_a", "grams_b"))
            >= threshold
        )
        .select("id_a", "id_b")
    )
    # the pair output is tiny relative to the cached gram table: pin it
    # eagerly (lineage truncated) so the persisted intermediate can be
    # released NOW instead of leaking for the session's lifetime
    if pin:
        out = out.localCheckpoint(eager=True)
        ordered.unpersist()
    return out


def _minhash_sig_udf(num_hashes: int):
    """Vectorized MinHash signature as an Arrow-batched Pandas UDF.

    One blake2b-8byte base hash per gram, then the classic universal-hash
    permutation family h_i(x) = (a_i*x + b_i) mod 2^61-1 vectorized in
    numpy — (num_hashes × grams) mins per doc in a single matrix op. The
    pure-JVM alternative (array_min over transform per seed) evaluates
    num_hashes × grams interpreted lambda calls per row: measured ~40x
    slower at sf0.1.
    """
    p = (1 << 61) - 1
    rng = np.random.default_rng(42)  # fixed seed: deterministic across runs
    a = rng.integers(1, p, size=num_hashes, dtype=np.uint64)
    b = rng.integers(0, p, size=num_hashes, dtype=np.uint64)

    @F.pandas_udf("array<bigint>")
    def sig(grams: pd.Series) -> pd.Series:
        # Grams are Zipf-distributed (char 3-grams: a few hundred
        # distinct values cover millions of occurrences), so hash and
        # permute each DISTINCT gram once per task and gather per doc:
        # memoized blake2b + a (num_hashes × n_distinct) permuted-column
        # table replace a per-occurrence blake2b call and a per-doc
        # multiply/mod matrix (r12 shape: ~0.8 s → ~0.2 s over sf0.1's
        # 713k gram occurrences / 377 distinct). min over the same
        # values → bit-identical signatures. The memo is per-task state
        # (closure rebuilt per task); cap it so an adversarial
        # distinct-gram corpus can't balloon worker memory.
        gram_idx: dict = {}
        perm = np.empty((num_hashes, 0), dtype=np.uint64)
        sentinel = np.full(num_hashes, np.iinfo(np.int64).max)

        def extend_table(new):
            # hash + permute a LIST of new distinct grams in one shot —
            # the permuted table grows once per Arrow batch, never per
            # doc (a per-doc concatenate is O(docs × distinct) copying)
            nonlocal perm
            base = np.fromiter(
                (
                    int.from_bytes(
                        hashlib.blake2b(g.encode(), digest_size=8).digest(),
                        "little",
                    )
                    for g in new
                ),
                dtype=np.uint64,
                count=len(new),
            )
            # universal-hash permutations; mod 2^61-1 keeps values in
            # int64 range after the wrap-around multiply
            cols = (a[:, None] * base[None, :] + b[:, None]) % np.uint64(p)
            perm = np.concatenate([perm, cols], axis=1)

        out = []
        for gs in grams:
            if gs is None or len(gs) == 0:
                out.append(sentinel)
                continue
            new = [g for g in gs if g not in gram_idx]
            if new:
                if len(gram_idx) > 2_000_000:
                    gram_idx.clear()
                    perm = np.empty((num_hashes, 0), dtype=np.uint64)
                    new = list(gs)
                start = len(gram_idx)
                for j, g in enumerate(new):
                    gram_idx[g] = start + j
                extend_table(new)
            idx = np.fromiter(
                (gram_idx[g] for g in gs), dtype=np.intp, count=len(gs)
            )
            out.append(perm[:, idx].min(axis=1).astype(np.int64))
        return pd.Series(out)

    return sig


def minhash_signature(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    n: int = 3,
    char_level: bool = True,
) -> DataFrame:
    """(id, grams, sig: array<bigint>, fp) — MinHash signature per
    document. ``fp`` is the canonical-text fingerprint: zero-gram
    documents (text shorter than n) all share the sentinel signature, so
    their verify step compares fingerprints instead of gram sets —
    identical short docs dedup, distinct ones never collapse."""
    return docs.select(
        F.col(id_col).alias("id"),
        _grams_udf(n, char_level)(F.col(text_col)).alias("grams"),
        fingerprint(text_col).alias("fp"),
    ).select(
        "id", "grams", _minhash_sig_udf(num_hashes)(F.col("grams")).alias("sig"),
        "fp",
    )


def _band_entries(sigs: DataFrame, bands: int, rows: int) -> DataFrame:
    """(id, band, bucket) LSH entries: bucket = hash of the band's
    row-slice of the signature (band id mixed in so buckets never collide
    across bands)."""
    band_idx = F.sequence(F.lit(0), F.lit(bands - 1))
    return sigs.select(
        "id",
        F.explode(
            F.transform(
                band_idx,
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        b, F.slice(F.col("sig"), b * rows + 1, rows).cast("string")
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
    threshold: float = 0.5,
    char_level: bool = True,
    pin: bool = True,
    max_candidate_pairs: int | None = None,
) -> DataFrame:
    """MinHash + banded LSH near-dup pairs, exact-Jaccard verified
    (``pin`` as in ngram_jaccard_pairs: eager output + released caches).

    Cache lifetime: ``pin=True`` (default) eagerly materializes the
    small pair output (``localCheckpoint``) and unpersists BOTH internal
    caches — the signature/gram frame and the collision-stats frame
    (``bstats``, the per-(band, bucket) size agg that serves the budget
    guard and pins the verify shuffle degree).
    ``pin=False`` returns a LAZY plan that still references both frames,
    so both stay persisted for the plan's lifetime; no handle to them is
    returned, so the caller releases them via
    ``spark.catalog.clearCache()`` (or session teardown) once the
    returned plan is consumed. The budget-guard failure path unpersists
    both before raising regardless of ``pin``.

    bands×rows = num_hashes; a pair collides if any band's row-slice
    matches exactly. Candidates are verified with exact gram Jaccard, so
    the output has no false positives — LSH only bounds recall.

    Verify: per-bucket Arrow kernel (``mapInPandas`` over (band,
    bucket)-sorted partitions) — each colliding doc's gram array is
    shuffled ONCE PER BUCKET MEMBERSHIP (Σ m rows), never once per
    candidate pair (Σ m²/2 rows), and the m²/2-row candidate self-join
    disappears entirely; ``distinct`` runs on the small PASSING pair
    set. Measured at the 10x scale step's recall-tuned operating point
    (sf10, 500k docs, 5.3M candidates): candidate-join verify 131 s →
    grouped 30 s, same pairs (the join verify is the reference the
    kernel is law-tested against in tests/test_dedup.py). Zero-gram
    docs (text shorter than n) are filtered before bucketing: they
    share the sentinel signature, so at web scale they form ONE
    corpus-wide bucket per band; their Jaccard is 0/0, which a verify
    drops anyway, so filtering preserves the pair set.

    ``max_candidate_pairs``: fail-fast budget guard — raises BEFORE any
    verify work if the candidate mass (Σ m·(m−1)/2 over colliding
    buckets) exceeds the budget, naming the measured mass and the
    banding recipe. Use it anywhere a recall-tuned banding meets an
    uncurated corpus.

    Scale: the bucket shuffle keys on (band, band_hash) — web-scale safe
    because bucket sizes concentrate around duplicates; the budget guard
    is the answer for corpora where they don't (boilerplate-dense web
    crawls). The verify's shuffle degree is PINNED from the collision
    stats (candidate mass / colliding member rows) rather than inherited
    from ``spark.sql.shuffle.partitions`` or AQE coalescing, so the
    verify plan is identical run-to-run and scales its task count with
    the measured work, not a static config.
    """
    rows = num_hashes // bands
    sigs = minhash_signature(docs, id_col, text_col, num_hashes, n, char_level)
    sigs = sigs.persist()

    # zero-gram docs share the sentinel signature: one corpus-wide
    # bucket per band. Their pairs can never pass (0/0 Jaccard) —
    # exclude them BEFORE bucketing so the sentinel bucket never
    # materializes.
    nonempty = sigs.select("id", "grams").filter(F.size("grams") > 0)
    banded = _band_entries(sigs.filter(F.size("grams") > 0), bands, rows)
    # singleton buckets (the overwhelming majority) drop here while
    # rows are still (id, band, bucket) — a count agg whose result
    # is collision-sized (AQE broadcasts it back); gram arrays join
    # in ONLY for the colliding survivor set, so no shuffle ever
    # moves documents for non-colliding entries. The stats frame is
    # persisted and driver-summarized ONCE: the same aggregation
    # serves the fail-fast budget guard AND pins the verify
    # shuffle's partition count (below).
    bstats = (
        banded.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("bsize"))
        .filter(F.col("bsize") >= 2)
        .persist()
    )
    bs = F.col("bsize")
    summ = bstats.agg(
        F.coalesce(F.sum(bs * (bs - 1) / 2), F.lit(0.0)).alias("mass"),
        F.coalesce(F.max(bs), F.lit(0)).alias("max_m"),
        F.count(F.lit(1)).alias("n_buckets"),
        F.coalesce(F.sum(bs), F.lit(0)).alias("members"),
    ).collect()[0]
    mass, members_n = int(summ["mass"]), int(summ["members"])
    if max_candidate_pairs is not None and mass > max_candidate_pairs:
        sigs.unpersist()
        bstats.unpersist()
        raise RuntimeError(
            f"LSH candidate budget exceeded: {mass} candidate pairs "
            f"(budget {max_candidate_pairs}) at banding {bands} bands x "
            f"{rows} rows, threshold {threshold} "
            f"({summ['n_buckets']} colliding buckets, largest "
            f"{summ['max_m']} docs). Options: "
            f"(a) fewer/wider bands (rows per band up) raises the "
            f"collision s-curve and cuts candidate mass, (b) raise "
            f"max_candidate_pairs if the mass is genuinely budgeted."
        )
    # verify-shuffle degree PINNED from the collision stats instead
    # of inheriting spark.sql.shuffle.partitions / AQE coalescing
    # (run-to-run plan variance): balance by candidate mass (the
    # kernel's work unit, ~100k exact-Jaccard comparisons per task)
    # with a member-row floor (gram-array shuffle volume, ~25k
    # member rows per task). The spread-work floor is ~1k member
    # rows per task up to the cluster parallelism — data-derived,
    # so a small collision set no longer fans out to 32 near-empty
    # Arrow tasks just because 32 cores exist (r12: 6.8k members
    # at sf0.1 → 7 tasks, verify 1.0-1.4 s → 0.8 s, identical
    # pairs), while any corpus with ≥1k members/core still uses
    # every core. An explicit numPartitions also stops AQE from
    # re-coalescing the exchange differently across runs.
    nparts = min(
        4096,
        max(
            min(
                docs.sparkSession.sparkContext.defaultParallelism,
                -(-members_n // 1_000),
            ),
            -(-mass // 100_000),
            -(-members_n // 25_000),
            1,
        ),
    )
    members = banded.join(
        bstats.select("band", "bucket"), ["band", "bucket"]
    ).join(nonempty, "id")

    id_dt = sigs.schema["id"].dataType.simpleString()
    # mapInPandas over (band, bucket)-sorted partitions instead of
    # applyInPandas: one pandas frame per ~10k-row Arrow batch, not
    # one per bucket — per-group frame construction dominated on
    # small-bucket corpora (measured sf1: 45 s applyInPandas ->
    # 5.3 s streaming, join-verify parity; sf10 recall point:
    # 34 s vs 131 s join verify).
    verified = (
        members.repartition(nparts, "band", "bucket")
        .sortWithinPartitions("band", "bucket")
        .mapInPandas(
            _bucket_verify_stream_kernel(threshold), f"id_a {id_dt}, id_b {id_dt}"
        )
        .distinct()
    )
    # pin the (small) verified pairs eagerly, release the signature cache
    if pin:
        verified = verified.localCheckpoint(eager=True)
        sigs.unpersist()
        bstats.unpersist()
    return verified


def _bucket_verify_stream_kernel(threshold: float):
    """Streaming per-bucket exact-Jaccard verify for
    :func:`minhash_lsh_pairs`: a ``mapInPandas`` kernel over partitions
    sorted by (band, bucket). Buckets are cut at sort change-points
    inside each Arrow batch (a bucket spanning batch boundaries is
    carried forward — memory is bounded by the largest single bucket,
    the same bound ``applyInPandas`` had); emits the (id_a < id_b)
    pairs whose exact gram Jaccard ≥ threshold.
    Python-side set intersection over the deduped gram arrays — the
    shuffle saving (grams once per bucket membership, not per candidate
    pair) dwarfs the interpreted pair loop, which runs on
    collision-sized groups only. Deterministic: members sorted by id
    within each bucket, so emitted pairs are canonical."""

    def _emit(frame: pd.DataFrame) -> pd.DataFrame:
        b = frame["band"].to_numpy()
        k = frame["bucket"].to_numpy()
        ids_all = frame["id"].to_numpy()
        grams_all = frame["grams"].to_numpy()
        cuts = np.flatnonzero((b[1:] != b[:-1]) | (k[1:] != k[:-1])) + 1
        starts = np.concatenate(([0], cuts))
        ends = np.concatenate((cuts, [len(frame)]))
        out_a: list = []
        out_b: list = []
        for s, e in zip(starts, ends):
            m = e - s
            if m < 2:
                continue
            order = np.argsort(ids_all[s:e], kind="stable") + s
            ids = ids_all[order]
            grams = [frozenset(grams_all[i]) for i in order]
            for i in range(m - 1):
                ga = grams[i]
                for j in range(i + 1, m):
                    gb = grams[j]
                    inter = len(ga & gb)
                    if inter / (len(ga) + len(gb) - inter) >= threshold:
                        out_a.append(ids[i])
                        out_b.append(ids[j])
        return pd.DataFrame({"id_a": out_a, "id_b": out_b})

    def verify(batches):
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if not len(pdf):
                continue
            b = pdf["band"].to_numpy()
            k = pdf["bucket"].to_numpy()
            # the trailing bucket may continue in the next batch: hold it
            not_last = np.flatnonzero((b != b[-1]) | (k != k[-1]))
            last_start = int(not_last[-1]) + 1 if len(not_last) else 0
            carry = pdf.iloc[last_start:]
            if last_start:
                out = _emit(pdf.iloc[:last_start])
                if len(out):
                    yield out
        if carry is not None and len(carry):
            out = _emit(carry)
            if len(out):
                yield out

    return verify


def lsh_bucket_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
    char_level: bool = True,
) -> DataFrame:
    """(band, bucket, n_docs) occupancy of every non-singleton LSH
    bucket under the given banding — the candidate-mass telemetry for
    :func:`minhash_lsh_pairs`. One signature pass + one count agg;
    singleton buckets (the overwhelming majority) are filtered out, so
    the result is collision-sized, not corpus-sized."""
    rows = num_hashes // bands
    sigs = minhash_signature(docs, id_col, text_col, num_hashes, n, char_level)
    return (
        _band_entries(sigs, bands, rows)
        .groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
    )


def lsh_bucket_balance(stats: DataFrame) -> dict:
    """Driver summary over :func:`lsh_bucket_stats` — a bounded
    aggregation collect (one row), never the bucket rows themselves:

    - ``candidate_pairs``: Σ n·(n−1)/2 over colliding buckets — THE
      pre-flight cost predictor for the verify (it grows ~quadratically
      in duplicate-family size at a recall-oriented banding; re-band
      until this number fits the budget, THEN run the pair verify) —
      the same accounting ``minhash_lsh_pairs``' ``max_candidate_pairs``
      guard applies;
    - ``n_buckets`` (colliding), ``max_bucket``, ``mean_bucket``.
    """
    n = F.col("n_docs")
    row = stats.agg(
        F.coalesce(F.sum(n * (n - 1) / 2), F.lit(0.0)).alias("cp"),
        F.count(F.lit(1)).alias("nb"),
        F.coalesce(F.max("n_docs"), F.lit(0)).alias("mx"),
        F.coalesce(F.avg("n_docs"), F.lit(0.0)).alias("mean"),
    ).collect()[0]
    return {
        "candidate_pairs": int(row["cp"]),
        "n_buckets": int(row["nb"]),
        "max_bucket": int(row["mx"]),
        "mean_bucket": float(row["mean"]),
    }


def simhash_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bands: int = 4,
    gram_n: int = 2,
    pin: bool = True,
) -> DataFrame:
    """SimHash near-dup pairs: 64-bit signatures, banded into ``bands``
    16-bit chunks (pigeonhole: hamming ≤ bands-1 guarantees a band match),
    verified with exact popcount of XOR."""
    width = 64 // bands
    sigs = docs.select(
        F.col(id_col).alias("id"),
        _simhash_pandas_udf(gram_n)(F.col(text_col)).alias("sig"),
    ).persist()
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned(F.col("sig"), b * width)
                .bitwiseAND(F.lit((1 << width) - 1).cast("long"))
                .alias("chunk"),
            )
            for b in range(bands)
        ]
    )
    chunks = sigs.select(
        "id", "sig", F.explode(band_structs).alias("bb")
    ).select("id", "sig", "bb.band", "bb.chunk")
    a, b = chunks.alias("a"), chunks.alias("b")
    out = (
        a.join(b, ["band", "chunk"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .distinct()
        .filter(
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))) <= max_hamming
        )
        .select("id_a", "id_b")
    )
    # pin the (small) pair output eagerly, release the signature cache
    if pin:
        out = out.localCheckpoint(eager=True)
        sigs.unpersist()
    return out


def embedding_cosine_pairs(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    method: str = "tiled",
    blocks: int = 8,
    srp_bits: int = 64,
    srp_bands: int = 8,
    d: int | None = None,
) -> DataFrame:
    """Near-dup pairs by embedding cosine ≥ threshold.

    Three strategies (``method``):

    - ``"tiled"`` (default, EXACT): blocked self-join. Each vector is
      hashed into one of ``blocks`` blocks and replicated to the
      ``blocks`` tile-pairs containing its block; each (i ≤ j) tile runs
      ONE normalized numpy matmul over its two blocks and emits only the
      qualifying pairs. Exact mid-threshold dense all-pairs similarity is
      Θ(n²·d) *compute* by concentration-of-measure (near-orthogonal
      vectors give LSH no recall/pruning headroom at e.g. t=0.45), but
      tiling changes what's *shuffled*: n·blocks replicated vectors
      instead of the n²/2 joined pair rows a crossJoin materializes, and
      the per-pair work drops from an Arrow-kernel row call to a BLAS
      inner loop. Size ``blocks`` so 2·(n/blocks) vectors fit an executor
      (at 100 TB: blocks ≈ n·d·8B / 100 MB tiles).
    - ``"srp"`` (approximate, high-threshold path): signed-random-
      projection banded candidates (operators/similarity._srp_bands) +
      exact cosine verify — no false positives, recall
      1-(1-p^width)^bands with p = 1-θ/π. The right ladder rung when the
      threshold is high (θ small) and n² compute is unaffordable.
    - ``"crossjoin"`` (exact, tiny inputs / equivalence oracle).
    """
    v = embeddings.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    )
    if method == "crossjoin":
        a, b = v.alias("a"), v.alias("b")
        return (
            a.crossJoin(b)
            .filter(F.col("a.id") < F.col("b.id"))
            .filter(cosine_arrow(F.col("a.vec"), F.col("b.vec")) >= threshold)
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        )
    if method == "srp":
        from .similarity import _srp_bands

        if d is None:
            d = len(v.select("vec").first()[0])
        planes = np.random.default_rng(42).standard_normal((srp_bits, d))
        sig = _srp_bands(v, planes, "id", "id", "vec", srp_bands)
        sa, sb = sig.alias("a"), sig.alias("b")
        candidates = (
            sa.join(sb, ["band", "chunk"])
            .filter(F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .distinct()
        )
        va = v.select(F.col("id").alias("id_a"), F.col("vec").alias("vec_a"))
        vb = v.select(F.col("id").alias("id_b"), F.col("vec").alias("vec_b"))
        return (
            candidates.join(va, "id_a")
            .join(vb, "id_b")
            .filter(cosine_arrow(F.col("vec_a"), F.col("vec_b")) >= threshold)
            .select("id_a", "id_b")
        )
    if method != "tiled":
        raise ValueError(f"unknown method {method!r}: tiled|srp|crossjoin")

    id_type = dict(v.dtypes)["id"]
    if id_type not in ("bigint", "int", "smallint", "tinyint"):
        raise TypeError(
            f"tiled cosine pair join requires an integral id column "
            f"(got {id_type}); hash non-integral ids to int64 first, or "
            f"use method='crossjoin' for type-agnostic exact pairs"
        )

    # tile-pair ids (i ≤ j) each row participates in: (i, blk) for i < blk,
    # (blk, blk), (blk, j) for j > blk — `blocks` tiles per row.
    tiles = F.array(
        *[
            F.struct(F.lit(i).alias("ti"), F.lit(j).alias("tj"))
            for i in range(blocks)
            for j in range(i, blocks)
        ]
    )
    blk = F.pmod(F.xxhash64(F.col("id")), F.lit(blocks))
    replicated = (
        v.withColumn("blk", blk.cast("int"))
        .withColumn(
            "tile",
            F.explode(
                F.filter(
                    tiles,
                    lambda t: (t["ti"] == F.col("blk"))
                    | (t["tj"] == F.col("blk")),
                )
            ),
        )
        .select(
            F.col("tile.ti").alias("ti"),
            F.col("tile.tj").alias("tj"),
            "blk",
            "id",
            "vec",
        )
    )

    def tile_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        ti, tj = int(pdf["ti"].iloc[0]), int(pdf["tj"].iloc[0])

        def mat(rows: pd.DataFrame):
            ids = rows["id"].to_numpy(dtype=np.int64)
            m = np.stack([np.asarray(x, dtype=np.float64) for x in rows["vec"]])
            norms = np.linalg.norm(m, axis=1)
            return ids, m / np.where(norms == 0, 1.0, norms)[:, None]

        if ti == tj:
            ids, m = mat(pdf.drop_duplicates("id"))
            sims = m @ m.T
            ia, ib = np.triu_indices(len(ids), k=1)
            keep = sims[ia, ib] >= threshold
            a_ids, b_ids = ids[ia[keep]], ids[ib[keep]]
        else:
            ra, rb = pdf[pdf["blk"] == ti], pdf[pdf["blk"] == tj]
            if len(ra) == 0 or len(rb) == 0:
                return pd.DataFrame({"id_a": [], "id_b": []}).astype("int64")
            ids_a, ma = mat(ra)
            ids_b, mb = mat(rb)
            ia, ib = np.nonzero(ma @ mb.T >= threshold)
            a_ids, b_ids = ids_a[ia], ids_b[ib]
        return pd.DataFrame(
            {"id_a": np.minimum(a_ids, b_ids), "id_b": np.maximum(a_ids, b_ids)}
        )

    return (
        replicated.groupBy("ti", "tj")
        .applyInPandas(tile_kernel, "id_a long, id_b long")
        .filter(F.col("id_a") < F.col("id_b"))
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """(node, component) labeling of the near-dup pair graph — the step
    that turns PAIRS into a deduplicated corpus: keep one document per
    component (the canonical survivor is ``node == component``, the min
    id — same deterministic pick as ``exact_dedup``).

    Algorithm: iterative min-label propagation with pointer jumping.
    Each round every node takes the min of (its label, its neighbors'
    labels) — then labels shortcut through themselves (``comp := comp of
    comp``), which collapses label chains geometrically, so rounds are
    O(log diameter) rather than O(diameter); near-dup components are
    small and dense (diameter ≤ 3-4 in practice), giving 2-3 rounds.
    Each round is two shuffles (neighbor groupBy-min, label self-join)
    over (node, comp) pairs ONLY — edge payloads are never re-shuffled,
    and the input lineage is pinned once up front so iterations never
    re-execute the (potentially expensive) pair-generation plan above
    this operator. At 100 TB the same loop runs with edges partitioned
    by src; the alternating large-star/small-star contraction of
    Kiveris et al. ("Connected Components in MapReduce and Beyond") is
    the further rung if components themselves are huge — for dedup
    graphs (bounded cluster size) the simple propagation is the right
    cost profile.

    Convergence is detected (a round that changes no label ends the
    loop; ``max_iter`` is a guard, not the expected exit), making the
    result exact — matching a recursive-CTE reachability oracle — not
    an approximation.
    """
    edges = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    )
    edges = (
        edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        # pin: iterations must not re-execute the pair-generation lineage
        .localCheckpoint(eager=True)
    )
    # init already folds in round 1's neighbor-min: comp = min(node, N(node))
    # (every node of the pair graph appears as src in the symmetric edges)
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("nbr_min"))
        .select(
            F.col("src").alias("node"),
            F.least("src", "nbr_min").alias("comp"),
        )
    )
    for it in range(max_iter):
        nbr_min = (
            edges.join(
                labels.select(
                    F.col("node").alias("dst"), F.col("comp").alias("dst_comp")
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("dst_comp").alias("nbr_comp"))
            .select(F.col("src").alias("node"), "nbr_comp")
        )
        stepped = labels.join(nbr_min, "node", "left").select(
            "node",
            F.least(F.col("comp"), F.coalesce("nbr_comp", "comp")).alias("comp"),
            F.col("comp").alias("prev"),
        )
        # pointer jumping: comp := min(comp, comp's comp)
        jumped = stepped.join(
            labels.select(F.col("node").alias("comp"), F.col("comp").alias("comp2")),
            "comp",
            "left",
        ).select(
            "node",
            F.least(F.col("comp"), F.coalesce("comp2", "comp")).alias("comp"),
            "prev",
        )
        # checkpoint each round BEFORE the convergence probe: the probe
        # then counts over the materialized rows (~50 ms) and the next
        # round builds on them, instead of the probe job re-executing
        # the accumulated round lineage and the final consumer paying it
        # again (r12 A/B at sf0.1, identical labels: 1.0-1.9 s →
        # 0.8-1.0 s; at scale the probe materializes the same
        # (node, comp) rows either way, so this is also the
        # no-re-execution shape)
        jumped = jumped.localCheckpoint(eager=True)
        changed = jumped.filter(F.col("comp") != F.col("prev")).limit(1).count()
        labels = jumped.drop("prev")
        if changed == 0:
            break
    return labels.select("node", "comp")


def deduplicate_corpus(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    scores: DataFrame | None = None,
    score_col: str = "score",
) -> DataFrame:
    """Apply a near-dup pair set to a corpus: keep ONE survivor per
    connected component plus every document in no pair at all. This is
    the end-state a dedup pipeline writes; the pair generators above
    (Jaccard / MinHash-LSH / SimHash / embedding-cosine) are its input.

    Survivor pick: min id by default (same deterministic rule as
    exact_dedup); pass ``scores`` — an (id_col, score_col) frame, e.g.
    ``functions.text.quality_score`` output — to keep the HIGHEST-scored
    member instead (via :func:`canonical_per_cluster`, tie → min id),
    so dedup never discards the cleanest copy.

    One anti-join against the non-survivor set (|paired docs| −
    |components|). Join strategy is left to AQE: on lightly-duplicated
    corpora the set is tiny and broadcasts at runtime; on heavily
    deduplicated web corpora it is O(corpus) and MUST shuffle — forcing a
    broadcast here would OOM the driver exactly when dedup matters most.
    """
    comps = connected_components(pairs)
    if scores is None:
        losers = comps.filter(F.col("node") != F.col("comp")).select(
            F.col("node").alias(id_col)
        )
    else:
        losers = (
            canonical_per_cluster(
                comps, scores, id_col=id_col, score_col=score_col
            )
            .filter(~F.col("is_canonical"))
            .select(F.col("node").alias(id_col))
        )
    return docs.join(losers, id_col, "left_anti")


def canonical_per_cluster(
    assignments: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "score",
) -> DataFrame:
    """Quality-aware survivor selection over near-dup clusters: for each
    connected component pick the member with the HIGHEST score (ties →
    smallest id — fully deterministic), the step a corpus pipeline runs
    between clustering and the final keep/drop write. ``deduplicate_corpus``
    keeps the min id — correct but arbitrary; real curation keeps the
    best-quality representative (e.g. ``functions.text.quality_score``
    or a model score) so dedup never discards the cleanest copy.

    ``assignments`` is ``connected_components`` output (node, comp);
    ``scores`` is (id_col, score_col). Members missing a score rank
    below every scored member (−inf), never above. Returns one row per
    member: (node, comp, keep_id, is_canonical).

    Scale shape: one shuffle joining scores onto members by id, one
    ``max_by`` aggregation per component (partial/map-side — the struct
    max combines associatively; giant components reduce tree-wise, no
    per-component row materialization), and one broadcast-or-shuffle
    join (AQE's call) of the |components|-sized keep table back onto
    members. Nothing is ever collected."""
    sc = scores.select(
        F.col(id_col).alias("node"),
        F.col(score_col).cast("double").alias("__score"),
    )
    members = assignments.select("node", "comp").join(sc, "node", "left")
    keep = members.groupBy("comp").agg(
        F.max_by(
            "node",
            F.struct(
                F.coalesce(F.col("__score"), F.lit(float("-inf"))).alias("s"),
                (-F.col("node")).alias("tie"),
            ),
        ).alias("keep_id")
    )
    return members.join(keep, "comp").select(
        "node",
        "comp",
        "keep_id",
        (F.col("node") == F.col("keep_id")).alias("is_canonical"),
    )


def dedup_sentence_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span: int = 3,
) -> DataFrame:
    """Corpus-wide sentence-span deduplication — the OTHER half of the
    public C4 recipe (``functions/text.c4_kept_lines`` is the per-page
    line filter; this is the global "remove all but one occurrence of
    any three-sentence span" pass): split each document into sentences
    at the deterministic ``'. '`` boundary, group consecutive sentences
    into NON-overlapping ``span``-sized chunks, keep only the FIRST
    occurrence of each chunk text corpus-wide (first = smallest
    (doc_id, chunk_idx) — deterministic under any partitioning), and
    reassemble each document from its surviving chunks in order.
    Returns (id, text, n_spans, n_spans_kept); documents whose every
    span was seen earlier come back with empty text (callers filter).

    Sentence/segment normalization is documented convention: chunks
    rejoin with ``'. '``, so runs of other whitespace around sentence
    boundaries do not survive — same contract as the TFDS C4
    implementation, which operates on sentence lists, not raw offsets.

    Scale shape: spans EXPLODE (rows ∝ corpus sentences / span); first
    occurrence is a row_number window partitioned by
    ``(xxhash64(chunk_text), chunk_text)`` — the rows already carry the
    span text through the exchange for reassembly, so including it in
    the key costs no extra bytes and makes the keep/drop decision
    collision-proof (hash-only partitioning would drop a distinct span
    that collides in 64 bits, a real event at 10¹⁰+ spans); the hash
    prefix keeps exchange key comparison cheap. Reassembly is one
    partial-agg'able sort-struct collect per doc. No driver
    participation anywhere."""
    # projection barrier: materialize the sentence array once per row —
    # the per-chunk slice below would otherwise re-run the split per
    # chunk (the loop-invariant-in-lambda trap measured across the
    # gram family; slicing a materialized column attribute is a cheap
    # element copy)
    sent_rows = docs.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("__id"),
        F.split(F.col(text_col), r"\. ").alias("__sents"),
    )
    sents = F.col("__sents")
    n_chunks = F.ceil(F.size(sents) / F.lit(span)).cast("int")
    chunks = sent_rows.select(
        "__id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.concat_ws(
                    ". ", F.slice(sents, i * span + 1, span)
                ),
            )
        ).alias("chunk_idx", "chunk_text"),
    )
    w = Window.partitionBy(
        F.xxhash64("chunk_text"), F.col("chunk_text")
    ).orderBy("__id", "chunk_idx")
    kept = (
        chunks.withColumn("__rn", F.row_number().over(w))
        .withColumn("__first", F.col("__rn") == 1)
        .drop("__rn")
    )
    return kept.groupBy("__id").agg(
        F.concat_ws(
            ". ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("__first"),
                            F.struct("chunk_idx", "chunk_text"),
                        )
                    )
                ),
                lambda s: s.chunk_text,
            ),
        ).alias(text_col),
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("__first").cast("long")).alias("n_spans_kept"),
    ).withColumnRenamed("__id", id_col)


def connected_components_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """Alternating large-star/small-star connected components (Kiveris et
    al., "Connected Components in MapReduce and Beyond", SoCC'14) — the
    contraction variant whose round count is O(log n) EVEN for giant
    high-diameter components, where plain label propagation needs
    O(diameter) rounds. Use when components can be huge (web-graph-scale
    duplicate families); for typical near-dup graphs
    ``connected_components`` converges in fewer, cheaper rounds.

    large-star: every node's strictly-larger neighbors re-attach to the
    minimum of its closed neighborhood; small-star: the smaller-or-equal
    neighbors (and the node) attach to that minimum. Alternating the two
    strictly shrinks the edge potential until the graph is a forest of
    stars rooted at each component's min — read the labels straight off
    the final edges. Same output contract as ``connected_components``
    (equivalence property-tested on randomized graphs).
    """
    edges = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    # canonical undirected form, pinned (see connected_components)
    edges = (
        edges.select(
            F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def star(e: DataFrame, large: bool) -> DataFrame:
        sym = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        m = sym.groupBy("src").agg(
            F.least(F.min("dst"), F.first("src")).alias("m")
        )
        j = sym.join(m, "src")
        attach = j.filter(
            F.col("dst") > F.col("src") if large else F.col("dst") <= F.col("src")
        ).select(F.col("dst").alias("a"), F.col("m").alias("b"))
        self_edge = j.select(F.col("src").alias("a"), F.col("m").alias("b"))
        out = attach.unionByName(self_edge) if not large else attach
        return (
            out.filter(F.col("a") != F.col("b"))
            .select(
                F.least("a", "b").alias("src"), F.greatest("a", "b").alias("dst")
            )
            .distinct()
        )

    prev_sig = None
    for _ in range(max_iter):
        edges = star(star(edges, large=True), large=False).localCheckpoint(
            eager=True
        )
        sig = edges.agg(
            F.count(F.lit(1)).alias("n"),
            # xor-fold: order-independent, cannot overflow under ANSI mode
            F.expr("bit_xor(xxhash64(src, dst))").alias("h"),
        ).first()
        if (sig["n"], sig["h"]) == prev_sig:
            break
        prev_sig = (sig["n"], sig["h"])
    # stable star forest: every node's component is min(node, min neighbor)
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    labels = sym.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("comp")
    )
    return (
        nodes.join(
            labels.select(F.col("src").alias("node"), "comp"), "node", "left"
        )
        .select("node", F.coalesce("comp", "node").alias("comp"))
    )


# ---------------------------------------------------------------------------
# semantic dedup — cluster-scoped embedding near-dup (the published
# SemDeDup recipe: k-means the embedding space, then compare pairs only
# WITHIN each cluster; cross-cluster near-dups are traded away, which is
# what makes the method linear-ish at web scale).
# ---------------------------------------------------------------------------


def semantic_dedup(
    emb: DataFrame,
    n_clusters: int = 16,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict[str, DataFrame]:
    """Cluster-scoped embedding dedup:

    1. assign every vector to its nearest deterministic centroid (the
       same seeded no-randomness centroids the IVF index uses — one
       narrow mapInPandas matmul, no shuffle);
    2. inside each cluster, exact pairwise cosine ≥ ``threshold``
       (applyInPandas per cluster: cost Σ|cluster|² instead of n² —
       raise ``n_clusters`` to bound the largest cluster at scale);
    3. survivors = min-id per matched pair chain (direct-match
       semantics: a doc is dropped iff a smaller-id near-duplicate
       shares its cluster).

    Returns ``pairs`` (id_a < id_b) and ``survivors``. Cross-cluster
    near-duplicates are NOT found — the deliberate recall trade the
    method makes for linearity; the global tiled
    ``embedding_cosine_pairs`` remains the exact alternative.
    """
    import numpy as np

    from .similarity import _assign_centroid, _ivf_centroids

    c = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("cvec"))
    cent_mat = _ivf_centroids(
        c.select(F.col("id").alias("neighbor_id"), "cvec"), n_clusters
    )
    assigned = _assign_centroid(
        c.select(F.col("id").alias("neighbor_id"), "cvec"),
        cent_mat,
        "neighbor_id",
        "cvec",
        1,
    ).select(F.col("neighbor_id").alias("id"), "cvec", "centroid_id")

    def cluster_pairs(pdf):
        if len(pdf) < 2:
            return pdf.iloc[0:0][[]].assign(id_a=[], id_b=[])
        ids = pdf["id"].to_numpy(dtype=np.int64)
        vm = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["cvec"]])
        norms = np.linalg.norm(vm, axis=1)
        vm = vm / np.where(norms == 0, 1.0, norms)[:, None]
        sims = vm @ vm.T
        ia, ib = np.where(np.triu(sims >= threshold, k=1))
        a, b = ids[ia], ids[ib]
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        # strict lo < hi: duplicate-id input (replay residue) would
        # otherwise emit (x, x) rows whose id_b-drop removes EVERY copy
        # of the document instead of keeping one survivor
        keep = lo < hi
        import pandas as pd

        return pd.DataFrame({"id_a": lo[keep], "id_b": hi[keep]})

    # ids unique per input row ⇒ each (id_a, id_b) pair arises from at
    # most one cluster (n=1 assignment) — no distinct() shuffle needed
    pairs = (
        assigned.groupBy("centroid_id")
        .applyInPandas(cluster_pairs, "id_a long, id_b long")
        .localCheckpoint(eager=True)
    )
    dropped = pairs.select(F.col("id_b").alias(id_col)).distinct()
    survivors = emb.join(dropped, id_col, "left_anti")
    return {"pairs": pairs, "survivors": survivors}
