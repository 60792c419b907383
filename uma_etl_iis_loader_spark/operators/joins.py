"""Join kit (SURVEY.md §2.4, J1-J7): the reference's hand-rolled Python
set-membership patterns as proper relational joins.

Every dimension side is broadcast — the reference pre-fetched key sets into
Python ``set``s for the same reason (`iis_etl/logic.py:102-103,130-135`);
at 100 TB the fact side streams through map tasks with zero shuffle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.normalize import norm_key


def semi_fk_filter(
    child: DataFrame, dim: DataFrame, child_key: str, dim_key: str = "id"
) -> DataFrame:
    """J2/C2: keep child rows whose FK exists in the dim
    (`iis_etl/logic.py:130-131,139-140`)."""
    keys = F.broadcast(dim.select(F.col(dim_key).alias(child_key)).distinct())
    return child.join(keys, child_key, "left_semi")


def anti_missing(
    current: DataFrame, incoming: DataFrame, key: str
) -> DataFrame:
    """J5/C6: current rows whose key vanished from the incoming snapshot
    (`iis_etl/logic.py:165-169`)."""
    return current.join(
        F.broadcast(incoming.select(key).distinct()), key, "left_anti"
    )


def fk_repair_placeholders(
    child: DataFrame,
    dim: DataFrame,
    child_fk: str,
    dim_key: str,
    placeholder: dict[str, Column],
) -> DataFrame:
    """J1: dim ∪ synthesized placeholder parents for dangling child FKs
    (`Unknown Faculty {id}`, `iis_etl/logic.py:102-110`).

    ``placeholder`` maps every non-key dim column to an expression over the
    dangling key column (exposed as ``dim_key``).
    """
    dangling = (
        child.select(F.col(child_fk).alias(dim_key))
        .filter(F.col(dim_key).isNotNull())
        .distinct()
        .join(dim.select(dim_key), dim_key, "left_anti")
    )
    synth = dangling.select(
        F.col(dim_key),
        *[expr.alias(c) for c, expr in placeholder.items()],
    )
    return dim.unionByName(synth.select(*dim.columns))


def normalized_lookup(
    facts: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_id: str,
    dim_name_cols: Sequence[str],
    out_col: str = "resolved_id",
) -> DataFrame:
    """J3: resolve a free-text key against a dim matched on ANY of several
    name columns, lower+trim normalized (`iis_etl/logic.py:177-181,
    201-210`: dept map doubled on name and abbr).

    The dim is exploded into one (norm_key → id) row per name column,
    deduped (first id wins per key — the reference dict would keep the
    last write; we dedupe deterministically by min id), then broadcast.
    """
    lookup = None
    for c in dim_name_cols:
        part = dim.select(
            norm_key(F.col(c)).alias("__k"), F.col(dim_id).alias(out_col)
        ).filter(F.col("__k").isNotNull() & (F.col("__k") != ""))
        lookup = part if lookup is None else lookup.unionByName(part)
    lookup = lookup.groupBy("__k").agg(F.min(out_col).alias(out_col))
    return (
        facts.withColumn("__k", norm_key(F.col(fact_key)))
        .join(F.broadcast(lookup), "__k", "left")
        .drop("__k")
    )


def backfill_first_match(
    target: DataFrame,
    source: DataFrame,
    key: str,
    order_col: str,
    value_col: str,
    out_col: str,
) -> DataFrame:
    """J7/A2: backfill a column from the first qualifying source row per
    key. The reference takes scan-order first (`iis_etl/logic.py:303-316`,
    nondeterministic in a set engine) — we define 'first' as min
    ``order_col`` (documented deviation, SURVEY.md §7)."""
    firsts = source.groupBy(key).agg(
        F.min_by(value_col, order_col).alias(out_col)
    )
    return target.join(firsts, key, "left")


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    how: str = "inner",
    salt_buckets: int = 16,
) -> DataFrame:
    """Skew-resistant equi-join: salt the (skewed) left side's key into
    ``salt_buckets`` sub-keys and replicate the right side across every
    bucket, so one hot key spreads over ``salt_buckets`` tasks instead of
    stalling a single reducer.

    AQE's skew-join split handles most cases at runtime
    (`spark.sql.adaptive.skewJoin.enabled`, on in session.py); use this
    when a key is hot enough that even split partitions exceed executor
    memory, or when the join is not AQE-eligible (e.g. under a streaming
    sink). Only the right side is replicated — keep it the smaller input.
    """
    salted_l = left.withColumn(
        "__salt",
        F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt_buckets))
        .cast("int"),
    )
    salted_r = right.withColumn(
        "__salt",
        F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1))),
    )
    out = salted_l.join(salted_r, [key, "__salt"], how)
    return out.drop("__salt")


# ---------------------------------------------------------------------------
# Fuzzy (edit-distance-bounded) lookup — dirty-key record linkage
# ---------------------------------------------------------------------------


def _single_deletions(c: Column) -> Column:
    """Array of every string obtainable from ``c`` by deleting exactly one
    character (``[]`` for the empty string — guarded because
    ``sequence(1, 0)`` would DESCEND, not return empty)."""
    one = F.transform(
        F.sequence(F.lit(1), F.length(c)),
        lambda i: F.concat(
            F.substring(c, F.lit(1), i - F.lit(1)),
            F.substring(c, i + F.lit(1), F.length(c)),
        ),
    )
    return F.when(F.length(c) < 1, F.array().cast("array<string>")).otherwise(one)


def deletion_neighborhood(c: Column, max_dist: int) -> Column:
    """SymSpell deletion neighborhood: all distinct strings reachable from
    ``c`` by deleting up to ``max_dist`` characters (including ``c``
    itself). Guarantee used by :func:`fuzzy_lookup`: if
    ``levenshtein(a, b) <= d`` then the ≤d-deletion neighborhoods of
    ``a`` and ``b`` intersect — substitutions delete the differing
    position on both sides, insertions/deletions delete the extra
    character on the longer side. Neighborhood size is 1 + L for d=1 and
    O(L²) for d=2, bounded for the short keys (names/codes) this targets.
    """
    if max_dist not in (1, 2):
        raise ValueError(f"max_dist must be 1 or 2, got {max_dist}")
    v1 = _single_deletions(c)
    if max_dist == 1:
        return F.array_distinct(F.concat(F.array(c), v1))
    v2 = F.flatten(F.transform(v1, _single_deletions))
    return F.array_distinct(F.concat(F.array(c), v1, v2))


def fuzzy_lookup(
    facts: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_id: str,
    dim_name_col: str,
    max_dist: int = 1,
    out_col: str = "resolved_id",
    dist_col: str | None = None,
    broadcast_dim: bool = True,
) -> DataFrame:
    """Edit-distance-bounded key resolution: left-join ``facts`` to the
    dim row whose name is within ``max_dist`` Levenshtein edits of the
    (lower+trim normalized) fact key — the dirty-key extension of
    :func:`normalized_lookup` (the reference's dict lookup at
    `iis_etl/logic.py:177-181,201-210` silently drops typo'd keys; this
    resolves them).

    Tie-break is deterministic: smallest distance first, then min
    ``dim_id`` — an exact (distance-0) match always beats a fuzzy one.
    Unmatched facts keep ``NULL``.

    Empty-key policy (documented divergence from the raw cross-product
    definition): fact keys that normalize to ``""`` (and dim names that
    do) are EXCLUDED and resolve to NULL, even though a brute-force
    ``levenshtein('', name) <= max_dist`` would match any dim name of
    length ≤ max_dist. An absent key carries no linkage signal — "match
    the empty string to whichever 1-character code has the smallest id"
    is a record-linkage bug, not a resolution. Callers who want the
    literal levenshtein semantics can pre-substitute a sentinel key.

    Scale shape (no all-pairs): candidates come from the SymSpell
    deletion-neighborhood block — both sides explode their ≤max_dist
    deletion variants and equi-join on ``xxhash64(variant)`` (8-byte
    shuffle keys; hash collisions are harmless, the verify step computes
    ``levenshtein`` on the ORIGINAL strings). Distinct fact keys are
    resolved once and the resolution map joins back, so shuffle volume
    scales with distinct-key × neighborhood size, never |facts| × |dim|.
    With ``broadcast_dim`` (default) the exploded dim variant table is
    broadcast and candidate generation is map-side.
    """
    norm_fact = "__fuzzy_k"
    keys = (
        facts.select(norm_key(F.col(fact_key)).alias(norm_fact))
        .filter(F.col(norm_fact).isNotNull() & (F.col(norm_fact) != ""))
        .distinct()
    )
    cand_f = keys.select(
        norm_fact,
        F.explode(deletion_neighborhood(F.col(norm_fact), max_dist)).alias("__v"),
    ).select(norm_fact, F.xxhash64("__v").alias("__vh"))

    names = (
        dim.select(
            norm_key(F.col(dim_name_col)).alias("__name"),
            F.col(dim_id).alias(out_col),
        )
        .filter(F.col("__name").isNotNull() & (F.col("__name") != ""))
        .groupBy("__name")
        .agg(F.min(out_col).alias(out_col))
    )
    cand_d = names.select(
        "__name",
        out_col,
        F.explode(deletion_neighborhood(F.col("__name"), max_dist)).alias("__v"),
    ).select("__name", out_col, F.xxhash64("__v").alias("__vh"))
    if broadcast_dim:
        cand_d = F.broadcast(cand_d)

    resolved = (
        cand_f.join(cand_d, "__vh")
        .select(norm_fact, "__name", out_col)
        .distinct()  # many shared variants per (key, name) pair → one verify
        .withColumn("__dist", F.levenshtein(F.col(norm_fact), F.col("__name")))
        .filter(F.col("__dist") <= max_dist)
        .groupBy(norm_fact)
        .agg(F.min(F.struct("__dist", out_col)).alias("__best"))
        .select(
            norm_fact,
            F.col(f"__best.{out_col}").alias(out_col),
            F.col("__best.__dist").alias("__dist"),
        )
    )

    out = facts.withColumn(norm_fact, norm_key(F.col(fact_key))).join(
        resolved, norm_fact, "left"
    )
    if dist_col is not None:
        out = out.withColumn(dist_col, F.col("__dist"))
    return out.drop(norm_fact, "__dist")


# ---------------------------------------------------------------------------
# Bloom-filter pre-join pruning (explicit runtime filter)
# ---------------------------------------------------------------------------
#
# Before a shuffle join where most probe-side rows have NO match (FK
# filtering against a selective dim, incremental syncs, log⋈entity), the
# dominant cost is shuffling rows that the join will discard. Spark's own
# InjectRuntimeFilter fires only under narrow conditions (and never
# across a checkpoint/stage boundary you control); this is the explicit
# form: build a bloom filter over the build side's keys (one small agg),
# broadcast it (~1 MB for 8M bits), and drop probe rows map-side BEFORE
# the shuffle. No false negatives by construction — the same
# xxhash64(key, seed_i) family computes both sides, entirely JVM-side.


def build_bloom(
    keys: DataFrame,
    key_col: str,
    num_bits: int = 1 << 23,
    num_hashes: int = 5,
) -> DataFrame:
    """ONE-row DataFrame ``(bits: array<bigint>, num_bits: bigint,
    num_hashes: int)`` — a bloom filter over ``keys[key_col]`` as a dense
    little-endian word array of ``num_bits/64`` longs, with the sizing
    parameters carried IN the frame so :func:`bloom_semi_filter` always
    probes with the exact parameters the filter was built with (a
    caller-supplied mismatch would silently produce false negatives).
    Build shape: explode ``num_hashes`` positions per key (narrow),
    ``bit_or`` by word index (one shuffle over ≤ num_bits/64 groups with
    map-side partial OR), then assemble the dense array via a sorted
    collect into the single output row. num_bits=2^23 / 5 hashes holds
    ~1M keys at ≲3% false-positive rate; size num_bits ≈ 10×|keys| for
    ~1%."""
    if num_bits % 64 != 0:
        raise ValueError("num_bits must be a multiple of 64")
    num_words = num_bits // 64
    seeds = F.sequence(F.lit(0), F.lit(num_hashes - 1))
    pos = keys.select(
        F.explode(seeds).alias("__seed"), F.col(key_col).alias("__k")
    ).select(
        F.pmod(F.xxhash64("__k", "__seed"), F.lit(num_bits)).alias("__pos")
    )
    sparse = pos.select(
        F.expr("__pos DIV 64").alias("__word"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(__pos % 64 AS INT))").alias(
            "__bit"
        ),
    ).groupBy("__word").agg(F.bit_or("__bit").alias("__bits"))
    # dense array: one row per word index (zeros included via range left
    # join), sorted collect into the single output row, bits extracted in
    # order — O(num_words log num_words) once, all JVM
    dense = (
        keys.sparkSession.range(num_words)
        .select(F.col("id").alias("__word"))
        .join(sparse, "__word", "left")
        .select("__word", F.coalesce("__bits", F.lit(0).cast("long")).alias("__bits"))
    )
    packed = dense.agg(
        F.array_sort(F.collect_list(F.struct("__word", "__bits"))).alias("__sp")
    )
    return packed.select(
        F.transform(F.col("__sp"), lambda s: s.getField("__bits")).alias("bits"),
        F.lit(num_bits).cast("bigint").alias("num_bits"),
        F.lit(num_hashes).cast("int").alias("num_hashes"),
    )


def bloom_semi_filter(
    probe: DataFrame,
    bloom: DataFrame,
    key_col: str,
    num_bits: int | None = None,
    num_hashes: int | None = None,
) -> DataFrame:
    """Drop probe rows whose key is definitely NOT in the bloom filter
    (``bloom`` = the one-row frame from :func:`build_bloom`, broadcast).
    Superset semantics: every true match survives (no false negatives);
    false positives pass through and are removed by the real join that
    follows — so this composes with ANY downstream join without changing
    its result, it only shrinks what gets shuffled. NULL keys are kept
    (their join behavior is the downstream operator's business).

    Probe parameters come FROM the bloom frame's ``num_bits``/
    ``num_hashes`` columns (written by :func:`build_bloom`), so a
    mismatched probe configuration — which would silently drop matching
    rows — cannot happen. The ``num_bits``/``num_hashes`` arguments are
    only a fallback for bloom frames persisted before the parameters were
    embedded; when both the columns and the arguments are present the
    columns win. The membership test is a ``forall`` over
    ``sequence(0, num_hashes - 1)``, entirely JVM-side, evaluated against
    the broadcast one-row frame — no per-parameter literals baked into
    the plan.

    The probe key column must have the SAME data type as the build-side
    key: xxhash64 hashes by type, so an int-vs-bigint mismatch silently
    hashes differently and breaks the no-false-negative guarantee — cast
    one side before calling (the joined columns would need that cast
    anyway)."""
    have_meta = "num_bits" in bloom.columns and "num_hashes" in bloom.columns
    if have_meta:
        b = bloom.select(
            F.col("bits").alias("__bloom_bits"),
            F.col("num_bits").cast("bigint").alias("__bloom_nbits"),
            F.col("num_hashes").cast("int").alias("__bloom_nh"),
        )
    else:
        if num_bits is None or num_hashes is None:
            raise ValueError(
                "bloom frame lacks num_bits/num_hashes columns and no "
                "fallback parameters were passed — rebuild with build_bloom "
                "or pass the exact build-time num_bits/num_hashes"
            )
        b = bloom.select(
            F.col("bits").alias("__bloom_bits"),
            F.lit(num_bits).cast("bigint").alias("__bloom_nbits"),
            F.lit(num_hashes).cast("int").alias("__bloom_nh"),
        )
    f = probe.crossJoin(F.broadcast(b))
    from ..functions.text import quote_ident

    key = quote_ident(key_col)
    # one bit test per seed; seeds are INT (matching build_bloom's
    # explode(sequence(...)) seed type so xxhash64 agrees bit-for-bit)
    member = F.expr(
        f"forall(sequence(0, __bloom_nh - 1), i -> "
        f"(element_at(__bloom_bits, "
        f"CAST(pmod(xxhash64({key}, i), __bloom_nbits) DIV 64 AS INT) + 1) & "
        f"shiftleft(CAST(1 AS BIGINT), "
        f"CAST(pmod(xxhash64({key}, i), __bloom_nbits) % 64 AS INT))) != 0)"
    )
    return f.filter(F.col(key_col).isNull() | member).drop(
        "__bloom_bits", "__bloom_nbits", "__bloom_nh"
    )
