"""Similarity search over embedding columns (`array<float>`).

The rung ladder, trading exactness for scan cost and memory:

- ``brute_force_topk`` — exact cosine top-k: broadcast the query set,
  score in a mapInPandas matrix kernel, window-rank per query. The
  correctness baseline; linear corpus scan per query batch.
- ``ivf_topk`` — IVF bucketing with deterministic centroids; every
  query scans only its nprobe cells.
- ``srp_lsh_topk`` — signed-random-projection LSH: data-independent and
  append-stable (no training state at all).
- ``train_pq_codebooks`` / ``pq_encode`` / ``pq_topk`` — product
  quantization: 32x-compressed 8-byte codes scored via ADC lookup
  tables, with an exact-refine shortlist stage.

Output is (query id, neighbor id, rank) — ids and integer ranks only, so
float noise between engines cannot flip a compared value.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.vectors import cosine_arrow


def _exact_local_topk(sims, ids, top):
    """Row indices of the per-query local top-``top`` under the GLOBAL
    tie-break (sim desc, neighbor_id asc) — shape (top, n_queries).

    ``argpartition(-sims)`` alone picks an ARBITRARY subset among rows
    tied exactly at the boundary, so a local top-k could drop the very
    candidate the global window would keep (duplicate embeddings — the
    pre-dedup norm — tie exactly), breaking the "local top-k is a
    superset of its members in the global top-k" exactness argument
    every kernel here relies on. Sorting rows by id once, then a STABLE
    per-query sort on -sim, resolves ties toward the lowest neighbor id
    — identical to the window's ordering."""
    import numpy as np

    id_order = np.argsort(ids, kind="stable")
    idx = np.argsort(-sims[id_order], axis=0, kind="stable")[:top]
    return id_order[idx]


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    max_queries: int = 10_000,
) -> DataFrame:
    """Exact top-k neighbors per query by cosine. Ties broken by neighbor
    id for determinism.

    Execution: the (small) query set is collected and shipped into a
    ``mapInPandas`` kernel — each corpus partition computes one normalized
    (batch × queries) matrix product in numpy and emits only its LOCAL
    top-k per query. The final window merges partition candidates, so the
    shuffle carries ≤ partitions × |Q| × k rows instead of |corpus| × |Q|.
    The corpus scan is embarrassingly parallel — the 100 TB path, provided
    |Q| stays driver-sized (use ivf_topk for query-heavy workloads).
    """
    import numpy as np
    import pandas as pd

    # guard the driver-side collect: the kernel broadcasts the whole query
    # matrix into every task's closure, so |Q| must stay driver-sized
    q_rows = queries.select(query_id_col, vec_col).limit(max_queries + 1).collect()
    if len(q_rows) > max_queries:
        raise ValueError(
            f"brute_force_topk collects the query set to the driver; got "
            f"> {max_queries} queries. Use brute_force_topk_distributed "
            f"(tiled exact), or ivf_topk / srp_lsh_topk for "
            f"query-heavy approximate workloads, or raise max_queries "
            f"explicitly."
        )
    qids = np.array([r[0] for r in q_rows], dtype=np.int64)
    qm = np.stack([np.asarray(r[1], dtype=np.float64) for r in q_rows])
    qnorm = np.linalg.norm(qm, axis=1)
    qm = qm / np.where(qnorm == 0, 1.0, qnorm)[:, None]

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            cm = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            cnorm = np.linalg.norm(cm, axis=1)
            cm = cm / np.where(cnorm == 0, 1.0, cnorm)[:, None]
            sims = cm @ qm.T  # (batch, queries)
            top = min(k, len(ids))
            # local top-k per query under the global tie-break
            idx = _exact_local_topk(sims, ids, top)
            out_q = np.repeat(qids, top)
            out_n = ids[idx].T.ravel()
            out_s = np.take_along_axis(sims, idx, axis=0).T.ravel()
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "sim": out_s}
            )

    candidates = corpus.select(id_col, vec_col).mapInPandas(
        score, "query_id long, neighbor_id long, sim double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        candidates.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def brute_force_topk_distributed(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_blocks: int = 8,
    corpus_blocks: int = 8,
) -> DataFrame:
    """Exact cosine top-k for query sets too large to broadcast — the
    tiled completion of :func:`brute_force_topk` (same results, pinned
    equal in tests). Both frames hash-block (queries into
    ``query_blocks``, corpus into ``corpus_blocks``); each side
    replicates across the OTHER side's block axis (an explode of block
    ids — shuffle volume |corpus|×query_blocks + |Q|×corpus_blocks
    vector rows, never |corpus|×|Q| score pairs); each (corpus-block,
    query-block) tile co-groups into one normalized matrix product
    emitting its local top-k per query; a global per-query window
    merges (a tile-local top-k is a superset of its members in the
    global top-k, so this is exact).

    Exact corpus×corpus scoring is Θ(n²·d) COMPUTE no matter how it is
    arranged — this operator makes the arrangement linear-shuffle and
    embarrassingly parallel (tiles = corpus_blocks × query_blocks
    independent tasks), it cannot make the arithmetic cheaper; that is
    what the approximate rungs are for. Size the block counts so
    one tile (corpus/corpus_blocks + |Q|/query_blocks vectors) fits an
    executor."""
    import numpy as np
    import pandas as pd

    c = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")
        )
        .withColumn(
            "__cb",
            F.pmod(F.xxhash64("neighbor_id"), F.lit(corpus_blocks)).cast("int"),
        )
        .withColumn(
            "__qb", F.explode(F.sequence(F.lit(0), F.lit(query_blocks - 1)))
        )
    )
    q = (
        queries.select(
            F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("qvec")
        )
        .withColumn(
            "__qb",
            F.pmod(F.xxhash64("query_id"), F.lit(query_blocks)).cast("int"),
        )
        .withColumn(
            "__cb", F.explode(F.sequence(F.lit(0), F.lit(corpus_blocks - 1)))
        )
    )

    def tile(key, c_pdf, q_pdf) -> pd.DataFrame:
        if len(c_pdf) == 0 or len(q_pdf) == 0:
            return pd.DataFrame(
                {"query_id": pd.Series(dtype="int64"),
                 "neighbor_id": pd.Series(dtype="int64"),
                 "sim": pd.Series(dtype="float64")}
            )
        qids = q_pdf["query_id"].to_numpy(dtype=np.int64)
        qm = np.stack([np.asarray(v, dtype=np.float64) for v in q_pdf["qvec"]])
        qn = np.linalg.norm(qm, axis=1)
        qm = qm / np.where(qn == 0, 1.0, qn)[:, None]
        ids = c_pdf["neighbor_id"].to_numpy(dtype=np.int64)
        cm = np.stack([np.asarray(v, dtype=np.float64) for v in c_pdf["cvec"]])
        cn = np.linalg.norm(cm, axis=1)
        cm = cm / np.where(cn == 0, 1.0, cn)[:, None]
        sims = cm @ qm.T
        top = min(k, len(ids))
        idx = _exact_local_topk(sims, ids, top)
        return pd.DataFrame(
            {
                "query_id": np.repeat(qids, top),
                "neighbor_id": ids[idx].T.ravel(),
                "sim": np.take_along_axis(sims, idx, axis=0).T.ravel(),
            }
        )

    candidates = (
        c.groupBy("__cb", "__qb")
        .cogroup(q.groupBy("__cb", "__qb"))
        .applyInPandas(tile, "query_id long, neighbor_id long, sim double")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        candidates.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def _assign_centroid(
    df: DataFrame, cent_mat, key: str, vec: str, n: int
) -> DataFrame:
    """Top-n nearest centroids per row via a mapInPandas matrix kernel.

    ``cent_mat`` is the L2-normalized (nlist × d) numpy centroid matrix —
    nlist is driver-sized by construction, so shipping it in the closure
    replaces a join + per-pair UDF + window with one batch matmul and no
    shuffle at all.
    """
    import numpy as np
    import pandas as pd

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vm = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec]])
            norms = np.linalg.norm(vm, axis=1)
            vm = vm / np.where(norms == 0, 1.0, norms)[:, None]
            sims = vm @ cent_mat.T  # (batch, nlist)
            top = min(n, sims.shape[1])
            # ties broken by centroid id: argsort on (-sim, id) via stable sort
            order = np.argsort(-sims, axis=1, kind="stable")[:, :top]
            out = pdf.loc[pdf.index.repeat(top)].reset_index(drop=True)
            out["centroid_id"] = order.ravel().astype(np.int32)
            yield out

    # carry every input column through at its REAL type (string doc
    # ids, extra payload columns) — hard-coding long broke non-long ids
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", centroid_id int"
    return df.mapInPandas(kernel, schema)


def _ivf_centroids(
    c: DataFrame, nlist: int, refine_iters: int = 3, sample_mult: int = 64
):
    """Deterministic centroid matrix (nlist × d, L2-normalized).

    Init: the ``nlist`` lowest hash-of-id corpus vectors (orderBy+limit
    executes as a distributed top-k — no global sort). Refinement:
    ``refine_iters`` spherical-Lloyd iterations over a deterministic
    driver-sized sample (the ``nlist*sample_mult`` lowest-hash vectors,
    capped) computed in numpy on the driver — raising centroid quality
    lifts worst-query recall (an arbitrary-vector init leaves some cells
    huge and neighbors straddling many cells). Fully deterministic, no
    randomness anywhere: the sample is hash-ordered, rows are processed
    in sorted-id order, assignment ties break toward the lowest centroid
    id (the SAME rule as the distributed assignment kernel's stable
    argsort), an emptied cluster keeps its previous centroid, and
    centroids re-normalize to the sphere each round (assignment is by
    max cosine). Reruns and oracles agree.

    Driver-memory bound: the sample cap (16,384 rows) keeps the collect
    at ~100 MB of float64 even for 768-dim embeddings (Row overhead
    ~3×); at large nlist this thins the per-cell sample (16 rows/cell
    at nlist=1024) — still a refinement over raw-vector init, and the
    deterministic init keeps working regardless."""
    import numpy as np

    n_sample = min(max(nlist * sample_mult, nlist), 16_384)
    sample = (
        c.select("neighbor_id", "cvec", F.xxhash64("neighbor_id").alias("__h"))
        .orderBy("__h", "neighbor_id")
        .limit(n_sample)
        .collect()
    )
    init = sorted(sample, key=lambda r: (r["__h"], r["neighbor_id"]))[:nlist]
    init.sort(key=lambda r: r["neighbor_id"])
    cent_mat = np.stack([np.asarray(r["cvec"], dtype=np.float64) for r in init])
    cnorm = np.linalg.norm(cent_mat, axis=1)
    cent_mat = cent_mat / np.where(cnorm == 0, 1.0, cnorm)[:, None]

    if refine_iters > 0 and len(sample) > nlist:
        rows = sorted(sample, key=lambda r: r["neighbor_id"])
        x = np.stack([np.asarray(r["cvec"], dtype=np.float64) for r in rows])
        xn = np.linalg.norm(x, axis=1)
        x = x / np.where(xn == 0, 1.0, xn)[:, None]
        for _ in range(refine_iters):
            sims = x @ cent_mat.T
            assign = np.argsort(-sims, axis=1, kind="stable")[:, 0]
            new_c = cent_mat.copy()
            for j in range(cent_mat.shape[0]):
                members = x[assign == j]
                if len(members):
                    v = members.mean(axis=0)
                    norm = np.linalg.norm(v)
                    if norm > 0:
                        new_c[j] = v / norm
            cent_mat = new_c
    return cent_mat


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: IVF bucketing with deterministic Lloyd-refined
    centroids (hash-ordered sample init + seeded spherical k-means on
    the driver — see :func:`_ivf_centroids`; no randomness anywhere, so
    reruns and oracles agree)."""
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec"))
    cent_mat = _ivf_centroids(c, nlist)
    assigned = _assign_centroid(c, cent_mat, "neighbor_id", "cvec", 1)
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    probed = _assign_centroid(q, cent_mat, "query_id", "qvec", nprobe)

    scored = probed.join(assigned, "centroid_id").withColumn(
        "sim", cosine_arrow(F.col("qvec"), F.col("cvec"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def _srp_bands(df: DataFrame, planes, key_out: str, id_col: str, vec_col: str, bands: int):
    """(id, band, chunk) signature rows via one mapInPandas matrix kernel.

    ``planes`` is the seeded (n_bits × d) hyperplane matrix shipped in the
    closure; chunk packs each band's sign bits into an int. One narrow
    map — no shuffle, no training pass (the hash family is
    data-independent, unlike IVF centroids).
    """
    import numpy as np
    import pandas as pd

    n_bits = planes.shape[0]
    width = n_bits // bands
    weights = (1 << np.arange(width, dtype=np.int64))

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            vm = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            bits = (vm @ planes.T) >= 0  # (batch, n_bits)
            out_id = np.repeat(ids, bands)
            out_band = np.tile(np.arange(bands, dtype=np.int32), len(ids))
            chunks = np.stack(
                [bits[:, b * width : (b + 1) * width] @ weights for b in range(bands)]
            ).T.ravel()
            yield pd.DataFrame(
                {key_out: out_id, "band": out_band, "chunk": chunks}
            )

    return df.select(id_col, vec_col).mapInPandas(
        kernel, f"{key_out} long, band int, chunk long"
    )


def srp_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_bits: int = 16,
    bands: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    d: int | None = None,
) -> DataFrame:
    """Approximate top-k via signed-random-projection LSH (Charikar'02):
    signature = sign bits of ``n_bits`` seeded random hyperplanes, banded;
    a corpus row is a candidate iff it shares ≥1 band chunk with the
    query; exact cosine scores the candidates.

    vs ``ivf_topk``: no centroid build pass and no data-dependent state —
    ingest-side signatures are a pure map, so the index survives arbitrary
    appends unchanged; the trade is weaker pruning on low-similarity
    neighborhoods (collision probability (1-θ/π)^width per band).
    """
    import numpy as np

    # seeded, data-independent hyperplanes; pass d explicitly to avoid an
    # extra Spark job — the .first() probe is only the fallback
    if d is None:
        d = len(corpus.select(vec_col).first()[0])
    planes = np.random.default_rng(seed).standard_normal((n_bits, d))

    c_sig = _srp_bands(corpus, planes, "neighbor_id", id_col, vec_col, bands)
    q_sig = _srp_bands(queries, planes, "query_id", query_id_col, vec_col, bands)
    candidates = (
        q_sig.join(c_sig, ["band", "chunk"])
        .select("query_id", "neighbor_id")
        .distinct()
    )

    qv = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")
    )
    scored = (
        candidates.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .withColumn("sim", cosine_arrow(F.col("qvec"), F.col("cvec")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): the memory-compression rung for vector serving.
# A d-dim float32 vector (256 bytes at d=64) compresses to m uint8 codes
# (8 bytes at m=8) — 32x — and queries score codes via per-subspace lookup
# tables (asymmetric distance computation) without ever touching the full
# vectors. The standard shortlist+refine stack at 100 TB: ADC over codes
# produces a candidate set, exact rescoring on the shortlist restores
# recall. (Public method: Jegou, Douze, Schmid, "Product Quantization for
# Nearest Neighbor Search", IEEE TPAMI 2011.)
# ---------------------------------------------------------------------------


def train_pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    ksub: int = 256,
    sample_size: int = 2048,
    iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Deterministic per-subspace k-means codebooks, (m, ksub, d/m).

    Training sample = the ``sample_size`` lowest hash-of-id vectors (the
    same no-randomness device as _ivf_centroids: reruns agree
    byte-for-byte). Vectors are L2-normalized first, so
    inner-product ADC over codes estimates cosine. Driver-side numpy
    k-means — ksub × m × iters tiny (ksub, dsub) updates; the corpus is
    only sampled, never collected."""
    vm = _sample_normalized(corpus, sample_size, id_col, vec_col)
    if vm.shape[1] % m != 0:
        raise ValueError(f"dimension {vm.shape[1]} not divisible by m={m}")
    return _train_books_on(vm, m, ksub, iters)


def train_opq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    ksub: int = 256,
    sample_size: int = 2048,
    iters: int = 10,
    opq_iters: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """OPQ variant of :func:`train_pq_codebooks`: returns ``(rotation,
    codebooks)`` — a learned d×d orthogonal rotation (see
    :func:`_train_opq_on`) plus per-subspace codebooks trained on the
    rotated sample. Pass both to :func:`pq_encode` / :func:`pq_topk`
    (``rotation=``); same determinism contract as plain PQ."""
    vm = _sample_normalized(corpus, sample_size, id_col, vec_col)
    if vm.shape[1] % m != 0:
        raise ValueError(f"dimension {vm.shape[1]} not divisible by m={m}")
    return _train_opq_on(vm, m, ksub, iters, opq_iters)


def _sample_normalized(
    corpus: DataFrame, sample_size: int, id_col: str, vec_col: str
):
    """Deterministic L2-normalized training sample (the sample_size
    lowest hash-of-id vectors), shared by PQ and OPQ training."""
    import numpy as np

    rows = (
        corpus.select(id_col, vec_col)
        .orderBy(F.xxhash64(id_col), id_col)
        .limit(sample_size)
        .collect()
    )
    vm = np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
    norms = np.linalg.norm(vm, axis=1)
    return vm / np.where(norms == 0, 1.0, norms)[:, None]


def _pq_assign_codes(xr, books):
    """Per-subspace nearest-codeword assignment of an (n, d) matrix →
    (n, m) uint8 codes. THE one implementation of the PQ encode rule
    (||x−c||² = ||x||² − 2⟨x,c⟩ + ||c||², argmin) — the encode kernel
    and OPQ training both call this."""
    import numpy as np

    m, ksub, dsub = books.shape
    codes = np.empty((len(xr), m), dtype=np.uint8)
    for mi in range(m):
        x = xr[:, mi * dsub : (mi + 1) * dsub]
        cb = books[mi]
        d2 = (
            (x * x).sum(axis=1)[:, None]
            - 2.0 * (x @ cb.T)
            + (cb * cb).sum(axis=1)[None, :]
        )
        codes[:, mi] = d2.argmin(axis=1).astype(np.uint8)
    return codes


def _pq_reconstruct(xr, books):
    """Encode-then-decode an (n, d) matrix with per-subspace codebooks —
    the reconstruction OPQ's rotation update minimizes against."""
    import numpy as np

    m, ksub, dsub = books.shape
    codes = _pq_assign_codes(xr, books)
    out = np.empty_like(xr)
    for mi in range(m):
        out[:, mi * dsub : (mi + 1) * dsub] = books[mi][codes[:, mi]]
    return out


def _train_opq_on(vm, m: int, ksub: int, iters: int, opq_iters: int):
    """OPQ-NP (Ge, He, Ke, Sun, "Optimized Product Quantization", CVPR
    2013 — the non-parametric variant): alternate (a) per-subspace
    k-means on the ROTATED sample with (b) the closed-form orthogonal
    Procrustes update R = V·Uᵀ from SVD(XᵀY) — X the sample, Y its
    current reconstruction. The learned rotation decorrelates subspaces
    before the split, cutting quantization error vs identity-rotation PQ
    (measured per-query recall-floor lift pinned in the knn_ann query).
    Fully deterministic: identity init, seeded k-means
    (:func:`_train_books_on`), and SVD of a fixed matrix — reruns and
    oracles agree. Returns ``(R, books)``; encode
    ``x @ R.T``, query LUTs from ``R·q`` (rotations preserve inner
    products)."""
    import numpy as np

    d = vm.shape[1]
    rot = np.eye(d)
    books = None
    for _ in range(max(opq_iters, 1)):
        xr = vm @ rot.T
        books = _train_books_on(xr, m, ksub, iters)
        if opq_iters <= 0:
            break
        recon = _pq_reconstruct(xr, books)
        u, _, vt = np.linalg.svd(vm.T @ recon)
        rot = (u @ vt).T  # Procrustes: min_R ||vm @ R.T - recon||
    return rot, books


def _train_books_on(vm, m: int, ksub: int, iters: int):
    """Seeded per-subspace k-means over an (n, d) sample matrix of
    normalized vectors."""
    import numpy as np

    d = vm.shape[1]
    dsub = d // m
    rng = np.random.default_rng(42)
    books = np.empty((m, ksub, dsub))
    for mi in range(m):
        x = vm[:, mi * dsub : (mi + 1) * dsub]
        # seeded init: sample rows (with replacement if the corpus sample
        # is smaller than ksub)
        init_idx = rng.choice(len(x), size=ksub, replace=len(x) < ksub)
        cb = x[init_idx].copy()
        x_sq = (x * x).sum(axis=1)[:, None]
        for _ in range(iters):
            # ||x-c||^2 = ||x||^2 - 2<x,c> + ||c||^2 — one matmul instead
            # of an (n, ksub, dsub) broadcast tensor
            d2 = x_sq - 2.0 * (x @ cb.T) + (cb * cb).sum(axis=1)[None, :]
            assign = d2.argmin(axis=1)
            # vectorized centroid update (np.bincount per dim — C-speed
            # scatter-add; np.add.at is an order of magnitude slower on
            # this shape); empty clusters keep their previous codeword
            # (deterministic)
            counts = np.bincount(assign, minlength=ksub)
            sums = np.stack(
                [
                    np.bincount(assign, weights=x[:, j], minlength=ksub)
                    for j in range(dsub)
                ],
                axis=1,
            )
            nz = counts > 0
            cb[nz] = sums[nz] / counts[nz, None]
        books[mi] = cb
    return books


def pq_encode(
    corpus: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rotation=None,
) -> DataFrame:
    """(id, codes: binary) — m bytes per vector (ksub ≤ 256). The
    encoded table is what a 100 TB deployment persists and scans; the
    float vectors are only needed again for the optional refine stage.
    ``rotation``: the OPQ matrix from :func:`train_opq_codebooks` —
    vectors are rotated before the subspace split (queries must then
    pass the SAME rotation to :func:`pq_topk`)."""
    import numpy as np
    import pandas as pd

    books = codebooks
    m, ksub, dsub = books.shape
    if ksub > 256:
        raise ValueError("binary codes require ksub <= 256")

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vm = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            norms = np.linalg.norm(vm, axis=1)
            vm = vm / np.where(norms == 0, 1.0, norms)[:, None]
            if rotation is not None:
                vm = vm @ rotation.T
            codes = _pq_assign_codes(vm, books)
            yield pd.DataFrame(
                {
                    "id": pdf[id_col].to_numpy(dtype=np.int64),
                    "codes": [c.tobytes() for c in codes],
                }
            )

    return (
        corpus.select(id_col, vec_col)
        .mapInPandas(kernel, "id long, codes binary")
        .withColumnRenamed("id", id_col)
    )


def pq_topk(
    codes_df: DataFrame,
    codebooks,
    queries: DataFrame,
    k: int = 10,
    refine_corpus: DataFrame | None = None,
    refine_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    max_queries: int = 10_000,
    rotation=None,
) -> DataFrame:
    """Approximate cosine top-k over PQ codes via asymmetric distance
    computation: per query, one (m × ksub) inner-product lookup table;
    each corpus partition scores its codes by m table gathers (never
    reconstructing vectors) and emits only its local top shortlist —
    the same partition-local top-k shuffle shape as brute_force_topk,
    over 8-byte codes instead of 256-byte vectors.

    With ``refine_corpus`` (the float-vector table), the ADC shortlist
    of k × refine_factor candidates per query is exactly rescored
    (cosine on true vectors, candidates semi-joined — the corpus is NOT
    rescanned) — the standard two-stage stack that restores recall lost
    to quantization.

    ``rotation``: the OPQ matrix the codes were encoded with — only the
    query LUTs rotate (rotations preserve inner products)."""
    import numpy as np
    import pandas as pd

    books = codebooks
    m, ksub, dsub = books.shape
    q_rows = (
        queries.select(query_id_col, vec_col).limit(max_queries + 1).collect()
    )
    if len(q_rows) > max_queries:
        raise ValueError(
            f"pq_topk collects the query set to the driver; got > "
            f"{max_queries} queries — raise max_queries explicitly."
        )
    qids = np.array([r[0] for r in q_rows], dtype=np.int64)
    qm = np.stack([np.asarray(r[1], dtype=np.float64) for r in q_rows])
    qnorm = np.linalg.norm(qm, axis=1)
    qm = qm / np.where(qnorm == 0, 1.0, qnorm)[:, None]
    # LUT[q, mi, code] = <q_sub(mi), codeword>: ADC sim = sum_mi LUT gather.
    # OPQ: codes quantize ROTATED vectors, and rotations preserve inner
    # products, so only the LUT side rotates.
    qr = qm if rotation is None else qm @ rotation.T
    luts = np.einsum(
        "qmd,mkd->qmk", qr.reshape(len(qr), m, dsub), books
    )
    shortlist = k * refine_factor if refine_corpus is not None else k

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            codes = np.stack(
                [np.frombuffer(c, dtype=np.uint8) for c in pdf["codes"]]
            )
            sims = np.zeros((len(ids), len(qids)))
            for mi in range(m):
                sims += luts[:, mi, codes[:, mi]].T  # (batch, Q)
            top = min(shortlist, len(ids))
            idx = _exact_local_topk(sims, ids, top)
            out = pd.DataFrame(
                {
                    "query_id": np.repeat(qids, top),
                    "neighbor_id": ids[idx].T.ravel(),
                    "sim": np.take_along_axis(sims, idx, axis=0).T.ravel(),
                }
            )
            yield out

    candidates = codes_df.select(id_col, "codes").mapInPandas(
        score, "query_id long, neighbor_id long, sim double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    if refine_corpus is None:
        return (
            candidates.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank")
        )
    ranked = (
        candidates.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    # exact refine: rescore ONLY the shortlist against true vectors
    qdf = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    cv = refine_corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")
    )
    rescored = (
        ranked.join(F.broadcast(qdf), "query_id")
        .join(cv, "neighbor_id")
        .withColumn("sim", cosine_arrow(F.col("qvec"), F.col("cvec")))
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        rescored.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )
