"""Distributed clustering over embedding columns: Lloyd's k-means and
product quantization (PQ) — the curation/compression stages of an
embedding pipeline (cluster-then-dedup à la SemDeDup; PQ codes for
billion-scale ANN à la Jégou et al. 2011).

Every codebook fit — ``kmeans``, the PQ and OPQ codebooks, the IVF
``centroids="kmeans"`` cells — runs one Lloyd lane, ``_lloyd``, over an
m x k x sub codebook (m = 1 for plain k-means). Centroids are the ONLY
driver-side state (kilobytes), shipped to executors in the kernel
closure. Each iteration is ONE corpus pass: a ``mapInPandas`` kernel
assigns every subspace with the one squared-L2 argmin (``_nearest``, a
blocked BLAS product per Arrow batch) and folds (sub, c, n, sum v) over
its whole partition, so at most m*k rows per partition reach the one
(sub, c) aggregate and at most m*k rows reach the driver. Iterations
are driver-driven (classic Lloyd's) over a base frame the lane caches
for the fit and releases when it returns or raises.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..operators.relational import topk_per_group
from ..sources.tables import local_frame
from .similarity import _as_double, sqdist


def _make_l2_helpers():
    # Factory, not plain module-level defs: the Lloyd fold and the
    # encoders call these on the executors, and cloudpickle ships a
    # module-level function by reference (README, Design rules).
    import numpy as np

    def sq_l2(A, C):
        """n x k squared L2 distances of the rows of ``A`` to the rows
        of ``C`` by one BLAS product: ||a||^2 - 2 a.c + ||c||^2. Exact
        for the fixed-point integer units (every term < 2^53)."""
        return (A * A).sum(axis=1, keepdims=True) - 2.0 * (A @ C.T) + (C * C).sum(axis=1)

    def nearest(A, books):
        """Nearest centre per subspace: ``books`` is m x k x sub and
        the columns of ``A`` are its m contiguous subvectors. Returns
        (codes, d2), both n x m; ties go to the lowest centre id."""
        m, _, sub = books.shape
        codes = np.empty((len(A), m), dtype=np.int32)
        d2 = np.empty((len(A), m))
        rows = np.arange(len(A))
        for j in range(m):
            t = sq_l2(A[:, j * sub:(j + 1) * sub], books[j])
            codes[:, j] = np.argmin(t, axis=1)
            d2[:, j] = t[rows, codes[:, j]]
        return codes, d2

    return sq_l2, nearest


_sq_l2, _nearest = _make_l2_helpers()


def _portable31(col):
    """(id mod 2^31) * 2654435761 mod 2^31 — the Knuth multiplicative
    hash, replayable in ANSI SQL and overflow-safe under ANSI mode (the
    31-bit fold keeps the product < 2^62)."""
    return ((col.cast("long") % F.lit(1 << 31)) * F.lit(2654435761)) % F.lit(1 << 31)


def _vec_units(vec, scale=None):
    """array<float> -> array<double>; with ``scale``, array<long> in
    fixed-point units floor(x*scale). float->double widening and the
    double multiply are IEEE-identical in any engine, and floor is
    unambiguous (unlike round-half ties), so the integer vectors are
    bit-identical in Spark and SQL."""
    if not scale:
        return _as_double(vec)
    return F.transform(
        _as_double(vec), lambda x: F.floor(x * F.lit(float(scale))).cast("long")
    )


def _seed_centroids(corpus, n, id_col, vec_col, portable=False, scale=None):
    """Deterministic pseudo-random seed sample: the ``n`` vectors with
    the smallest xxhash64(id) — a distributed TakeOrderedAndProject, no
    global window, reproducible across runs/engines. ``portable=True``
    orders by the Knuth 31-bit hash (id tie-break) instead, which an
    ANSI-SQL oracle can replay; ``scale`` additionally returns the
    vectors in integer fixed-point units (see ``_vec_units``)."""
    import numpy as np

    h = _portable31(F.col(id_col)) if portable else F.xxhash64(F.col(id_col))
    rows = (
        corpus.select(
            _vec_units(F.col(vec_col), scale).alias("cv"),
            h.alias("__h"),
            F.col(id_col).alias("__id"),
        )
        .orderBy("__h", "__id")
        .limit(n)
        .select("cv")
        .collect()
    )
    dt = np.int64 if scale else np.float64
    return np.stack([np.array(r["cv"], dtype=dt) for r in rows])


def _assign_kernel(cent_mat):
    """(cluster, squared distance) per vector via one BLAS product per
    Arrow batch against the broadcast-closure centroid matrix."""
    import numpy as np
    import pandas as pd

    books = cent_mat[None]

    def k(vs):
        codes, d2 = _nearest(np.stack(vs.to_numpy()), books)
        return pd.DataFrame({"cluster": codes[:, 0], "dist2": d2[:, 0]})

    # asNondeterministic: extracting BOTH struct fields (a.cluster,
    # a.dist2) through stacked projections otherwise inlines and
    # re-evaluates the BLAS pass up to 3x (three ArrowEvalPython nodes
    # in the embed_ivf plan for one assignment). Pure kernel; the mark
    # pins a single evaluation per row.
    # Standing constraint of the mark (r11 ADVICE): the pinned
    # expression may only appear under Project/Filter/Generate —
    # Spark raises AnalysisException for nondeterministic
    # expressions in join conditions or aggregate arguments, and no
    # other filter will push below it. Keep call sites
    # projection-shaped.
    return F.pandas_udf(k, "cluster int, dist2 double").asNondeterministic()


def _lloyd(base, seeds, max_iter, tol, replay):
    """Lloyd's iterations over ``base`` (id, v) for an m x k x sub
    codebook ``seeds`` (the columns of v are the m contiguous
    subvectors). Returns ``(books, n_iter)``.

    One pass per iteration: a ``mapInPandas`` kernel assigns every
    subspace with ``_nearest`` and folds the (sub, c, n, sum v) partials
    over its whole partition (at most m*k rows out), then one (sub, c)
    aggregate, its element sums written as SQL text, collects at most
    m*k rows. Empty clusters keep their centre. ``replay`` (int64 units):
    FLOORED integer means (numpy ``//`` == SQL ``floor(sum/n)``) and
    exactly ``max_iter`` iterations — the sums are exact, so neither
    partition nor batch order can change a digit. Float: sum / n; a
    subspace whose max centre shift^2 falls below ``tol`` keeps its
    centres from then on, and the loop ends once every subspace has.
    ``base`` is cached for the fit and released before returning, also
    when the fit raises."""
    import numpy as np
    import pandas as pd

    m, k, sub = seeds.shape
    dtype = "long" if replay else "double"
    sums = "array(" + ", ".join(f"sum(s[{i}])" for i in range(sub)) + ")"

    def fold_kernel(books):
        def fold(batches):
            n = np.zeros((m, k), dtype=np.int64)
            s = np.zeros((m, k, sub), dtype=books.dtype)
            for pdf in batches:
                if not len(pdf):
                    continue
                A = np.stack(pdf["v"].to_numpy())
                codes, _ = _nearest(A, books)
                for j in range(m):
                    n[j] += np.bincount(codes[:, j], minlength=k)
                    np.add.at(s[j], codes[:, j], A[:, j * sub:(j + 1) * sub])
            js, cs = np.nonzero(n)
            if len(js):
                yield pd.DataFrame({
                    "sub": js.astype(np.int32), "c": cs.astype(np.int32),
                    "n": n[js, cs], "s": list(s[js, cs]),
                })

        return fold

    books = seeds.copy()
    live = np.ones(m, dtype=bool)
    n_iter = 0
    base = base.persist()
    try:
        while n_iter < max_iter and live.any():
            n_iter += 1
            rows = (
                base.mapInPandas(
                    fold_kernel(books), f"sub int, c int, n long, s array<{dtype}>"
                )
                .groupBy("sub", "c")
                .agg(F.expr("sum(n)").alias("n"), F.expr(sums).alias("s"))
                .collect()
            )
            new = books.copy()
            for r in rows:
                s = np.array(r["s"], dtype=books.dtype)
                new[r["sub"], r["c"]] = s // r["n"] if replay else s / r["n"]
            if not replay:
                shift = ((new - books) ** 2).sum(axis=2).max(axis=1)
                new[~live] = books[~live]
                live &= shift >= tol
            books = new
    finally:
        base.unpersist(blocking=False)
    return books, n_iter


def _maximin_seeds(base, k):
    """Deterministic farthest-point seeding: start from the hash-min
    vector, then repeatedly add the point farthest (max min-dist2) from
    the chosen set — ties break on id. k-1 extra scans, each a blocked
    BLAS pass; the classic separable-blob failure of random seeding
    (two seeds in one blob -> a split/merged local minimum) cannot
    happen because each new seed is pulled to an uncovered region."""
    import numpy as np

    first = (
        base.select("v", F.xxhash64(F.col("id")).alias("__h"))
        .orderBy("__h").limit(1).collect()
    )
    seeds = [np.array(first[0]["v"])]
    for _ in range(1, k):
        cent = np.stack(seeds)
        far = (
            base.withColumn("a", _assign_kernel(cent)(F.col("v")))
            .select("id", "v", F.col("a.dist2").alias("d2"))
            .orderBy(F.col("d2").desc(), F.col("id"))
            .limit(1)
            .collect()
        )
        seeds.append(np.array(far[0]["v"]))
    return np.stack(seeds)


def kmeans(
    corpus: DataFrame,
    k: int = 8,
    max_iter: int = 10,
    tol: float = 1e-4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    init: str = "maximin",
    replay_scale: int | None = None,
):
    """Lloyd's k-means over an ``array<float>`` column. Returns
    ``(assignments, centers, n_iter)``: assignments is a DataFrame
    (id, cluster, dist2), centers a k x d numpy array.

    The fit is the m = 1 call of the Lloyd lane (``_lloyd``): per
    iteration ONE corpus scan -> blocked-BLAS argmin and a per-partition
    (cluster, n, sum v) fold in one Arrow kernel -> ONE (cluster)
    aggregate -> at most k rows collected to the driver. Stops early
    when max centroid shift^2 < ``tol``. Empty clusters keep their
    previous center (the standard convention). Deterministic: no RNG
    anywhere.

    ``init="maximin"`` (default) is deterministic farthest-point
    seeding — k-1 cheap extra scans that avoid the split-blob local
    minimum of random seeding; ``init="hash"`` is the one-scan
    hash-sample (use for large k where k-1 passes add up).

    ``replay_scale=S`` switches to EXACT-REPLAY fixed-point mode: the
    vectors become integer units floor(x*S), seeding orders by the
    Knuth 31-bit hash (SQL-replayable, unlike xxhash64), centroid
    updates are FLOORED integer means (Python ``//`` == SQL
    ``floor(sum/n)``), and exactly ``max_iter`` iterations run (``tol``
    ignored — an early stop isn't expressible as a fixed CTE chain).
    Every distance is then an exact integer (max |x|*S ~5e5 at S=1e6 ->
    d2 < 2^47, exact even through the float64 BLAS path), so
    assignments and dist2 replay BIT-IDENTICALLY in DuckDB as chained
    CTEs — the pagerank integer-determinism trick applied to Lloyd's.
    Returns dist2 as the exact integer distance (long), not a float.

    Reference analog: none (corpus op). This is the package's one
    k-means: it stays in the DataFrame/Arrow lane so it composes with
    the rest of the pipeline and its plan is auditable, and
    ``ivf_topk(centroids="kmeans")`` fits its cells with it.
    """
    base = corpus.select(
        F.col(id_col).alias("id"), _vec_units(F.col(vec_col), replay_scale).alias("v")
    )
    if replay_scale:
        seeds = _seed_centroids(
            corpus, k, id_col, vec_col, portable=True, scale=replay_scale
        )
    elif init == "maximin":
        seeds = _maximin_seeds(base, k)
    elif init == "hash":
        seeds = _seed_centroids(corpus, k, id_col, vec_col)
    else:
        raise ValueError(f"init must be 'maximin' or 'hash', got {init!r}")
    books, n_iter = _lloyd(base, seeds[None], max_iter, tol, bool(replay_scale))
    cent = books[0]
    dist_out = (
        F.col("a.dist2").cast("long")
        if replay_scale
        else F.round(F.col("a.dist2"), 6)
    )
    assignments = base.withColumn("a", _assign_kernel(cent)(F.col("v"))).select(
        F.col("id").alias(id_col),
        F.col("a.cluster").alias("cluster"),
        dist_out.alias("dist2"),
    )
    return assignments, cent, n_iter


def coreset_sample(
    corpus: DataFrame,
    per_cluster: int,
    k: int = 8,
    mode: str = "prototypical",
    max_iter: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    replay_scale: int | None = None,
) -> DataFrame:
    """Cluster-balanced coreset sampling over an embedding column — the
    SemDeDup/DataComp-style curation step (Abbas et al. 2023; Gadre et
    al. 2023): k-means the corpus, then keep ``per_cluster`` examples
    per cluster ranked by distance to their centroid.

    ``mode="prototypical"`` keeps the CLOSEST examples (canonical
    representatives — the prototypicality filter); ``mode="diverse"``
    keeps the FARTHEST (boundary/coverage sampling). Ties break on id,
    so the draw is fully deterministic; ``replay_scale`` switches the
    underlying k-means to exact-replay fixed-point mode (integer
    distances, SQL-replayable end to end).

    Returns ``(id_col, cluster, dist2, crank)`` with crank = 1-based
    rank within the cluster.

    Scale shape: the k-means cost (one scan per iteration, k x d driver
    state) plus a TWO-PHASE top-N per cluster: a per-Spark-partition
    prefilter window ((cluster, partition_id) partitions — parallelism
    = input splits) keeps at most ``per_cluster`` rows per cluster per
    split, then the global rank window sees <= per_cluster x splits
    rows per cluster. With small k a single global window would funnel
    the whole corpus through k tasks; the prefilter is a strict
    superset of every global top-N, so the result is unchanged.
    """
    if mode not in ("prototypical", "diverse"):
        raise ValueError(f"mode must be prototypical|diverse, got {mode!r}")
    from pyspark.sql import Window as W

    assignments, _, _ = kmeans(
        corpus,
        k=k,
        max_iter=max_iter,
        id_col=id_col,
        vec_col=vec_col,
        replay_scale=replay_scale,
    )
    order = [
        F.col("dist2").asc() if mode == "prototypical" else F.col("dist2").desc(),
        F.col(id_col).asc(),
    ]
    wloc = W.partitionBy("cluster", F.spark_partition_id()).orderBy(*order)
    pre = (
        assignments.withColumn("__lr", F.row_number().over(wloc))
        .filter(F.col("__lr") <= per_cluster)
        .drop("__lr")
    )
    wglob = W.partitionBy("cluster").orderBy(*order)
    return pre.withColumn(
        "crank", F.row_number().over(wglob).cast("int")
    ).filter(F.col("crank") <= per_cluster)


def pq_encode(
    corpus: DataFrame,
    m: int = 8,
    ks: int = 16,
    max_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    replay_scale: int | None = None,
):
    """Product quantization (Jégou et al. 2011): split each vector into
    ``m`` contiguous subvectors, k-means each subspace to ``ks``
    centers, encode every vector as its per-subspace nearest-center
    code. Returns ``(codes, codebooks)``: codes a DataFrame
    (id, codes array<int>, recon_err2 double), codebooks an
    m x ks x (d/m) numpy array.

    Compression: d floats -> m small ints (d=64, m=8, ks=16 is 256x).
    The codebook fit is ONE Lloyd lane call (``_lloyd``) for all ``m``
    subspaces, so it scans the corpus ``max_iter`` times whatever ``m``
    is; encoding is ONE scan with the m argmins in a single Arrow
    kernel. At 100 TB the codes table is what you keep hot for ANN —
    the float vectors page to cold storage.

    Seeding is one hash sample of ``ks`` whole vectors, sliced into the
    m subspaces: every subspace seeds from the SAME ids (the hash is on
    id only) — a valid deterministic choice the oracle mirrors.
    ``replay_scale=S`` propagates kmeans' exact-replay fixed-point mode
    to the fit and to the encoder: codebooks, codes and reconstruction
    errors become exact integers that an ANSI-SQL oracle replays
    bit-identically (``recon_err2`` is then the exact integer error,
    not a rounded float).
    """
    import numpy as np
    import pandas as pd

    seeds = _seed_centroids(
        corpus, ks, id_col, vec_col, portable=bool(replay_scale), scale=replay_scale
    )
    d = seeds.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m} subspaces")
    base = corpus.select(
        F.col(id_col).alias("id"), _vec_units(F.col(vec_col), replay_scale).alias("v")
    )
    books, _ = _lloyd(
        base, np.stack(np.split(seeds, m, axis=1)), max_iter, 1e-4, bool(replay_scale)
    )

    def enc(vs):
        codes, d2 = _nearest(np.stack(vs.to_numpy()), books)
        return pd.DataFrame({"codes": list(codes), "recon_err2": np.maximum(d2.sum(axis=1), 0.0)})

    # asNondeterministic: same §4.4 duplication as _assign_kernel — the
    # (codes, recon_err2) struct-field extraction re-planned the whole
    # PQ encode twice in the pq_topk/opq_gain plans
    # Standing constraint of the mark (r11 ADVICE): the pinned
    # expression may only appear under Project/Filter/Generate —
    # Spark raises AnalysisException for nondeterministic
    # expressions in join conditions or aggregate arguments, and no
    # other filter will push below it. Keep call sites
    # projection-shaped.
    enc_udf = F.pandas_udf(enc, "codes array<int>, recon_err2 double").asNondeterministic()
    err_out = (
        F.col("e.recon_err2").cast("long")
        if replay_scale
        else F.round(F.col("e.recon_err2"), 6)
    )
    codes = base.withColumn("e", enc_udf(F.col("v"))).select(
        F.col("id").alias(id_col),
        F.col("e.codes").alias("codes"),
        err_out.alias("recon_err2"),
    )
    return codes, books


def _opq_allocation(eigvals, m: int, sub: int) -> list[int]:
    """Ge et al. 2014's parametric eigenvalue allocation: assign PCA
    dimensions (eigval-descending) greedily to the subspace with the
    smallest current log-eigval product, capacity d/m each — balancing
    per-subspace variance so no codebook starves. Returns the dimension
    permutation (subspace-major)."""
    import math

    buckets: list[list[int]] = [[] for _ in range(m)]
    logs = [0.0] * m
    for i, ev in enumerate(eigvals):
        j = min(
            (j for j in range(m) if len(buckets[j]) < sub),
            key=lambda j: (logs[j], j),
        )
        buckets[j].append(i)
        logs[j] += math.log(max(float(ev), 1e-30))
    return [i for b in buckets for i in b]


def _matmul_kernel(rotation):
    """``x @ rotation.T`` per Arrow batch, the matrix shipped by value
    in the closure: no broadcast variable outlives the query."""
    import numpy as np
    import pandas as pd

    def rot(vs):
        return pd.Series(list(np.stack(vs.to_numpy()) @ rotation.T))

    return F.pandas_udf(rot, "array<double>")


def _opq_rotation(corpus, m, id_col, vec_col, scale):
    """The OPQ-lite rotation ``opq_encode`` and ``ivfopq_topk`` share:
    the PCA eigenbasis from ONE exact moment-sums pass
    (``linalg.embed_pca``; the d x d eigen step is driver-side), its
    dimensions permuted by ``_opq_allocation``. Returns
    ``(rotation, perm, rotate)``; ``rotate(df)`` is (id_col, vec_col)
    with vec_col the rotated doubles — ONE d x d matmul per Arrow batch
    (``_matmul_kernel``), not d folded Column dot-products. Applied
    UNCENTERED: k-means/PQ reconstruction error and L2 distances are
    translation-invariant, and queries take the same ``x @ R.T``."""
    import numpy as np

    from .linalg import embed_pca

    d = int(corpus.select(F.size(F.col(vec_col)).alias("d")).first()["d"])
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m} subspaces")
    _, comps, eigvals = embed_pca(
        corpus, k=d, vec_col=vec_col, id_col=id_col, dim=d, scale=scale
    )
    perm = _opq_allocation(eigvals, m, d // m)
    rotation = np.asarray(comps)[perm]  # permuted orthonormal d x d
    rot_udf = _matmul_kernel(rotation)

    def rotate(df):
        return df.select(
            F.col(id_col), rot_udf(_as_double(F.col(vec_col))).alias(vec_col)
        )

    return rotation, perm, rotate


def opq_encode(
    corpus: DataFrame,
    m: int = 8,
    ks: int = 16,
    max_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
):
    """OPQ-lite (Ge et al. 2014, "Optimized Product Quantization",
    the parametric initialization): rotate every vector by the PCA
    eigenbasis with eigenvalue-BALANCED dimension allocation, then
    product-quantize the rotated vectors. The rotation is orthonormal,
    so rotated-space reconstruction error equals original-space error —
    but the balanced allocation decorrelates subspaces and equalizes
    their variance, which is where plain PQ on raw dimensions loses
    accuracy on anisotropic embeddings.

    Returns ``(codes, codebooks, rotation, perm)``: codes/codebooks as
    ``pq_encode`` (recon_err2 is the original-space squared error),
    ``rotation`` the permuted k x d eigenbasis (apply to queries before
    ADC lookups), ``perm`` the dimension allocation.

    Scale shape: the rotation (``_opq_rotation``) runs inside the PQ
    fit's base frame, which the Lloyd lane caches for the fit and
    releases; the one encode scan recomputes it. The rotation is float
    (eigendecomposition), so there is no fixed-point replay path — the
    contract is the reconstruction-error improvement vs plain PQ, not a
    value oracle.
    """
    rotation, perm, rotate = _opq_rotation(corpus, m, id_col, vec_col, scale)
    codes, books = pq_encode(
        rotate(corpus), m=m, ks=ks, max_iter=max_iter, id_col=id_col,
        vec_col=vec_col,
    )
    return codes, books, rotation, perm


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 8,
    ks: int = 16,
    max_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine: int = 0,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k search over PQ codes (Jégou et
    al. 2011 §IV-A): encode the corpus once with ``pq_encode``, build a
    per-query m x ks lookup table of partial squared distances to every
    codebook center, and approximate

        dist2(q, x) ≈ sum_j LUT[q][j][code_j(x)]

    so scoring a vector costs ``m`` table lookups instead of a d-dim
    product against the ORIGINAL floats — the billion-scale pattern
    where only the codes table (m bytes/vector) stays hot.

    Returns (query_id, neighbor_id, adc_dist2, rank<=k), self-matches
    excluded, ties broken by neighbor id. Scale shape: the LUT stack is
    nq x m x ks doubles (kilobytes) shipped in the kernel closure; each
    Arrow batch scores ALL queries with m fancy-indexed adds and emits
    only its LOCAL top-(k+1) per query, so the final exchange carries
    ~nq*(k+1) rows per partition — never the corpus. ADC distances are
    per-row deterministic (fixed j-order sums), so results don't depend
    on partitioning.

    ``refine=r`` (r>1) adds the standard re-rank stage (IVFADC+R,
    Jégou et al. 2011 §V): take the ADC top-(k*r) shortlist, fetch the
    TRUE vectors for just those ~nq*k*r ids (an id equi-join against
    the corpus — AQE broadcasts the tiny shortlist), and re-rank by
    exact squared L2. Output column becomes ``dist2`` (exact); the
    quantization error then only costs recall, never distance fidelity.
    """
    import numpy as np
    import pandas as pd

    codes, books = pq_encode(
        corpus, m=m, ks=ks, max_iter=max_iter, id_col=id_col, vec_col=vec_col
    )

    def candidates(qids, Q, luts, k_short):
        nq = len(qids)
        kk = k_short + 1  # survive self-match removal

        def kern(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                Cm = np.stack(pdf["codes"].to_numpy()).astype(np.int64)
                ids = pdf["id"].to_numpy()
                D = np.zeros((nq, len(ids)))
                for j in range(m):
                    D += luts[:, j, Cm[:, j]]
                take = min(kk, len(ids))
                part = np.argpartition(D, take - 1, axis=1)[:, :take]
                out_q, out_n, out_d = [], [], []
                for qi in range(nq):
                    sel = part[qi]
                    out_q.extend([qids[qi]] * len(sel))
                    out_n.extend(ids[sel])
                    out_d.extend(D[qi, sel])
                yield pd.DataFrame(
                    {"query_id": out_q, "neighbor_id": out_n, "adc_dist2": out_d}
                )

        base = codes.select(F.col(id_col).alias("id"), "codes")
        local = base.mapInPandas(
            kern, "query_id long, neighbor_id long, adc_dist2 double"
        )
        return local.filter(F.col("neighbor_id") != F.col("query_id"))

    return _adc_search(
        corpus, queries, books, _as_double(F.col(vec_col)), candidates,
        k, refine, id_col, vec_col,
    )


def _adc_search(corpus, queries, books, qexpr, candidates, k, refine, id_col, vec_col):
    """The candidate -> verify -> rank lane ``pq_topk`` and
    ``ivfpq_topk`` share. Collects the (small) query set ONCE — ids,
    ``qexpr`` (the vector the LUTs read: floats, or fixed-point units
    under replay) and the float vector the re-rank reads — and builds
    the per-query m x ks LUT stack of partial squared distances to
    every codebook center. ``candidates(qids, Q, luts, k_short)`` returns
    the ADC-scored (query_id, neighbor_id, adc_dist2) rows, self-matches
    excluded; each query keeps its ADC top-``k_short`` (``k * refine``
    when ``refine > 1``, else ``k``). With ``refine > 1`` the shortlist
    is re-ranked to ``k`` by exact squared L2. No queries: the empty
    result, with the schema a non-empty search returns."""
    import numpy as np

    rerank = bool(refine and refine > 1)
    qrows = queries.select(
        F.col(id_col).alias("qid"),
        qexpr.alias("qv"),
        _as_double(F.col(vec_col)).alias("qf"),
    ).collect()
    if not qrows:
        dist = "dist2" if rerank else "adc_dist2"
        return local_frame(
            corpus.sparkSession, [],
            f"query_id long, neighbor_id long, {dist} double, rank int",
        )
    qids = [int(r["qid"]) for r in qrows]
    Q = np.stack([np.array(r["qv"]) for r in qrows])
    m, ks, sub = books.shape
    luts = np.empty((len(qids), m, ks))
    for j in range(m):
        luts[:, j, :] = _sq_l2(Q[:, j * sub:(j + 1) * sub], books[j])
    k_short = k * refine if rerank else k
    short = topk_per_group(
        candidates(qids, Q, luts, k_short), "query_id", "adc_dist2", k_short,
        descending=False, tie_cols=["neighbor_id"],
    )
    if not rerank:
        return short.select(
            "query_id", "neighbor_id",
            F.round("adc_dist2", 6).alias("adc_dist2"), "rank",
        )
    # exact re-rank: true vectors fetched ONLY for the shortlist ids; the
    # query vectors ride the plan as a literal nq x d array (kilobytes)
    # indexed by a small map — no second broadcast join
    Qf = [r["qf"] for r in qrows]
    qpos = {qid: i for i, qid in enumerate(qids)}
    vecs = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("nv")
    )
    qvec_lit = F.array(*[F.array(*[F.lit(float(x)) for x in v]) for v in Qf])
    qidx = F.create_map(*[
        x for qid, i in qpos.items() for x in (F.lit(qid), F.lit(i))
    ])
    joined = short.select("query_id", "neighbor_id").join(vecs, "neighbor_id")
    qv = F.element_at(qvec_lit, qidx[F.col("query_id")] + 1)
    return topk_per_group(
        joined.withColumn("dist2", sqdist(qv, F.col("nv"))), "query_id", "dist2", k,
        descending=False, tie_cols=["neighbor_id"],
    ).select("query_id", "neighbor_id", F.round("dist2", 6).alias("dist2"), "rank")


def ivfopq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    m: int = 16,
    ks: int = 64,
    max_iter: int = 3,
    refine: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> DataFrame:
    """IVFADC over OPQ-rotated vectors — the FAISS ``OPQ..,IVF..,PQ..``
    composition: rotate corpus AND queries by the eigenvalue-balanced
    PCA basis (``_opq_rotation``, shared with ``opq_encode``; one
    moment-sums pass + one broadcast matmul kernel per side), then run
    the standard ``ivfpq_topk`` in rotated space. The rotation is
    orthonormal, so
    L2 distances — coarse routing, ADC scores, the exact re-rank — are
    all preserved; what improves is PQ quantization error on
    anisotropic embeddings (see ``opq_encode``), which tightens the
    ADC shortlist. Same scale shape as ``ivfpq_topk``; the rotation is
    float, so there is no fixed-point replay path (recall contracts
    bound it instead).
    """
    _, _, rotate = _opq_rotation(corpus, m, id_col, vec_col, scale)
    return ivfpq_topk(
        rotate(corpus), rotate(queries), k=k, n_cells=n_cells,
        nprobe=nprobe, m=m, ks=ks, max_iter=max_iter, refine=refine,
        id_col=id_col, vec_col=vec_col,
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    m: int = 16,
    ks: int = 64,
    max_iter: int = 3,
    refine: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    replay_scale: int | None = None,
) -> DataFrame:
    """IVFADC (Jégou et al. 2011 §V): coarse IVF routing + PQ codes +
    asymmetric-distance scoring — the billion-scale composition where
    the index holds only (cell, m-byte code) per vector.

    Stages: (1) coarse centroids = deterministic hash-seeded sample
    (the `ivf_topk` seeding — distributed TakeOrderedAndProject, no
    global window); (2) every vector assigned to its nearest coarse
    cell (blocked-BLAS argmin per Arrow batch); (3) PQ codebooks fit
    once on the corpus, codes stored per vector; (4) per query, probe
    the ``nprobe`` nearest cells and ADC-score ONLY those cells' codes
    via the m x ks lookup table; (5) optional exact re-rank of the
    ADC top-(k*refine) shortlist (true vectors fetched by id join).

    Scale shape: the probed-cell candidate join is an equi-join on the
    cell id against a broadcast (query, cell) table — the corpus-side
    scan prunes to nprobe/n_cells of the codes, and shuffles carry
    codes (m small ints), never float vectors; the re-rank join touches
    ~nq*k*refine ids. No full-corpus task, no global window.

    ``replay_scale=S`` switches every stage that decides WHICH rows
    survive — coarse seeds/routing, PQ codebooks/codes, per-query LUTs,
    probe lists, the ADC shortlist — to the exact-integer fixed-point
    arithmetic of ``kmeans(replay_scale=...)``, so the full
    partial-probe IVFADC route replays in ANSI SQL; only the final
    refine re-rank stays on the original double vectors (sequential
    fold, engine-identical, rounded to 6).
    """
    import numpy as np
    import pandas as pd

    codes, books = pq_encode(
        corpus, m=m, ks=ks, max_iter=max_iter, id_col=id_col, vec_col=vec_col,
        replay_scale=replay_scale,
    )
    # coarse routing: hash-seeded centroids, L2 argmin (ADC scores L2)
    cent = _seed_centroids(
        corpus, n_cells, id_col, vec_col,
        portable=bool(replay_scale), scale=replay_scale,
    )
    vexpr = _vec_units(F.col(vec_col), replay_scale)
    base = corpus.select(F.col(id_col).alias("id"), vexpr.alias("v"))
    routed = base.withColumn("a", _assign_kernel(cent)(F.col("v"))).select(
        "id", F.col("a.cluster").alias("cell")
    )
    coded = codes.select(F.col(id_col).alias("id"), "codes").join(routed, "id")

    def candidates(qids, Q, luts, _k_short):
        # probe list: nprobe nearest coarse cells per query (driver-side
        # — n_cells x d is kilobytes)
        probe = np.argsort(_sq_l2(Q, cent), axis=1, kind="stable")[:, :nprobe]
        probe_rows = [
            (qid, int(c)) for qid, cells in zip(qids, probe) for c in cells
        ]
        probe_df = local_frame(corpus.sparkSession, probe_rows, "query_id long, cell int")
        qpos = {qid: i for i, qid in enumerate(qids)}
        cand = coded.join(F.broadcast(probe_df), "cell").filter(
            F.col("id") != F.col("query_id")
        )

        def kern(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                Cm = np.stack(pdf["codes"].to_numpy()).astype(np.int64)
                ids = pdf["id"].to_numpy()
                qarr = pdf["query_id"].to_numpy()
                qi = np.array([qpos[int(x)] for x in qarr])
                # ADC distance of each (query, candidate) row: fancy-index
                # the row's own query LUT at its code per subspace
                D = np.zeros(len(ids))
                for j in range(m):
                    D += luts[qi, j, Cm[:, j]]
                yield pd.DataFrame(
                    {"query_id": qarr, "neighbor_id": ids, "adc_dist2": D}
                )

        return cand.select("query_id", "id", "codes").mapInPandas(
            kern, "query_id long, neighbor_id long, adc_dist2 double"
        )

    return _adc_search(
        corpus, queries, books, vexpr, candidates, k, refine, id_col, vec_col
    )


def sq_stats(corpus: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """One-row DataFrame (``__mns``, ``__mxs``: array<double>) holding
    the per-dimension min/max of ``vec_col`` — the trained state of
    scalar quantization.

    Scale shape: a posexplode + per-dimension min/max aggregate
    (map-side combined to d rows per partition, the exchange carries
    d rows total), then a 1-row collect_list fold — never a d-wide
    aggregate buffer row (hundreds of buffers push past the codegen
    field limit, the bootstrap_ci lesson). min/max involve no
    summation, so the stats are EXACT doubles any engine reproduces
    bit-identically — the whole SQ family needs no fixed-point replay
    mode.
    """
    pe = corpus.select(F.posexplode(_as_double(F.col(vec_col))).alias("p", "x"))
    per = pe.groupBy("p").agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    return per.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("p"), F.col("mn")))),
            lambda s: s["mn"],
        ).alias("__mns"),
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("p"), F.col("mx")))),
            lambda s: s["mx"],
        ).alias("__mxs"),
    )


def _sq_codes(vec, mns, mxs, levels: int):
    """codes[i] = clamp(floor((x-mn)/(mx-mn) * (levels-1)), 0, levels-1);
    degenerate dims (mx == mn) encode 0. Pure zip_with codegen — the
    float ops are written division-first so an ANSI-SQL replay
    (``FLOOR((x - mn) / rng * (levels-1))``) is IEEE-identical."""
    top = F.lit(float(levels - 1))
    shifted = F.zip_with(vec, mns, lambda x, mn: x - mn)
    rngs = F.zip_with(mxs, mns, lambda a, b: a - b)
    return F.zip_with(
        shifted,
        rngs,
        lambda s, r: F.when(
            r > 0,
            F.least(F.greatest(F.floor(s / r * top), F.lit(0)), F.lit(levels - 1)),
        )
        .otherwise(F.lit(0))
        .cast("int"),
    )


def sq_encode(
    corpus: DataFrame,
    levels: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    stats: DataFrame | None = None,
) -> DataFrame:
    """Scalar quantization (SQ8 for ``levels=256``): encode each vector
    dimension independently as its bucket on a uniform per-dimension
    [min, max] grid — d floats -> d small ints (4x at 256 levels on
    float32, the classic FAISS ``SQ8`` storage tier; coarser than PQ
    but decode-free and train-cheap).

    Returns (id, codes array<int>). ``stats`` lets a precomputed
    ``sq_stats`` row be reused (e.g. encode a query stream with corpus
    stats); default trains on ``corpus`` itself. The stats row rides a
    broadcast cross join, so encoding is ONE zero-exchange scan and the
    plan stays fully lazy — no driver-side materialization of anything
    (the stats row is computed inside the same plan).

    Unlike PQ (reference point: pq_encode above) the codes are exact
    integers from min/max + floor arithmetic only, so any ANSI engine
    replays them bit-identically with no fixed-point mode.
    """
    if levels < 2 or levels > 1 << 16:
        raise ValueError(f"sq_encode() needs 2 <= levels <= 65536, got {levels}")
    st = stats if stats is not None else sq_stats(corpus, vec_col)
    v = _as_double(F.col(vec_col))
    return corpus.crossJoin(F.broadcast(st)).select(
        F.col(id_col),
        _sq_codes(v, F.col("__mns"), F.col("__mxs"), levels).alias("codes"),
    )


def sq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    levels: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rerank: int | None = None,
) -> DataFrame:
    """Symmetric scalar-quantized top-k: encode corpus AND queries on
    the corpus grid, rank by integer squared L2 in code space —
    (query_id, neighbor_id, dist2_code, rank), rank ascending code
    distance, ties by neighbor id.

    The score is an INTEGER (sum of (cq-cc)^2 over d dims, bounded by
    d * (levels-1)^2 < 2^63 for any sane d), so ordering is exact and
    engine-independent — no float-sum associativity hazard anywhere.
    Queries ride a broadcast; the corpus side is one scan + the top-k
    window per query partition. ``rerank=R`` re-scores the top R code
    candidates per query with exact float squared L2 (asymmetric
    refine, the FAISS SQ + refine recipe) and re-ranks to ``k``.

    100 TB shape: codes are what you keep hot (4x smaller than float32
    vectors); the rerank column pulls full vectors for only R rows per
    query. Quantization state is d min/max doubles — kilobytes.
    """
    st = sq_stats(corpus, vec_col)
    c = corpus.crossJoin(F.broadcast(st)).select(
        F.col(id_col).alias("neighbor_id"),
        _sq_codes(_as_double(F.col(vec_col)), F.col("__mns"), F.col("__mxs"), levels).alias("cc"),
        _as_double(F.col(vec_col)).alias("cv"),
    )
    q = queries.crossJoin(F.broadcast(st)).select(
        F.col(id_col).alias("query_id"),
        _sq_codes(_as_double(F.col(vec_col)), F.col("__mns"), F.col("__mxs"), levels).alias("qc"),
        _as_double(F.col(vec_col)).alias("qv"),
    )
    joined = c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
    scored = joined.withColumn(
        "dist2_code", sqdist(F.col("qc"), F.col("cc"), F.lit(0).cast("long"))
    )
    if rerank is not None and rerank < k:
        raise ValueError(f"rerank ({rerank}) must be >= k ({k})")
    short = topk_per_group(
        scored, "query_id", "dist2_code", k if rerank is None else rerank,
        descending=False, tie_cols=["neighbor_id"],
    )
    if rerank is None:
        return short.select("query_id", "neighbor_id", "dist2_code", "rank")
    return topk_per_group(
        short.withColumn("dist2", sqdist(F.col("qv"), F.col("cv"))), "query_id", "dist2", k,
        descending=False, tie_cols=["neighbor_id"],
    ).select("query_id", "neighbor_id", F.round("dist2", 6).alias("dist2"), "rank")
