"""Distributed Lloyd's k-means and product quantization (llm/cluster):
deterministic seeding, convergence behavior, and code quality on
separable data."""

import numpy as np
import pytest

SF = "/root/testdata/sf0.001"


def _blobs(spark, n=240, d=8, k=3, spread=0.05):
    rng = np.random.default_rng(5)
    centers = rng.normal(size=(k, d)) * 3.0
    rows = []
    for i in range(n):
        c = i % k
        v = centers[c] + rng.normal(size=d) * spread
        rows.append((i, [float(x) for x in v], c))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int"), centers


def test_kmeans_recovers_separable_blobs(spark):
    from eventkit_spark.llm.cluster import kmeans

    df, _ = _blobs(spark)
    a, cent, n_iter = kmeans(df, k=3, max_iter=10)
    pdf = a.toPandas().merge(df.select("vec_id", "label").toPandas(), on="vec_id")
    # every found cluster maps to exactly one true label (purity 1.0 on
    # well-separated blobs)
    purity = pdf.groupby("cluster")["label"].nunique()
    assert (purity == 1).all()
    assert pdf["cluster"].nunique() == 3
    assert n_iter <= 10


def test_kmeans_inertia_monotone(spark):
    from eventkit_spark.llm.cluster import kmeans

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    i1 = kmeans(emb, k=8, max_iter=1)[0].toPandas().dist2.sum()
    i5 = kmeans(emb, k=8, max_iter=5)[0].toPandas().dist2.sum()
    assert i5 <= i1 + 1e-9


def test_kmeans_deterministic(spark):
    from eventkit_spark.llm.cluster import kmeans

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = kmeans(emb, k=4, max_iter=3)[0].toPandas().sort_values("vec_id")
    b = kmeans(emb, k=4, max_iter=3)[0].toPandas().sort_values("vec_id")
    assert (a.cluster.values == b.cluster.values).all()
    assert np.allclose(a.dist2.values, b.dist2.values)


def test_pq_encode_shapes_and_quality(spark):
    from eventkit_spark.llm.cluster import pq_encode

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    codes16, books16 = pq_encode(emb, m=8, ks=16, max_iter=3)
    pdf = codes16.toPandas()
    assert books16.shape == (8, 16, 8)
    assert all(len(c) == 8 for c in pdf.codes)
    assert (pdf.recon_err2 >= 0).all()
    # a richer codebook reconstructs strictly better on average
    codes4, _ = pq_encode(emb, m=8, ks=4, max_iter=3)
    assert pdf.recon_err2.mean() < codes4.toPandas().recon_err2.mean()


def test_pq_rejects_bad_subspaces(spark):
    from eventkit_spark.llm.cluster import pq_encode

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    with pytest.raises(ValueError, match="not divisible"):
        pq_encode(emb, m=7)


def test_pagerank_star_graph_exact_integer_ranks(spark):
    """Hand-computed 2-iteration ranks on an undirected star: the
    integer recurrence (micro-units, 85/100 damping as integer div) is
    bit-exact, and the hub outranks the leaves."""
    from pyspark.sql import functions as F

    from eventkit_spark.llm.graph import pagerank

    und = [(0, 1), (0, 2), (0, 3)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], ["src", "dst"]
    )
    got = {r["id"]: r["rank"] for r in pagerank(edges, iters=2).collect()}
    # p1: hub = 150000 + 85%*(3*1000000//1) = 2700000
    #     leaf = 150000 + 85%*(1000000//3)  = 433333
    # p2: hub = 150000 + 85%*(3*(433333//1)) = 1254999
    #     leaf = 150000 + 85%*(2700000//3)   = 915000
    assert got == {0: 1254999, 1: 915000, 2: 915000, 3: 915000}
    # isolated nodes (in the node universe, no edges) settle at base
    nodes = spark.createDataFrame([(i,) for i in range(5)], ["id"])
    got2 = {r["id"]: r["rank"] for r in pagerank(edges, nodes=nodes, iters=2).collect()}
    assert got2[4] == 150000 and got2[0] == 1254999
    import pytest as _pytest

    with _pytest.raises(ValueError, match="iters"):
        pagerank(edges, iters=0)


def test_central_dedup_keeps_hub_not_smallest_id(spark):
    """A star-shaped near-dup family must keep the HUB even when it has
    the largest doc id — the point of centrality-based representative
    selection over the smallest-id convention."""
    from pyspark.sql import functions as F

    from eventkit_spark.llm.graph import central_dedup

    docs = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "x"), (9, "hub"), (20, "lone")],
        ["doc_id", "text"],
    )
    # hub 9 pairs with satellites 1,2,3; satellites not pairwise similar
    pairs = spark.createDataFrame(
        [(1, 9), (2, 9), (3, 9)], ["id_a", "id_b"]
    )
    rows = {r["doc_id"]: r for r in central_dedup(docs, pairs).collect()}
    assert rows[9]["keep"] and rows[9]["cluster_id"] == 1
    assert not any(rows[i]["keep"] for i in (1, 2, 3))
    assert rows[20]["keep"] and rows[20]["cluster_id"] == 20  # singleton
    assert rows[9]["rank"] > rows[1]["rank"]


def test_triangle_count_known_graphs(spark):
    """K4 has 4 triangles / 12 wedges / cc=1e6 ppm; a path graph has
    none; the count is orientation-independent (duplicate + reversed
    input edges collapse)."""
    from eventkit_spark.llm.graph import triangle_count

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    # feed duplicates and reversed edges — canonicalization must absorb
    edges = spark.createDataFrame(k4 + [(b, a) for a, b in k4], ["src", "dst"])
    row = triangle_count(edges).collect()[0]
    assert (row["triangles"], row["wedges"], row["global_cc_ppm"]) == (4, 12, 1000000)

    path = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], ["src", "dst"])
    row = triangle_count(path).collect()[0]
    assert row["triangles"] == 0 and row["wedges"] == 2
    assert row["global_cc_ppm"] == 0

    # hub + one closing edge: star K1,3 plus (1,2) -> exactly 1 triangle
    star = spark.createDataFrame([(0, 1), (0, 2), (0, 3), (1, 2)], ["src", "dst"])
    row = triangle_count(star).collect()[0]
    assert row["triangles"] == 1


def test_triangle_count_matches_naive_on_random_graphs(spark):
    """Seeded Erdos-Renyi graphs: the oriented-wedge census equals the
    brute-force itertools triple count, and wedges equal sum C(deg,2)."""
    import itertools
    import random

    from eventkit_spark.llm.graph import triangle_count

    rng = random.Random(7)
    for n, p in [(12, 0.3), (18, 0.2), (10, 0.6)]:
        edges = [
            (a, b)
            for a in range(n)
            for b in range(a + 1, n)
            if rng.random() < p
        ]
        if not edges:
            continue
        adj = {i: set() for i in range(n)}
        for a, b in edges:
            adj[a].add(b)
            adj[b].add(a)
        want_t = sum(
            1
            for a, b, c in itertools.combinations(range(n), 3)
            if b in adj[a] and c in adj[a] and c in adj[b]
        )
        want_w = sum(len(v) * (len(v) - 1) // 2 for v in adj.values())
        df = spark.createDataFrame(edges, ["src", "dst"])
        row = triangle_count(df, materialize=False).collect()[0]
        assert (row["triangles"], row["wedges"]) == (want_t, want_w), (n, p)


def test_replay_mode_exact_integers(spark):
    """Exact-replay fixed-point mode: distances and errors are exact
    integers, reruns are bit-identical, and the float production mode
    is untouched (still returns rounded float dist2)."""
    from pyspark.sql import functions as F

    from eventkit_spark.llm.cluster import kmeans, pq_encode

    emb = (
        spark.range(40)
        .select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(1), F.lit(8)),
                lambda i: F.sin(F.col("id") * i).cast("float"),
            ).alias("embedding"),
        )
    )
    a1, c1, _ = kmeans(emb, k=4, max_iter=3, replay_scale=1_000_000)
    a2, c2, _ = kmeans(emb, k=4, max_iter=3, replay_scale=1_000_000)
    assert (c1 == c2).all() and c1.dtype.kind == "i"
    r1 = sorted(map(tuple, a1.collect()))
    r2 = sorted(map(tuple, a2.collect()))
    assert r1 == r2
    assert all(isinstance(r[2], int) for r in r1)  # exact long dist2
    codes, books = pq_encode(emb, m=4, ks=4, max_iter=2, replay_scale=1_000_000)
    assert books.dtype.kind == "i"
    rows = codes.collect()
    assert all(isinstance(r["recon_err2"], int) for r in rows)
    # float mode unchanged: rounded double distances
    af, cf, _ = kmeans(emb, k=4, max_iter=3)
    assert cf.dtype.kind == "f"
    assert all(isinstance(r["dist2"], float) for r in af.collect())


def _sq_ref_codes(A, levels=256):
    """Pure-numpy reference for sq_encode."""
    import numpy as np

    mn, mx = A.min(axis=0), A.max(axis=0)
    rng = mx - mn
    out = np.zeros(A.shape, dtype=np.int64)
    nz = rng > 0
    out[:, nz] = np.clip(
        np.floor((A[:, nz] - mn[nz]) / rng[nz] * (levels - 1)), 0, levels - 1
    ).astype(np.int64)
    return out


def test_sq_encode_matches_numpy_reference(spark):
    import numpy as np

    from eventkit_spark.llm.cluster import sq_encode

    rng = np.random.RandomState(7)
    A = rng.randn(40, 6).astype(np.float64)
    A[:, 5] = 3.25  # degenerate dim: mx == mn -> code 0
    rows = [(i, [float(x) for x in A[i]]) for i in range(len(A))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r["codes"] for r in sq_encode(df).collect()}
    want = _sq_ref_codes(A)
    for i in range(len(A)):
        assert got[i] == [int(x) for x in want[i]], f"row {i}"


def test_sq_topk_exact_when_lossless(spark):
    # integer-grid vectors on [0, 255] encode losslessly at 256 levels
    # when min=0 and max=255 are present per dim -> code distance ==
    # scaled true distance -> SQ ranking == exact ranking
    import numpy as np

    from eventkit_spark.llm.cluster import sq_topk
    from eventkit_spark.llm.similarity import brute_force_topk

    rng = np.random.RandomState(11)
    A = rng.randint(0, 256, size=(30, 4)).astype(np.float64)
    A[0] = 0.0
    A[1] = 255.0
    rows = [(i, [float(x) for x in A[i]]) for i in range(len(A))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qs = df.filter("vec_id < 3")
    got = sq_topk(df, qs, k=5).collect()
    want = brute_force_topk(df, qs, k=5, metric="l2").collect()
    gm = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in got}
    wm = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in want}
    assert gm == wm


def test_sq_topk_rerank_recovers_exact_order(spark):
    import numpy as np

    from eventkit_spark.llm.cluster import sq_topk
    from eventkit_spark.llm.similarity import brute_force_topk

    rng = np.random.RandomState(13)
    A = rng.randn(50, 8)
    rows = [(i, [float(x) for x in A[i]]) for i in range(len(A))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qs = df.filter("vec_id < 4")
    got = sq_topk(df, qs, k=3, rerank=50).collect()
    want = brute_force_topk(df, qs, k=3, metric="l2").collect()
    gm = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in got}
    wm = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in want}
    assert gm == wm


def test_sq_encode_validates_levels(spark):
    import pytest as _pytest

    from eventkit_spark.llm.cluster import sq_encode

    df = spark.createDataFrame([(0, [1.0])], "vec_id long, embedding array<double>")
    with _pytest.raises(ValueError):
        sq_encode(df, levels=1)


def test_opq_rotation_improves_pq_reconstruction(spark):
    """OPQ-lite contract (Ge et al. 2014 parametric init): rotating by
    the eigenvalue-balanced PCA basis must not worsen — and on the
    anisotropic test embeddings strictly improves — mean PQ
    reconstruction error. The rotation is orthonormal and the
    allocation a permutation."""
    import numpy as np
    from pyspark.sql import functions as F

    from eventkit_spark.llm.cluster import opq_encode, pq_encode
    from eventkit_spark.sources.tables import load_table

    emb = load_table(spark, SF, "embeddings")
    # max_iter=2: the rotation-vs-identity comparison is about the PCA
    # basis, not Lloyd convergence — 2 iterations keep the strict
    # inequality while halving the fit wall (r12, VERDICT item 2)
    pq, _ = pq_encode(emb, m=8, ks=16, max_iter=2)
    opq, books, R, perm = opq_encode(emb, m=8, ks=16, max_iter=2)
    e_pq = pq.agg(F.avg("recon_err2")).first()[0]
    e_opq = opq.agg(F.avg("recon_err2")).first()[0]
    assert e_opq < e_pq, (e_opq, e_pq)

    assert sorted(perm) == list(range(64))
    assert np.allclose(R @ R.T, np.eye(64), atol=1e-8)
    assert books.shape == (8, 16, 8)
    row = opq.first()
    assert len(row["codes"]) == 8 and row["recon_err2"] >= 0


def test_ivfopq_composition_preserves_search(spark):
    """IVFADC over OPQ-rotated vectors: the orthonormal rotation
    preserves L2, so with identical routing parameters the rotated
    search returns equally-good neighbors (distances are computed in
    rotated space but equal original-space distances); on this
    near-isotropic synthetic corpus recall matches plain IVFADC
    exactly — the rotation's win is PQ reconstruction error
    (test_opq_rotation_improves_pq_reconstruction), which shows on
    anisotropic embeddings."""
    import numpy as np
    from pyspark.sql import functions as F

    from eventkit_spark.llm.cluster import ivfopq_topk, ivfpq_topk
    from eventkit_spark.sources.tables import load_table

    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") % 100 == 0).limit(5)
    E = {r["vec_id"]: np.array(r["embedding"], dtype=float) for r in emb.collect()}
    Q = {r["vec_id"]: np.array(r["embedding"], dtype=float) for r in q.collect()}

    def truth(qid, k=10):
        qv = Q[qid]
        return {i for _, i in
                sorted(((np.sum((v - qv) ** 2), i) for i, v in E.items()))[:k]}

    def recall(df):
        got = {}
        for r in df.collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return sum(len(got.get(qid, set()) & truth(qid)) / 10 for qid in Q) / len(Q)

    # max_iter=2 (default 3): the rotated-vs-plain comparison holds at
    # any common fit depth — both sides use the same params, and the
    # re-rank distance check below is fit-independent (r12, VERDICT
    # item 2: this was the 5th-slowest test at 88 s)
    base = recall(ivfpq_topk(emb, q, k=10, nprobe=8, refine=2, max_iter=2))
    opq = recall(ivfopq_topk(emb, q, k=10, nprobe=8, refine=2, max_iter=2))
    assert opq >= base - 0.05, (opq, base)
    # exact re-rank distances are original-space-valid: every reported
    # dist2 matches the true distance of that (query, neighbor) pair
    out = ivfopq_topk(emb, q, k=3, nprobe=8, refine=4, max_iter=2).collect()
    for r in out:
        true_d2 = float(np.sum((Q[r["query_id"]] - E[r["neighbor_id"]]) ** 2))
        assert abs(r["dist2"] - round(true_d2, 6)) < 1e-4, r


def test_coreset_sample_modes_and_two_phase_equivalence(spark):
    """r10: cluster-balanced coreset sampling. Prototypical mode keeps
    the per-cluster nearest-to-centroid set, diverse the farthest; the
    two-phase top-N (per-partition prefilter + global rank) must equal
    the naive single-window form exactly; mode is validated."""
    import pytest as _pytest
    from pyspark.sql import Window as W, functions as F

    from eventkit_spark.llm.cluster import coreset_sample, kmeans
    from eventkit_spark.sources.tables import load_table

    emb = load_table(spark, SF, "embeddings")
    out = coreset_sample(emb, per_cluster=5, k=4, max_iter=3)
    rows = out.collect()
    per = {}
    for r in rows:
        per.setdefault(r["cluster"], []).append((r["crank"], r["dist2"], r["vec_id"]))
    # exactly <=5 per cluster, ranks contiguous from 1, dist ascending
    for c, lst in per.items():
        lst.sort()
        assert [x[0] for x in lst] == list(range(1, len(lst) + 1))
        dists = [x[1] for x in lst]
        assert dists == sorted(dists)
        assert len(lst) <= 5
    # equals the naive single-window top-N on the same assignments
    assignments, _, _ = kmeans(emb, k=4, max_iter=3)
    w = W.partitionBy("cluster").orderBy(F.col("dist2").asc(), F.col("vec_id").asc())
    naive = (
        assignments.withColumn("crank", F.row_number().over(w).cast("int"))
        .filter(F.col("crank") <= 5)
    )
    assert {tuple(r) for r in rows} == {tuple(r) for r in naive.collect()}
    # diverse mode keeps the farthest instead
    div = coreset_sample(emb, per_cluster=3, k=4, max_iter=3, mode="diverse")
    dd = {}
    for r in div.collect():
        dd.setdefault(r["cluster"], []).append(r["dist2"])
    ad = {}
    for r in assignments.collect():
        ad.setdefault(r["cluster"], []).append(r["dist2"])
    for c, lst in dd.items():
        assert sorted(lst, reverse=True)[0] == max(ad[c])
    with _pytest.raises(ValueError, match="mode"):
        coreset_sample(emb, per_cluster=3, mode="nope")


def test_kmeans_replay_partials_incluster_aggregate(spark):
    """r12 (r11 VERDICT item 1): the replay-mode per-batch (c, n, sum v)
    partials are combined IN-CLUSTER (groupBy("c") element-wise integer
    sums) so the driver collects <= k rows per Lloyd iteration instead
    of every per-Arrow-batch partial. Forcing many small Arrow batches
    (several partial rows per cluster per scan) must give bit-identical
    centers and assignments to a single-batch run — integer partial
    sums are order-exact regardless of batch splits."""
    from pyspark.sql import functions as F

    from eventkit_spark.llm.cluster import kmeans

    emb = spark.range(60).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(6)),
            lambda i: F.sin(F.col("id") * i).cast("float"),
        ).alias("embedding"),
    )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "7")  # many batches -> many partials per cluster
        a_small, c_small, _ = kmeans(emb, k=3, max_iter=3, replay_scale=1_000_000)
        r_small = sorted(map(tuple, a_small.collect()))
        spark.conf.set(key, "100000")  # one batch -> aggregate is a pass-through
        a_big, c_big, _ = kmeans(emb, k=3, max_iter=3, replay_scale=1_000_000)
        r_big = sorted(map(tuple, a_big.collect()))
    finally:
        spark.conf.set(key, prev)
    assert (c_small == c_big).all()
    assert r_small == r_big and len(r_small) == 60


def test_codebook_fits_release_their_cache(spark):
    """The Lloyd lane caches its base frame for the fit and releases it:
    collecting kmeans, pq_encode and opq_encode outputs leaves no
    persisted RDD behind (opq_encode used to keep its rotated frame)."""
    from eventkit_spark.llm.cluster import kmeans, opq_encode, pq_encode
    from eventkit_spark.sources.tables import load_table

    emb = load_table(spark, SF, "embeddings")
    before = len(spark.sparkContext._jsc.getPersistentRDDs())
    kmeans(emb, k=4, max_iter=2)[0].collect()
    pq_encode(emb, m=8, ks=4, max_iter=2)[0].collect()
    opq_encode(emb, m=8, ks=4, max_iter=2)[0].collect()
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) == before


def test_pq_fit_jobs_do_not_grow_with_m(spark):
    """One Lloyd lane fits every PQ subspace: a pq_encode fit with m = 8
    runs as many Spark jobs as with m = 1 (counted by job group), where
    m sequential fits ran m times the corpus passes."""
    from eventkit_spark.llm.cluster import pq_encode
    from eventkit_spark.sources.tables import load_table

    emb = load_table(spark, SF, "embeddings")
    sc = spark.sparkContext

    def fit_jobs(m):
        group = f"pq-fit-m{m}"
        sc.setJobGroup(group, group, False)
        try:
            pq_encode(emb, m=m, ks=4, max_iter=2, replay_scale=1_000_000)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert fit_jobs(8) == fit_jobs(1) > 0
