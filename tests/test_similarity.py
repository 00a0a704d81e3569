import numpy as np
import pytest
from pyspark.sql import functions as F

from xsd2json_spark.functions import similarity as S


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def query(emb):
    return list(emb.filter("vec_id = 0").collect()[0]["embedding"])


def _numpy_topk(emb, query, k=10):
    rows = emb.collect()
    q = np.asarray(query, dtype=np.float64)
    scored = []
    for r in rows:
        v = np.asarray(r["embedding"], dtype=np.float64)
        scored.append((r["vec_id"], float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q)))))
    scored.sort(key=lambda t: (-round(t[1], 6), t[0]))
    return scored[:k]


def test_brute_force_matches_numpy(spark, emb, query):
    got = S.cosine_topk(emb, query, k=10).collect()
    want = _numpy_topk(emb, query, k=10)
    assert [r["vec_id"] for r in got] == [w[0] for w in want]
    for r, w in zip(got, want):
        assert abs(r["score"] - w[1]) < 1e-5
    assert got[0]["vec_id"] == 0 and abs(got[0]["score"] - 1.0) < 1e-9


def test_lsh_topk_recall(spark, emb, query):
    """The sf embeddings are near-random (best cosine ~0.3), where
    hyperplane LSH rightly finds nothing — so plant real near-dups
    (perturbed copies of the query) and require LSH to retrieve them."""
    rng = np.random.RandomState(7)
    q = np.asarray(query, dtype=np.float32)
    planted = [
        (10_000 + i, (q + rng.standard_normal(len(q)).astype(np.float32) * 0.05).tolist())
        for i in range(5)
    ]
    extra = spark.createDataFrame(
        [(i, v, 0) for i, v in planted], "vec_id long, embedding array<float>, label int"
    )
    aug = emb.unionByName(extra)
    got = S.lsh_topk(aug, query, k=10, n_planes=8).collect()
    ids = [r["vec_id"] for r in got]
    assert ids[0] == 0  # the query vector itself shares its own bucket
    hits = sum(1 for i in ids if i >= 10_000)
    assert hits == 5  # every planted near-dup retrieved
    # and they outrank the random vectors
    assert set(ids[:6]) == {0, *[i for i, _ in planted]}


def test_ivf_topk_recall(spark, emb, query):
    cents = S.kmeans_centroids(emb, n_centroids=8, iters=2)
    assert cents.shape == (8, 64)
    got = S.ivf_topk(emb, query, cents, k=10, nprobe=3).collect()
    assert got[0]["vec_id"] == 0
    brute = {w[0] for w in _numpy_topk(emb, query, k=10)}
    hits = sum(1 for r in got if r["vec_id"] in brute)
    assert hits >= 5


def test_kmeans_seed_pool_ignores_partition_order(spark):
    """The same rows in two partition orders give equal centroids: the
    seed pool must not be whichever rows a bare limit() reaches first.
    Integer-valued vectors keep the per-cluster sums exact in any
    summation order."""
    rng = np.random.RandomState(3)
    rows = [(i, [float(x) for x in rng.randint(-8, 9, size=4)]) for i in range(64)]
    schema = "vec_id long, embedding array<double>"
    fwd = spark.createDataFrame(rows, schema).coalesce(1)
    rev = spark.createDataFrame(rows[::-1], schema).coalesce(1)
    a = S.kmeans_centroids(fwd, n_centroids=4, iters=2)
    b = S.kmeans_centroids(rev, n_centroids=4, iters=2)
    np.testing.assert_array_equal(a, b)


def _jobs_in_group(spark, name, fn):
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(name))


def test_kmeans_jobs_per_iteration_are_bounded(spark):
    """kmeans_centroids runs one seed-pool collect and then one collect
    per Lloyd iteration, so its Spark jobs grow linearly with iters.
    1 + 2 * iters jobs were measured on Spark 4.1 with AQE (each
    iteration's shuffle stage and its result)."""
    rng = np.random.RandomState(3)
    rows = [(i, [float(x) for x in rng.randint(-8, 9, size=4)]) for i in range(64)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    df.count()
    for iters in (1, 4):
        jobs = _jobs_in_group(
            spark, f"kmeans-{iters}", lambda: S.kmeans_centroids(df, n_centroids=4, iters=iters)
        )
        assert jobs <= 3 * (iters + 1), f"{jobs} Spark jobs for {iters} iterations"


def test_topk_plan_is_take_ordered(spark, emb, query):
    plan = S.cosine_topk(emb, query, k=10)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan  # no global sort


def test_arrow_assignment_matches_exprs(spark, emb):
    """The Arrow pandas_udf assignment and the Column-expression
    assignment are the same function."""
    cents = S.kmeans_centroids(emb, n_centroids=6, iters=1)
    a = emb.select("vec_id", S.assign_centroid_exprs(F.col("embedding"), cents).alias("c")).collect()
    b = emb.select("vec_id", S.assign_centroid_arrow(F.col("embedding"), cents).alias("c")).collect()
    assert {r["vec_id"]: r["c"] for r in a} == {r["vec_id"]: r["c"] for r in b}


def test_large_centroid_matrix_dispatches_to_arrow(spark, emb):
    """k x dim above the threshold must NOT build literal trees — the
    plan shows an ArrowEvalPython node, not thousands of literals."""
    rng = np.random.RandomState(0)
    big = rng.standard_normal((64, 64))  # 4096 >= ARROW_ASSIGN_THRESHOLD
    df = emb.select(S.assign_centroid(F.col("embedding"), big).alias("c"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan
    small = rng.standard_normal((4, 64))  # 256 < threshold: stays JVM-side
    df2 = emb.select(S.assign_centroid(F.col("embedding"), small).alias("c"))
    plan2 = df2._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan2


def test_lsh_indexed_matches_unindexed(spark, emb, query, tmp_path):
    idx = str(tmp_path / "lsh_idx")
    S.build_ann_index(emb, idx, kind="lsh", n_planes=8, seed=42)
    got = S.lsh_topk_indexed(spark, idx, query, k=10, multi_probe=1).collect()
    want = S.lsh_topk(emb, query, k=10, n_planes=8, seed=42, multi_probe=1).collect()
    assert [(r["vec_id"], r["score"]) for r in got] == [(r["vec_id"], r["score"]) for r in want]


def test_indexed_probe_is_partition_pruned(spark, emb, query, tmp_path):
    idx = str(tmp_path / "lsh_idx2")
    S.build_ann_index(emb, idx, kind="lsh", n_planes=8, seed=42)
    df = S.lsh_topk_indexed(spark, idx, query, k=10, multi_probe=1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "bucket" in plan.split("PartitionFilters")[1][:300]


def test_index_cache_key_ignores_trailing_slash(spark, tmp_path):
    """``idx`` and ``idx/`` name one index: a rebuild at ``idx`` must not
    leave a stale scan cached under ``idx/``."""
    rows = [(i, [float((i * k) % 7 - 3) for k in range(1, 5)]) for i in range(32)]
    small = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    idx = str(tmp_path / "idx")
    S.build_ann_index(small, idx, kind="lsh", n_planes=8, seed=42)
    assert len(S._load_meta(spark, idx + "/")["planes"]) == 8
    S.build_ann_index(small, idx, kind="lsh", n_planes=4, seed=42)
    assert len(S._load_meta(spark, idx + "/")["planes"]) == 4
    assert len(S._load_meta(spark, idx)["planes"]) == 4


def test_ivf_indexed_recall(spark, emb, query, tmp_path):
    idx = str(tmp_path / "ivf_idx")
    meta = S.build_ann_index(emb, idx, kind="ivf", n_centroids=8, iters=2, seed=42)
    assert len(meta["centroids"]) == 8
    got = S.ivf_topk_indexed(spark, idx, query, k=10, nprobe=3).collect()
    assert got[0]["vec_id"] == 0
    brute = {w[0] for w in _numpy_topk(emb, query, k=10)}
    hits = sum(1 for r in got if r["vec_id"] in brute)
    assert hits >= 5
    plan = S.ivf_topk_indexed(spark, idx, query, k=10, nprobe=3)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_assign_centroid_arrow_rejects_null_and_ragged(spark):
    """Null / wrong-dim embedding rows raise an explicit error instead of
    producing a garbled object-array matmul."""
    import numpy as np
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError

    cents = np.random.RandomState(0).standard_normal((4, 8))
    bad = spark.createDataFrame(
        [(0, [0.1] * 8), (1, None), (2, [0.2] * 8)], "vec_id int, embedding array<double>"
    )
    with _pytest.raises(Exception) as ei:
        bad.select(S.assign_centroid_arrow(F.col("embedding"), cents)).collect()
    assert "null/ragged" in str(ei.value)
    ragged = spark.createDataFrame(
        [(0, [0.1] * 8), (1, [0.1] * 5)], "vec_id int, embedding array<double>"
    )
    with _pytest.raises(Exception) as ei2:
        ragged.select(S.assign_centroid_arrow(F.col("embedding"), cents)).collect()
    assert "null/ragged" in str(ei2.value)


@pytest.fixture(scope="module")
def pq_mat(emb):
    rows = sorted(emb.collect(), key=lambda r: r["vec_id"])
    return np.array([r["embedding"] for r in rows], dtype=np.float64)


def test_pq_encode_matches_numpy(spark, emb, pq_mat):
    """Spark's per-sub-space struct-max assignment equals the numpy
    argmax on every vector (ties broken the same way in practice —
    float scores), and codes are in [0, k)."""
    cb = S.train_pq(pq_mat, m=8, k=16)
    m, k, sub = cb.shape
    got = {r["vec_id"]: list(r["pq_code"]) for r in S.pq_encode(emb, cb).collect()}
    rows = sorted(emb.collect(), key=lambda r: r["vec_id"])
    for r in rows:
        v = np.asarray(r["embedding"], dtype=np.float64)
        want = [
            int(np.argmax(2.0 * (cb[j] @ v[j * sub:(j + 1) * sub]) - (cb[j] * cb[j]).sum(axis=1)))
            for j in range(m)
        ]
        assert got[r["vec_id"]] == want, r["vec_id"]
        assert all(0 <= c < k for c in want)


def test_pq_adc_score_is_lut_sum(spark, emb, pq_mat, query):
    """The in-plan ADC fold equals the driver-side LUT sum for every
    returned row."""
    cb = S.train_pq(pq_mat, m=8, k=16)
    m, _k, sub = cb.shape
    q = np.asarray(query, dtype=np.float64)
    lut = np.einsum("mkd,md->mk", cb, q.reshape(m, sub))
    codes = S.pq_encode(emb, cb)
    top = S.pq_topk(codes, query, cb, k=15).collect()
    code_map = {r["vec_id"]: list(r["pq_code"]) for r in codes.collect()}
    for r in top:
        want = float(sum(lut[j][code_map[r["vec_id"]][j]] for j in range(m)))
        assert abs(r["score"] - want) < 1e-9, r["vec_id"]


def test_pq_recall_and_rerank(spark, emb, pq_mat, query):
    """ADC shortlist recall: brute-force cosine top-10 is mostly inside
    the PQ top-50 (compressed to 8 bytes/vector), and the exact-cosine
    re-rank's scores equal the brute-force scores on the ids both
    return."""
    cb = S.train_pq(pq_mat, m=8, k=16)
    brute = {r[0]: r[1] for r in _numpy_topk(emb, query, k=10)}
    codes = S.pq_encode(emb, cb)
    short = {r["vec_id"] for r in S.pq_topk(codes, query, cb, k=50).collect()}
    assert len(set(brute) & short) >= 6  # >= 0.6 recall@50 at 32x compression
    rr = {r["vec_id"]: r["score"] for r in
          S.pq_topk_rerank(emb, codes, query, cb, k=10, rerank=50).collect()}
    for vid in set(brute) & set(rr):
        assert abs(rr[vid] - brute[vid]) < 1e-6


def test_pq_validates_shapes():
    with pytest.raises(ValueError, match="not divisible"):
        S.train_pq(np.zeros((100, 10)), m=3)
    cb = S.train_pq(np.random.RandomState(0).randn(100, 16), m=4, k=8)
    with pytest.raises(ValueError, match="query dim"):
        S.pq_topk(None, [0.0] * 10, cb)


def test_ivfpq_index_probe_recall_and_pruning(spark, emb, pq_mat, query, tmp_path):
    """IVF-PQ: partition-pruned probe (PartitionFilters on list_id),
    ADC recall against brute cosine, exact-cosine re-rank equality on
    shared ids, and the ADC score decomposition <q,c_list> + LUT sum
    verified row-by-row."""
    import re

    cents = S.kmeans_numpy(pq_mat, n_centroids=8, seed=42)
    cb = S.train_ivfpq(pq_mat, cents, m=8, k=16)
    path = str(tmp_path / "ivfpq")
    meta = S.build_ivfpq_index(emb, path, cents, cb)
    assert meta["kind"] == "ivfpq"

    top = S.ivfpq_topk(spark, path, query, k=10, nprobe=4)
    plan = top._jdf.queryExecution().executedPlan().toString()
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and "list_id" in pf.group(1)  # probe reads only its lists

    brute = {r[0] for r in _numpy_topk(emb, query, k=10)}
    adc50 = {r["vec_id"] for r in S.ivfpq_topk(spark, path, query, k=50, nprobe=4).collect()}
    assert len(brute & adc50) >= 6

    rr = {r["vec_id"]: r["score"] for r in
          S.ivfpq_topk(spark, path, query, k=10, nprobe=4, rerank=50).collect()}
    bmap = dict(_numpy_topk(emb, query, k=10))
    for vid in set(bmap) & set(rr):
        assert abs(rr[vid] - bmap[vid]) < 1e-4

    # score decomposition: ADC score == <q, c_list> + sum lut[j][code_j]
    import numpy as np
    q = np.asarray(query, dtype=np.float64)
    m, _k, sub = cb.shape
    lut = np.einsum("mkd,md->mk", cb, q.reshape(m, sub))
    rows = spark.read.parquet(path).collect()
    got = {r["vec_id"]: r["score"] for r in S.ivfpq_topk(spark, path, query, k=15, nprobe=8).collect()}
    by_id = {r["vec_id"]: r for r in rows}
    for vid, s in got.items():
        r = by_id[vid]
        want = float(np.dot(q, cents[r["list_id"]])) + float(
            sum(lut[j][r["pq_code"][j]] for j in range(m)))
        assert abs(s - want) < 1e-9, vid

    with pytest.raises(ValueError, match="not an ivfpq index"):
        lsh_path = str(tmp_path / "lsh")
        S.build_ann_index(emb, lsh_path, kind="lsh")
        S.ivfpq_topk(spark, lsh_path, query)


def test_ivfpq_rerank_requires_vectors(spark, emb, pq_mat, query, tmp_path):
    cents = S.kmeans_numpy(pq_mat, n_centroids=8, seed=42)
    cb = S.train_ivfpq(pq_mat, cents, m=8, k=16)
    path = str(tmp_path / "ivfpq_nv")
    S.build_ivfpq_index(emb, path, cents, cb, keep_vectors=False)
    # codes-only index still answers ADC queries...
    assert len(S.ivfpq_topk(spark, path, query, k=5, nprobe=4).collect()) == 5
    # ...but refuses exact re-rank
    with pytest.raises(ValueError, match="keep_vectors"):
        S.ivfpq_topk(spark, path, query, k=5, nprobe=4, rerank=20)
