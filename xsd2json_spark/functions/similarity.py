"""Similarity search over an embedding column (array<float>).

- Brute-force cosine top-k: the correctness baseline. The dot product is
  a built-in F.aggregate/zip_with fold (JVM-side); top-k is
  TakeOrderedAndProject (no full sort, no collect).
- LSH-bucketed ANN (random hyperplanes): the scale path. Hyperplanes are
  generated deterministically (numpy, fixed seed) on the driver — a few
  KB broadcast as literals — and each vector gets a sign-bit bucket;
  queries probe only their bucket (optionally multi-probe neighbors).
- IVF (inverted-file) ANN: coarse centroids learned with a few k-means
  iterations; vectors are assigned to the nearest centroid (the inverted
  list), queries scan only nprobe lists.

Two execution regimes for centroid assignment:
- SMALL (n_centroids x dim below ~4k literals): pure Column expressions,
  whole-stage-codegen'd, zero Python.
- LARGE (e.g. dim=768, k=256 -> ~200k expression nodes, which would
  dominate or kill Catalyst analysis): an Arrow-batched pandas_udf with
  the centroid matrix captured in the closure — one BLAS matmul per
  record batch instead of a plan-literal explosion.

Persisted-index path (the 100 TB shape): ``build_ann_index`` writes the
table partitioned by bucket/list id with the hyperplanes/centroids in a
``_ann_meta.json`` sidecar; ``*_topk_indexed`` reads only the probed
partitions (PartitionFilters prune the scan to the probe set — verified
in tests), so a query touches O(probed lists), not the table.
"""

from __future__ import annotations

import json
from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from xsd2json_spark.sources import fsutil

#: above this many (n_centroids x dim) literals the assignment switches
#: from Column expressions to the Arrow pandas_udf path
ARROW_ASSIGN_THRESHOLD = 4096


def _lit_vec(vec: Sequence[float]) -> Column:
    return F.array(*[F.lit(float(x)) for x in vec])


def _lit_sql(vec: Sequence[float]) -> str:
    return "array(" + ",".join(f"{float(x)!r}D" for x in vec) + ")"


def _fold_dot_sql(vec_sql: str, vec: Sequence[float]) -> str:
    """dot(col, literal) as ONE compact SQL string — the same
    aggregate/zip_with fold the Column form builds (identical tree
    after parse, so identical arithmetic), but one F.expr parse
    instead of len(vec) py4j F.lit round-trips (~1 ms each — measured
    ~1 s of pure DRIVER time per 8x64-plane bucket build)."""
    return (
        f"aggregate(zip_with({vec_sql}, {_lit_sql(vec)}, "
        f"(x, y) -> double(x) * double(y)), 0.0D, (acc, v) -> acc + v)"
    )


def _norm_sql(vec_sql: str) -> str:
    return f"sqrt(aggregate({vec_sql}, 0.0D, (acc, v) -> acc + double(v) * double(v)))"


def cosine_lit(vec_col: str, query_vec: Sequence[float]) -> Column:
    """cosine(col, literal query vector) via the one-parse SQL fast
    path; expression-identical to cosine(F.col(vec_col), _lit_vec(q))."""
    v = f"`{vec_col}`"
    nq = _norm_sql(_lit_sql(query_vec))  # constant-folded at plan time
    return F.expr(
        f"coalesce(try_divide({_fold_dot_sql(v, query_vec)}, "
        f"{_norm_sql(v)} * {nq}), 0.0D)"
    )


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")), F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))


def cosine(a: Column, b: Column) -> Column:
    # try_divide: a zero-norm vector scores NULL->0, instead of throwing
    # under Spark 4's default ANSI mode
    return F.coalesce(F.try_divide(dot(a, b), norm(a) * norm(b)), F.lit(0.0))


def cosine_topk(
    df: DataFrame, query_vec: Sequence[float], k: int = 10, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Brute-force cosine top-k against a literal query vector.
    One scan; Catalyst turns orderBy+limit into TakeOrderedAndProject
    (per-partition heaps, no global sort)."""
    scored = df.select(F.col(id_col), F.round(cosine_lit(vec_col, query_vec), 6).alias("score"))
    return scored.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)


# ---------------------------------------------------------------------------
# LSH (random hyperplane / sign bits)
# ---------------------------------------------------------------------------


def hyperplanes(dim: int, n_planes: int = 16, seed: int = 42) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_planes, dim))


def lsh_bucket(vec_col, planes: np.ndarray) -> Column:
    """Sign-bit bucket id: bit j = 1 iff vec . plane_j > 0. Pass a
    column NAME (str) for the one-parse F.expr fast path (same fold
    dots, no py4j literal tree)."""
    if isinstance(vec_col, str):
        v = f"`{vec_col}`"
        terms = "CAST(0 AS BIGINT)"
        for j, plane in enumerate(planes):
            terms += (
                f" + (CASE WHEN {_fold_dot_sql(v, plane)} > 0.0D "
                f"THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
            )
        return F.expr(terms)
    bucket = F.lit(0).cast("long")
    for j, plane in enumerate(planes):
        bucket = bucket + F.when(dot(vec_col, _lit_vec(plane)) > 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0).cast("long"))
    return bucket


def lsh_probe_set(query_vec: Sequence[float], planes: np.ndarray, multi_probe: int = 1) -> "set[int]":
    """Query bucket + all buckets within Hamming distance <= multi_probe
    (near-misses on one hyperplane are the common recall failure)."""
    n_planes = len(planes)
    qbits = sum((1 << j) for j, p in enumerate(planes) if float(np.dot(query_vec, p)) > 0)
    probe = {qbits}
    if multi_probe >= 1:
        probe |= {qbits ^ (1 << j) for j in range(n_planes)}
    if multi_probe >= 2:
        probe |= {qbits ^ (1 << i) ^ (1 << j) for i in range(n_planes) for j in range(i + 1, n_planes)}
    return probe


def lsh_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 12,
    seed: int = 42,
    multi_probe: int = 1,
) -> DataFrame:
    """ANN over an UNINDEXED table: computes every vector's bucket, then
    scores only the probe set. One full scan (the bucket computation) —
    use build_ann_index + lsh_topk_indexed for the partition-pruned
    probe that skips the scan entirely."""
    planes = hyperplanes(len(query_vec), n_planes, seed)
    probe = lsh_probe_set(query_vec, planes, multi_probe)
    bucketed = df.withColumn("__bucket", lsh_bucket(vec_col, planes))
    cand = bucketed.filter(F.col("__bucket").isin(*[int(b) for b in probe]))
    return (
        cand.select(F.col(id_col), F.round(cosine_lit(vec_col, query_vec), 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# IVF (inverted file with k-means coarse quantizer)
# ---------------------------------------------------------------------------


def kmeans_centroids(
    df: DataFrame, vec_col: str = "embedding", n_centroids: int = 16, iters: int = 3, seed: int = 42
) -> np.ndarray:
    """A few Lloyd iterations as DataFrame aggregations: assign = argmin
    distance to broadcast centroid literals; update = avg of vectors per
    cluster (posexplode + groupBy) — all JVM-side, centroids only on the
    driver (n_centroids x dim floats). The seed pool is the first
    n_centroids * 4 vectors in (xxhash64, vector) order, so the same rows
    give the same centroids whatever their partition order."""
    rng = np.random.RandomState(seed)
    seed_rows = (
        df.select(vec_col).orderBy(F.xxhash64(vec_col), vec_col).limit(n_centroids * 4).collect()
    )
    idx = rng.choice(len(seed_rows), size=n_centroids, replace=False)
    cents = np.array([seed_rows[i][0] for i in idx], dtype=np.float64)
    for _ in range(iters):
        assigned = df.select(
            assign_centroid(F.col(vec_col), cents).alias("__c"), F.col(vec_col).alias("__v")
        )
        sums = (
            assigned.select("__c", F.posexplode("__v").alias("__p", "__x"))
            .groupBy("__c", "__p")
            .agg(F.sum(F.col("__x").cast("double")).alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        new = cents.copy()
        counts = np.zeros(len(cents))
        for r in sums:
            new[r["__c"]][r["__p"]] = r["s"] / r["n"]
            counts[r["__c"]] = r["n"]
        cents = new
    return cents


def kmeans_numpy(
    mat: np.ndarray, n_centroids: int = 16, iters: int = 3, seed: int = 42
) -> np.ndarray:
    """Deterministic Lloyd iterations on a driver-side matrix. This is
    the ORACLE-able quantizer path: centroids derived outside Spark from
    a vec_id-sorted read are bit-reproducible, so they embed as literals
    in BOTH the Spark index build and the DuckDB replay (same trick as
    the LSH hyperplanes). At warehouse scale you run this on a bounded
    SAMPLE of the table (k-means centroids only need a representative
    subset), then assign the full table with assign_centroid."""
    rng = np.random.RandomState(seed)
    pool = np.asarray(mat[: n_centroids * 4], dtype=np.float64)
    idx = rng.choice(len(pool), size=n_centroids, replace=False)
    cents = pool[idx].copy()
    m = np.asarray(mat, dtype=np.float64)
    for _ in range(iters):
        scores = 2.0 * (m @ cents.T) - (cents * cents).sum(axis=1)
        assign = scores.argmax(axis=1)
        for j in range(n_centroids):
            members = assign == j
            if members.any():
                cents[j] = m[members].mean(axis=0)
    return cents


def assign_centroid_exprs(vec_col: Column, cents: np.ndarray) -> Column:
    """argmin_j ||v - c_j||^2 == argmax_j (2 v.c_j - ||c_j||^2), as pure
    Column expressions. O(n_centroids x dim) literal nodes — fine for
    small quantizers, NOT for dim>=128 x k>=64 (use the Arrow path)."""
    scores = []
    for j, c in enumerate(cents):
        s = 2.0 * dot(vec_col, _lit_vec(c)) - float(np.dot(c, c))
        scores.append(F.struct(s.alias("score"), F.lit(j).alias("j")))
    return F.array_max(F.array(*scores))["j"]


def assign_centroid_arrow(vec_col: Column, cents: np.ndarray) -> Column:
    """Arrow-batched centroid assignment: the centroid matrix travels as
    a pickled closure (k x dim floats — a few MB at most), and each
    record batch is one numpy matmul. This keeps the Catalyst plan O(1)
    regardless of k and dim."""
    c = np.ascontiguousarray(cents, dtype=np.float64)
    c_norm2 = (c * c).sum(axis=1)
    dim = c.shape[1]

    @pandas_udf("int")
    def _assign(v: pd.Series) -> pd.Series:
        vals = v.tolist()
        bad = [i for i, x in enumerate(vals) if x is None or len(x) != dim]
        if bad:
            raise ValueError(
                f"assign_centroid_arrow: {len(bad)} null/ragged embedding rows "
                f"(expected dim {dim}); first bad batch index {bad[0]}"
            )
        m = np.array(vals, dtype=np.float64)
        scores = 2.0 * (m @ c.T) - c_norm2
        return pd.Series(scores.argmax(axis=1).astype(np.int32))

    return _assign(vec_col)


def assign_centroid(vec_col: Column, cents: np.ndarray) -> Column:
    """Auto-dispatch: Column expressions while the literal tree stays
    small, Arrow pandas_udf beyond ARROW_ASSIGN_THRESHOLD literals."""
    if cents.size >= ARROW_ASSIGN_THRESHOLD:
        return assign_centroid_arrow(vec_col, cents)
    return assign_centroid_exprs(vec_col, cents)


def ivf_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    cents: np.ndarray,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF over an UNINDEXED table: assigns every vector on the fly,
    scans only the nprobe nearest inverted lists. Use build_ann_index +
    ivf_topk_indexed for the precomputed/partition-pruned form."""
    qa = np.asarray(query_vec, dtype=np.float64)
    d2 = ((cents - qa) ** 2).sum(axis=1)
    probe = [int(j) for j in np.argsort(d2)[:nprobe]]
    assigned = df.withColumn("__c", assign_centroid(F.col(vec_col), cents))
    cand = assigned.filter(F.col("__c").isin(probe))
    return (
        cand.select(F.col(id_col), F.round(cosine_lit(vec_col, query_vec), 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# persisted-index path: partition-pruned probes (the 100 TB shape)
# ---------------------------------------------------------------------------

META_FILE = "_ann_meta.json"  # leading underscore: parquet readers skip it


def build_ann_index(
    df: DataFrame,
    path: str,
    kind: str = "lsh",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    seed: int = 42,
    n_centroids: int = 16,
    iters: int = 3,
    centroids: "np.ndarray | None" = None,
) -> dict:
    """Write the embedding table partitioned by its ANN bucket —
    ``bucket`` (LSH sign bits) or ``list_id`` (IVF nearest centroid) —
    with the hyperplanes/centroids in a ``_ann_meta.json`` sidecar.
    Build cost is ONE pass over the table (assign + repartition on the
    partition column + write); every subsequent query is a
    partition-pruned read of just its probe set. Pass precomputed
    ``centroids`` (e.g. kmeans_numpy over a deterministic sample) to
    skip the in-Spark Lloyd iterations — the oracle-able configuration."""
    dim = len(df.select(vec_col).first()[0])
    meta: dict = {"kind": kind, "id_col": id_col, "vec_col": vec_col, "dim": dim}
    if kind == "lsh":
        planes = hyperplanes(dim, n_planes, seed)
        meta["planes"] = planes.tolist()
        out = df.withColumn("bucket", lsh_bucket(vec_col, planes))
        part_col = "bucket"
    elif kind == "ivf":
        if centroids is not None:
            cents = np.asarray(centroids, dtype=np.float64)
        else:
            cents = kmeans_centroids(df, vec_col=vec_col, n_centroids=n_centroids, iters=iters, seed=seed)
        meta["centroids"] = cents.tolist()
        out = df.withColumn("list_id", assign_centroid(F.col(vec_col), cents))
        part_col = "list_id"
    else:
        raise ValueError(f"unknown ANN index kind {kind!r}")
    # repartition on the partition column: each task writes one bucket's
    # file instead of every task writing a sliver of every bucket
    out.repartition(part_col).write.mode("overwrite").partitionBy(part_col).parquet(path)
    # sidecar goes through the Hadoop FS API, not open(): the index path
    # is s3a://-or-hdfs:// on the 100 TB deployment, same as the data
    fsutil.write_text(df.sparkSession, path.rstrip("/") + "/" + META_FILE, json.dumps(meta))
    _invalidate_index_cache(path)  # force re-discovery of the rebuilt index
    return meta


#: (id(spark), index_path) -> (spark, scan DataFrame, meta dict). A
#: PLAN + sidecar memo, never result rows: reading a partitioned index
#: directory costs a full partition discovery (list every bucket dir +
#: read footers) of driver time on EVERY probe construction — measured
#: ~0.5 s of the 0.68 s pruned-probe wall, against 0.06 s of execution.
#: The scan frame is an unresolved immutable node; every probe still
#: reads its partitions from disk at execution. Index builders
#: invalidate their path so a rebuilt index is re-discovered; the key
#: drops trailing slashes, so ``idx`` and ``idx/`` are one entry.
_INDEX_CACHE: dict = {}


def _invalidate_index_cache(path: str) -> None:
    path = path.rstrip("/")
    for k in [k for k in _INDEX_CACHE if k[1] == path]:
        del _INDEX_CACHE[k]


def _index_scan(spark: SparkSession, index_path: str):
    path = index_path.rstrip("/")
    k = (id(spark), path)
    hit = _INDEX_CACHE.get(k)
    if hit is None:
        meta = json.loads(fsutil.read_text(spark, path + "/" + META_FILE))
        _INDEX_CACHE[k] = hit = (spark, spark.read.parquet(path), meta)
    return hit[1], hit[2]


def _load_meta(spark: SparkSession, index_path: str) -> dict:
    return _index_scan(spark, index_path)[1]


def lsh_topk_indexed(
    spark: SparkSession,
    index_path: str,
    query_vec: Sequence[float],
    k: int = 10,
    multi_probe: int = 1,
) -> DataFrame:
    """Partition-pruned LSH probe: reads ONLY the probe buckets'
    partition directories (PartitionFilters, no full scan)."""
    df, meta = _index_scan(spark, index_path)
    planes = np.asarray(meta["planes"], dtype=np.float64)
    probe = lsh_probe_set(query_vec, planes, multi_probe)
    cand = df.filter(F.col("bucket").isin(*[int(b) for b in probe]))
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    return (
        cand.select(F.col(id_col), F.round(cosine_lit(vec_col, query_vec), 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )


def ivf_topk_indexed(
    spark: SparkSession,
    index_path: str,
    query_vec: Sequence[float],
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """Partition-pruned IVF probe: nearest-nprobe lists chosen
    driver-side against the sidecar centroids; only those partition
    directories are read."""
    df, meta = _index_scan(spark, index_path)
    cents = np.asarray(meta["centroids"], dtype=np.float64)
    qa = np.asarray(query_vec, dtype=np.float64)
    d2 = ((cents - qa) ** 2).sum(axis=1)
    probe = [int(j) for j in np.argsort(d2)[:nprobe]]
    cand = df.filter(F.col("list_id").isin(probe))
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    return (
        cand.select(F.col(id_col), F.round(cosine_lit(vec_col, query_vec), 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — compressed-domain ANN (Jégou et al. 2011,
# public). The scale path past IVF/LSH: vectors compress to m small
# sub-space codes (m bytes at k<=256), the query never touches raw
# vectors until an optional exact re-rank of the short list.
# ---------------------------------------------------------------------------


def train_pq(
    mat: np.ndarray, m: int = 8, k: int = 16, iters: int = 3, seed: int = 42
) -> np.ndarray:
    """Deterministic PQ codebooks: split the dimension into m equal
    sub-spaces and run kmeans_numpy independently in each. Returns
    (m, k, dim/m). Driver-side on a bounded SAMPLE (like the IVF
    quantizer) — codebooks are m*k*(dim/m) = k*dim floats total, so
    they embed as literals in both the Spark encode and the DuckDB
    oracle replay."""
    mat = np.asarray(mat, dtype=np.float64)
    dim = mat.shape[1]
    if dim % m:
        raise ValueError(f"train_pq: dim {dim} not divisible by m={m}")
    sub = dim // m
    return np.stack([
        kmeans_numpy(mat[:, j * sub:(j + 1) * sub], n_centroids=k, iters=iters, seed=seed + j)
        for j in range(m)
    ])


def pq_encode(
    df: DataFrame, codebooks: np.ndarray, vec_col: str = "embedding", out_col: str = "pq_code"
) -> DataFrame:
    """Encode vectors to their PQ codes: per sub-space, the nearest
    codeword index via the same argmax (2 v.c - |c|^2) struct-max
    expression the IVF assignment uses (assign_centroid auto-dispatch:
    pure Column exprs for small codebooks, Arrow beyond the literal
    threshold), over F.slice of the vector — no Python for the default
    8x16x(dim/8) shape. Output column: array<int> of length m. The
    encoded table is the thing you PERSIST: m ints per row instead of
    dim floats (32x smaller at dim=64/m=8 before parquet encoding),
    and every subsequent query scans only codes."""
    m, _k, sub = codebooks.shape
    codes = [
        assign_centroid(F.slice(F.col(vec_col), j * sub + 1, sub), codebooks[j])
        for j in range(m)
    ]
    return df.withColumn(out_col, F.array(*codes))


def pq_topk(
    codes_df: DataFrame,
    query_vec: Sequence[float],
    codebooks: np.ndarray,
    k: int = 10,
    id_col: str = "vec_id",
    code_col: str = "pq_code",
    round_to: "int | None" = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes, fully in-plan:
    the per-sub-space lookup table lut[j][c] = <q_j, codebook[j][c]>
    (the inner-product contribution of codeword c in sub-space j) is
    m x k doubles computed driver-side and embedded as a nested array
    literal; each row's approximate score is a bounded fold
    sum_j lut[j][code_j] — pure Column expressions, whole-stage
    codegen, then TakeOrderedAndProject for the top-k. The scan reads
    (id, m-int codes) only: at warehouse scale this is the query path
    that never decompresses an embedding."""
    cb = np.asarray(codebooks, dtype=np.float64)
    m, _kk, sub = cb.shape
    q = np.asarray(query_vec, dtype=np.float64)
    if q.shape[0] != m * sub:
        raise ValueError(f"pq_topk: query dim {q.shape[0]} != {m * sub}")
    lut = np.einsum("mkd,md->mk", cb, q.reshape(m, sub))
    lut_lit = F.array(*[F.array(*[F.lit(float(x)) for x in row]) for row in lut])
    score = F.aggregate(
        F.zip_with(
            F.col(code_col),
            lut_lit,
            lambda c, row: F.element_at(row, c.cast("int") + 1),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    # round_to: rank on the ROUNDED score (then id) so the ordering is
    # reproducible across engines/summation orders — the oracle-replay
    # trick ivf_topk uses (a raw float fold's last-ulp noise must not
    # decide a rank-boundary tie)
    if round_to is not None:
        score = F.round(score, round_to)
    return (
        codes_df.select(F.col(id_col), score.alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )


def pq_topk_rerank(
    df: DataFrame,
    codes_df: DataFrame,
    query_vec: Sequence[float],
    codebooks: np.ndarray,
    k: int = 10,
    rerank: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "pq_code",
) -> DataFrame:
    """Two-stage PQ search: ADC over the compressed table shortlists
    ``rerank`` candidates, then ONLY those ids join back (broadcast —
    the shortlist is k-sized) to the raw vectors for exact cosine
    ordering. The raw table is touched for ``rerank`` rows, not the
    corpus; this recovers exact-metric ordering at the top while the
    scan stays compressed-domain."""
    short = pq_topk(codes_df, query_vec, codebooks, k=rerank, id_col=id_col, code_col=code_col)
    qv = _lit_vec(query_vec)
    return (
        df.join(F.broadcast(short.select(id_col)), id_col, "left_semi")
        .select(F.col(id_col), cosine(F.col(vec_col), qv).alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# IVF-PQ — the billion-scale composition (FAISS IVFPQ shape, public):
# coarse quantizer partitions the table into inverted lists, PQ encodes
# the RESIDUAL v - centroid. With inner-product scoring the residual
# decomposes as <q, v> ~ <q, c_list> + sum_j lut[j][code_j], so the
# query-side LUT is shared by every list (codebooks are global) and
# each probed list only contributes a scalar constant.
# ---------------------------------------------------------------------------


def train_ivfpq(
    mat: np.ndarray, coarse_cents: np.ndarray, m: int = 8, k: int = 16, seed: int = 42
) -> np.ndarray:
    """PQ codebooks over coarse-assignment RESIDUALS of a sample:
    assign each row to its nearest coarse centroid (the same
    argmax 2 v.c - |c|^2 rule), subtract, train_pq the residuals.
    Deterministic for a deterministic sample (the oracle trick)."""
    mat = np.asarray(mat, dtype=np.float64)
    c = np.asarray(coarse_cents, dtype=np.float64)
    scores = 2.0 * (mat @ c.T) - (c * c).sum(axis=1)
    residuals = mat - c[scores.argmax(axis=1)]
    return train_pq(residuals, m=m, k=k, seed=seed)


def _residual_expr(vec_col: Column, cents: np.ndarray, list_col: Column) -> Column:
    """v - centroid[list_id], in-plan: the centroid matrix embeds as a
    nested array literal indexed by the row's list id."""
    cents_lit = F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in cents])
    return F.zip_with(
        vec_col, F.element_at(cents_lit, list_col.cast("int") + 1),
        lambda x, y: x.cast("double") - y,
    )


def build_ivfpq_index(
    df: DataFrame,
    path: str,
    coarse_cents: np.ndarray,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_vectors: bool = True,
) -> dict:
    """One pass over the table: coarse-assign, residual PQ-encode,
    write partitioned by list_id (partition-pruned probes) with the
    codes and — when ``keep_vectors`` — the raw vector for exact
    re-rank. Coarse centroids + codebooks persist in the same
    _ann_meta.json sidecar the LSH/IVF indexes use."""
    cents = np.asarray(coarse_cents, dtype=np.float64)
    cb = np.asarray(codebooks, dtype=np.float64)
    m, _k, sub = cb.shape
    lid = assign_centroid(F.col(vec_col), cents)
    out = df.withColumn("list_id", lid)
    res = _residual_expr(F.col(vec_col), cents, F.col("list_id"))
    codes = [
        assign_centroid(F.slice(res, j * sub + 1, sub), cb[j]) for j in range(m)
    ]
    out = out.withColumn("pq_code", F.array(*codes))
    cols = [id_col, "pq_code", "list_id"] + ([vec_col] if keep_vectors else [])
    out = out.select(*cols)
    out.repartition("list_id").write.mode("overwrite").partitionBy("list_id").parquet(path)
    meta = {
        "kind": "ivfpq", "id_col": id_col, "vec_col": vec_col,
        "dim": int(cents.shape[1]), "centroids": cents.tolist(),
        "codebooks": cb.tolist(), "keep_vectors": keep_vectors,
    }
    fsutil.write_text(df.sparkSession, path.rstrip("/") + "/" + META_FILE, json.dumps(meta))
    _invalidate_index_cache(path)  # force re-discovery of the rebuilt index
    return meta


def ivfpq_topk(
    spark: SparkSession,
    index_path: str,
    query_vec: Sequence[float],
    k: int = 10,
    nprobe: int = 2,
    rerank: int = 0,
    round_to: "int | None" = None,
) -> DataFrame:
    """Partition-pruned IVF-PQ probe: the nprobe nearest lists are
    chosen driver-side, their partitions are the ONLY ones read, and
    each row's approximate score is <q, c_list> (a per-list literal,
    folded in via a bounded CASE over the probe set) + the shared PQ
    LUT fold over its residual codes — pure expressions end-to-end,
    TakeOrderedAndProject for the top-k. ``rerank`` > 0 re-orders that
    ADC shortlist by exact cosine against the stored vectors (the
    shortlist is broadcast-sized). At warehouse scale the probe reads
    nprobe/n_lists of the CODES (m bytes/vector), which is the only
    index shape that stays IO-sane at 10^9+ vectors."""
    scan, meta = _index_scan(spark, index_path)
    if meta.get("kind") != "ivfpq":
        raise ValueError(f"not an ivfpq index: {meta.get('kind')!r}")
    cents = np.asarray(meta["centroids"], dtype=np.float64)
    cb = np.asarray(meta["codebooks"], dtype=np.float64)
    m, _kk, sub = cb.shape
    q = np.asarray(query_vec, dtype=np.float64)
    d2 = ((cents - q) ** 2).sum(axis=1)
    probes = [int(j) for j in np.argsort(d2)[:nprobe]]
    lut = np.einsum("mkd,md->mk", cb, q.reshape(m, sub))
    lut_lit = F.array(*[F.array(*[F.lit(float(x)) for x in row]) for row in lut])
    const = None
    for j in probes:
        c = F.when(F.col("list_id") == j, F.lit(float(np.dot(q, cents[j]))))
        const = c if const is None else const.when(F.col("list_id") == j, F.lit(float(np.dot(q, cents[j]))))
    score = const + F.aggregate(
        F.zip_with(F.col("pq_code"), lut_lit, lambda c_, row: F.element_at(row, c_.cast("int") + 1)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    if round_to is not None:
        score = F.round(score, round_to)
    df = scan.filter(F.col("list_id").isin(probes))
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    short = (
        df.select(F.col(id_col), score.alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(max(k, rerank))
    )
    if not rerank:
        return short.limit(k)
    if not meta.get("keep_vectors"):
        raise ValueError("rerank needs keep_vectors=True at index build")
    qv = _lit_vec(query_vec)
    return (
        scan.filter(F.col("list_id").isin(probes))
        .join(F.broadcast(short.select(id_col)), id_col, "left_semi")
        .select(F.col(id_col), F.round(cosine(F.col(vec_col), qv), 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )
