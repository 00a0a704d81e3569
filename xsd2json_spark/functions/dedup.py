"""Deduplication at training-data scale: exact, MinHash+LSH, SimHash,
n-gram Jaccard, embedding-cosine.

The text kernels are built-in expressions — shingling, MinHash,
banding, and Hamming distance all run JVM-side. The MinHash, banding
and SimHash kernels each have one builder, which takes a column NAME
and parses its whole expression as one SQL string (the same tree
through the Column API costs hundreds of py4j round-trips of driver
time per query build). The LSH self-joins
shuffle on band-bucket keys, so candidate generation is O(#colliding
pairs), not O(n^2); the exact verify (Jaccard / cosine) touches
candidates only. The embedding kernels auto-dispatch to Arrow-batched
pandas_udfs (one numpy pass per record batch) above a literal-count
crossover, exactly like similarity's centroid assignment. This is the
shape that survives 100 TB: no cross join, no per-row Python, no
driver loop.
"""

from __future__ import annotations

import pandas as pd  # module-level so pandas_udf type hints resolve under __future__ annotations
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def normalized_text(col: Column) -> Column:
    """Lowercased, whitespace-normalized text (the shingle base)."""
    return F.lower(F.regexp_replace(F.trim(col), r"\s+", " "))


def shingles_of_normalized(norm: Column, k: int = 5) -> Column:
    """Set of character k-shingles over an ALREADY-normalized column.

    PERFORMANCE CONTRACT: pass a projected attribute (a real column),
    not an expression. Higher-order functions are interpreted, and an
    expression captured inside the transform lambda is re-evaluated PER
    ARRAY ELEMENT — with the regex normalization inline that is one
    regex pass per character, O(len^2) per document (measured 14 s to
    shingle 150 docs of 300 chars). Projecting the normalization first
    makes the lambda read a bound attribute. The two-step shape in
    shingled()/the pair functions keeps Catalyst's CollapseProject from
    re-inlining it (non-cheap expr referenced more than once)."""
    n = F.length(norm)
    return F.when(n < k, F.array(norm)).otherwise(
        F.array_distinct(F.transform(F.sequence(F.lit(1), n - k + 1), lambda i: norm.substr(i, F.lit(k))))
    )


def shingles(col: Column, k: int = 5) -> Column:
    """Set of character k-shingles (lowercased, whitespace-normalized).
    Single-expression form — convenient for tests/small data; for the
    scale path prefer shingled() which projects the normalization once
    per row (see shingles_of_normalized)."""
    return shingles_of_normalized(normalized_text(col), k)


def shingled(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """(__id, __sh) with the normalization materialized in its own
    projection — one regex pass per ROW, not per shingle."""
    return df.select(
        F.col(id_col).alias("__id"), normalized_text(F.col(text_col)).alias("__norm")
    ).select("__id", shingles_of_normalized(F.col("__norm"), k).alias("__sh"))


#: MinHash values live in [0, 2^32): (u1 + j*u2) mod 2^32 never
#: overflows a long even at j=63, so the kernel is safe under Spark 4's
#: default ANSI arithmetic (no wrap-around multiply available there).
_MASK32 = (1 << 32) - 1
#: sentinel above any 32-bit hash — the fold's initial per-slot minimum
_MIN_INIT = 1 << 33


def minhash_signature(col_name: str, num_hashes: int = 64, family: str = "xxhash64") -> Column:
    """MinHash signature (array<long>, length num_hashes) of the shingle
    array column ``col_name``, in a SINGLE traversal: one aggregate whose
    accumulator is the element-wise running minimum of the per-shingle
    hash family.

    Each shingle costs TWO base hashes (Kirsch–Mitzenmacher double
    hashing: h_j = (u1 + j*u2) mod 2^32 behaves like an independent
    family for min-wise use — the standard Bloom-filter construction),
    then num_hashes cheap multiply-adds. The base hashes are bound once
    inside a single-element transform(): higher-order functions are
    interpreted and re-evaluate a captured expression per reference, so
    the slot expressions must read the bound u1/u2.

    family='xxhash64' is the production path (one JVM hash); family
    ='md5' derives u1/u2 from md5 hex digits — md5 is the one hash
    Spark and DuckDB share, which makes the whole signature -> band ->
    pair pipeline exactly replayable as a DuckDB oracle.

    Built as ONE SQL expression string: the same tree through the Column
    API costs hundreds of py4j round-trips (~1-2 s of pure driver time
    per query build, measured); one F.expr parse is ~10 ms."""
    if family == "xxhash64":
        u1 = f"xxhash64(s) & {_MASK32}"
        u2 = f"xxhash64(s, 1) & {_MASK32} | 1"
    elif family == "md5":
        u1 = f"cast(conv(substring(md5(s), 1, 8), 16, 10) as bigint)"
        u2 = f"cast(conv(substring(md5(s), 9, 8), 16, 10) as bigint) | 1"
    else:
        raise ValueError(f"unknown minhash family {family!r}")
    slots = ", ".join(f"(st.u1 + {j} * st.u2) & {_MASK32}" for j in range(num_hashes))
    hashes = (
        f"transform(array(named_struct('u1', {u1}, 'u2', {u2})), st -> array({slots}))[0]"
    )
    return F.expr(
        f"aggregate({col_name}, "
        f"array_repeat(cast({_MIN_INIT} as bigint), {num_hashes}), "
        f"(acc, s) -> zip_with(acc, {hashes}, (a, b) -> least(a, b)))"
    )


def band_keys(col_name: str, bands: int = 16, rows: int = 4, hashed: bool = True) -> Column:
    """LSH banding of the signature column ``col_name``: key each band
    of `rows` signature slots; docs sharing ANY band key are candidates.
    hashed=True keys on xxhash64 of the band (8-byte shuffle key — the
    scale default); hashed=False keys on the comma-joined slot string,
    which DuckDB can reproduce exactly (the oracle path). One SQL parse,
    for the same reason as minhash_signature."""
    entries = []
    for b in range(bands):
        joined = (
            f"concat_ws(',', transform(slice({col_name}, {b * rows + 1}, {rows}), "
            f"x -> cast(x as string)))"
        )
        key = f"xxhash64({joined})" if hashed else joined
        entries.append(f"named_struct('band', {b}, 'h', {key})")
    return F.expr(f"array({', '.join(entries)})")


def jaccard(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(1.0))


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Hash-groupBy exact dedup: groups of identical (normalized) text.
    Returns (fingerprint, n_docs, doc_ids) for groups with n>1. The
    groupBy key is the 256-bit hash, not the text itself, so the shuffle
    carries 32 bytes per row instead of the document."""
    h = F.sha2(normalized_text(F.col(text_col)), 256)
    return (
        df.select(F.col(id_col), h.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sort_array(F.collect_list(id_col)).alias("doc_ids"))
        .filter(F.col("n_docs") > 1)
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    family: str = "xxhash64",
    hashed_bands: bool = True,
) -> DataFrame:
    """Near-duplicate pairs via MinHash LSH:
      shingle -> minhash -> band -> bucket self-join -> exact-Jaccard
      verify on candidates only.
    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.

    Shuffle shape: the band self-join carries only (id, band-key) — the
    shingle sets do NOT ride through it 16x (they are joined back for
    the exact-Jaccard verify of surviving candidates only). The
    (id, shingles, signature) base is computed ONCE and persisted
    (MEMORY_AND_DISK) because the self-join + verify read it three
    times; at warehouse scale write it to a table instead with
    build_minhash_base and pair it with minhash_pairs_from_base.

    family='md5' + hashed_bands=False is the oracle configuration: every
    step (md5-derived signatures, comma-joined band keys, candidate
    join, exact Jaccard) is replayable in DuckDB SQL."""
    base = _minhash_base(df, id_col, text_col, k, num_hashes, family).persist()
    return _minhash_pairs_over_base(base, num_hashes, bands, threshold, hashed_bands)


def _minhash_base(
    df: DataFrame, id_col: str, text_col: str, k: int, num_hashes: int, family: str
) -> DataFrame:
    """The (__id, __sh, __sig) MinHash base: shingles plus signature."""
    return shingled(df, id_col, text_col, k).withColumn(
        "__sig", minhash_signature("__sh", num_hashes, family)
    )


def _minhash_pairs_over_base(
    base: DataFrame, num_hashes: int, bands: int, threshold: float, hashed_bands: bool
) -> DataFrame:
    """Band self-join + exact-Jaccard verify over a (__id, __sh, __sig)
    base — shared by the in-memory (minhash_lsh_pairs) and persisted
    (minhash_pairs_from_base) paths, so the warehouse route runs the
    byte-identical plan over a parquet base instead of a cached one.

    ``bands`` must divide ``num_hashes``: otherwise the trailing slots
    are silently dropped, and with bands > num_hashes every band is
    empty, so every pair of docs becomes a candidate."""
    if bands < 1 or num_hashes % bands:
        raise ValueError(f"bands={bands} must divide num_hashes={num_hashes}")
    rows = num_hashes // bands
    banded = base.select(
        "__id", F.explode(band_keys("__sig", bands, rows, hashed_bands)).alias("__bk")
    )
    left = banded.alias("l")
    right = banded.alias("r")
    cand = (
        left.join(right, on=[F.col("l.__bk") == F.col("r.__bk"), F.col("l.__id") < F.col("r.__id")])
        .select(F.col("l.__id").alias("id_a"), F.col("r.__id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sh_a = base.select(F.col("__id").alias("id_a"), F.col("__sh").alias("sh_a"))
    sh_b = base.select(F.col("__id").alias("id_b"), F.col("__sh").alias("sh_b"))
    return (
        cand.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .select("id_a", "id_b", F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


#: sidecar filename for the persisted MinHash base (same Hadoop-FS
#: mechanism as similarity.META_FILE, so s3a://-or-hdfs:// paths work)
MINHASH_META_FILE = "_minhash_meta.json"


def build_minhash_base(
    df: DataFrame,
    path: str,
    id_col: str,
    text_col: str,
    k: int = 5,
    num_hashes: int = 64,
    family: str = "xxhash64",
) -> dict:
    """Materialize the (__id, __sh, __sig) MinHash base as a parquet
    table — the warehouse-scale alternative to minhash_lsh_pairs, which
    persists the corpus' shingle sets in executor memory/disk (fine at
    bench scale, not at 100 TB). Build cost is ONE pass (shingle +
    signature + write); the shingle/hash parameters ride a sidecar so
    the pair job can't silently mismatch them. Mirrors
    similarity.build_ann_index."""
    import json

    from xsd2json_spark.sources import fsutil

    meta = {
        "id_col": id_col, "text_col": text_col, "k": k,
        "num_hashes": num_hashes, "family": family,
    }
    _minhash_base(df, id_col, text_col, k, num_hashes, family).write.mode("overwrite").parquet(path)
    fsutil.write_text(
        df.sparkSession, path.rstrip("/") + "/" + MINHASH_META_FILE, json.dumps(meta)
    )
    return meta


def minhash_pairs_from_base(
    spark,
    path: str,
    bands: int = 16,
    threshold: float = 0.7,
    hashed_bands: bool = True,
) -> DataFrame:
    """Near-duplicate pairs from a persisted MinHash base
    (build_minhash_base): identical banding + verify plan as
    minhash_lsh_pairs, reading the parquet base instead of holding
    shingles in executor memory — the 100 TB path. num_hashes comes
    from the sidecar; bands must divide it."""
    import json

    from xsd2json_spark.sources import fsutil

    meta = json.loads(fsutil.read_text(spark, path.rstrip("/") + "/" + MINHASH_META_FILE))
    base = spark.read.parquet(path)
    return _minhash_pairs_over_base(base, int(meta["num_hashes"]), bands, threshold, hashed_bands)


def _release_checkpoint(df: "DataFrame | None") -> None:
    """Drop the executor blocks behind a ``localCheckpoint``-ed frame
    (its plan is one LogicalRDD over the checkpointed RDD). Spark has no
    public call for this; without it the blocks stay registered until a
    later JVM GC lets the ContextCleaner reclaim them."""
    if df is not None:
        df._jdf.queryExecution().logical().rdd().unpersist(False)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over a near-duplicate PAIR graph — the step
    that turns pairwise matches into dedup groups (pairs alone
    over-count: A~B and B~C must collapse to one group even when A~C
    was never emitted). Returns (id, component) where component is the
    MINIMUM id reachable from the node; one row per node that appears
    in any pair.

    Algorithm: min-label propagation with path halving. Each round
    (1) every node takes min(own label, min neighbor label) — one
    shuffle join on the edge key; (2) labels chase one pointer hop
    (label := label's label) — a self-join that halves label-chain
    depth, so convergence is O(log diameter) rounds instead of
    O(diameter); dup clusters are near-cliques, so 2-4 rounds in
    practice. The edges and each round's label table are
    localCheckpoint-ed eagerly, so a round reads materialized labels
    and never re-runs earlier rounds (a constant number of Spark jobs
    per round); the previous round's table is released once the new one
    exists. The convergence test is an ``isEmpty`` probe over the
    checkpointed table. The returned labels are that last checkpoint
    (lineage-free, two ids per node); the edges and every earlier
    round are released before returning.

    Raises after ``max_iter`` rounds without convergence rather than
    returning silently-partial components."""
    e = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    edges = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    edges = edges.localCheckpoint(eager=True)
    labels = edges.select(F.col("a").alias("id")).distinct().withColumn("comp", F.col("id"))
    hop = None
    for _ in range(max_iter):
        nbr = (
            edges.join(
                labels.select(F.col("id").alias("b"), F.col("comp").alias("__nc")), "b"
            )
            .groupBy("a")
            .agg(F.min("__nc").alias("__mn"))
            .select(F.col("a").alias("id"), "__mn")
        )
        prop = labels.join(nbr, "id", "left").select(
            "id", F.least("comp", F.coalesce("__mn", "comp")).alias("comp"), F.col("comp").alias("__old")
        )
        # path halving: comp := label(comp) (comp values ARE node ids)
        prev = hop
        hop = prop.join(
            prop.select(F.col("id").alias("comp"), F.col("comp").alias("__cc")),
            "comp",
            "left",
        ).select(
            "id", F.least(F.coalesce("__cc", "comp"), "comp").alias("comp"), "__old"
        ).localCheckpoint(eager=True)
        _release_checkpoint(prev)  # the new labels exist: drop the old
        labels = hop.select("id", "comp")
        if hop.filter(F.col("comp") != F.col("__old")).isEmpty():
            _release_checkpoint(edges)
            return labels
    _release_checkpoint(edges)
    _release_checkpoint(hop)
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds "
        f"(pathological graph diameter?)"
    )


def dedup_survivors(df: DataFrame, pairs: DataFrame, id_col: str) -> DataFrame:
    """Drop every duplicate-group member except the minimum-id
    representative: components over the pair graph, anti-join the
    non-representatives. Rows in no pair survive untouched — so this
    composes with any pair generator (minhash / simhash / embedding)."""
    comp = connected_components(pairs)
    losers = comp.filter(F.col("id") != F.col("comp")).select(F.col("id").alias(id_col))
    return df.join(losers, id_col, "left_anti")


def simhash(col_name: str, num_bits: int = 64, family: str = "xxhash64") -> Column:
    """SimHash over the whitespace tokens of the text column
    ``col_name``: per bit position, sum +-1 votes of each token's hash
    bit; the sign vector packs into a long. Pure aggregate/zip_with — no
    UDF. The token hash and the vote vector are each bound once via the
    single-element-transform trick (a captured expression would be
    re-evaluated per bit).

    family='xxhash64' is the production path (64 bits, one JVM hash);
    family='md5' takes bit j of token t from md5 hex digits,
    (hexval(md5(t)[j/4]) >> (j%4)) & 1 — md5 is the one hash Spark and
    DuckDB implement identically, so that variant replays EXACTLY as an
    oracle query.

    Built as ONE SQL expression string: the Column-API tree costs
    ~4 x num_bits py4j round-trips (measured 2.8 s of pure driver time
    per doc_simhash_pairs build); one F.expr parse is milliseconds."""
    if family == "xxhash64":
        slots = ", ".join(
            f"CAST((shiftright(h, {b}) & 1) * 2 - 1 AS BIGINT)" for b in range(num_bits)
        )
        hashed = f"transform(array(xxhash64(t)), h -> array({slots}))[0]"
    elif family == "md5":
        slots = ", ".join(
            f"CAST((shiftright(CAST(conv(substring(h, {1 + j // 4}, 1), 16, 10) AS INT), {j % 4}) & 1) * 2 - 1 AS BIGINT)"
            for j in range(num_bits)
        )
        hashed = f"transform(array(md5(t)), h -> array({slots}))[0]"
    else:
        raise ValueError(f"unknown simhash family {family!r}")
    votes = (
        f"aggregate(split(lower(trim(`{col_name}`)), '\\\\s+'), "
        f"array_repeat(CAST(0 AS BIGINT), {num_bits}), "
        f"(acc, t) -> zip_with(acc, {hashed}, (a, v) -> a + v))"
    )
    packed = " + ".join(
        f"(CASE WHEN element_at(v, {b + 1}) > 0 "
        f"THEN shiftleft(CAST(1 AS BIGINT), {b}) ELSE CAST(0 AS BIGINT) END)"
        for b in range(num_bits)
    )
    return F.expr(f"transform(array({votes}), v -> CAST({packed} AS BIGINT))[0]")


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    prefix_bits: int = 16,
    family: str = "xxhash64",
    num_bits: int = 64,
) -> DataFrame:
    """SimHash near-dup pairs: block on the top `prefix_bits` bits (a
    cheap LSH — near-identical texts share the prefix), verify Hamming
    distance within blocks. family='md5' (with num_bits<=32) is the
    oracle configuration — every step (md5 bit votes, prefix block,
    bit_count Hamming) replays in DuckDB SQL."""
    sigs = df.select(F.col(id_col).alias("__id"), simhash(text_col, num_bits, family).alias("__sim"))
    sigs = sigs.withColumn("__block", F.shiftrightunsigned(F.col("__sim"), num_bits - prefix_bits))
    # the self-join reads sigs twice; persisting runs the vote fold
    # once per row instead of once per side (as minhash_lsh_pairs
    # persists its base — bench harnesses clear the cache between samples)
    sigs = sigs.persist()
    l, r = sigs.alias("l"), sigs.alias("r")
    return (
        l.join(r, on=[F.col("l.__block") == F.col("r.__block"), F.col("l.__id") < F.col("r.__id")])
        .select(
            F.col("l.__id").alias("id_a"),
            F.col("r.__id").alias("id_b"),
            hamming64(F.col("l.__sim"), F.col("r.__sim")).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, threshold: float = 0.8, max_shingle_freq: int = 100
) -> DataFrame:
    """EXACT n-gram Jaccard via inverted index: explode shingles, drop
    ultra-common shingles (frequency cap defuses the quadratic blowup on
    stop-shingles), self-join on shingle, count common shingles per pair,
    then J = common / (|A| + |B| - common). No approximation besides the
    frequency cap (capped shingles can only LOWER recall near the
    threshold; report the cap)."""
    sh = shingled(df, id_col, text_col, n)
    sizes = sh.select("__id", F.size("__sh").alias("__sz"))
    inv = sh.select("__id", F.explode("__sh").alias("__s"))
    freq = inv.groupBy("__s").agg(F.count(F.lit(1)).alias("__f")).filter(F.col("__f") <= max_shingle_freq)
    inv = inv.join(freq.select("__s"), "__s")  # AQE picks broadcast when the survivor set is small
    l, r = inv.alias("l"), inv.alias("r")
    common = (
        l.join(r, on=[F.col("l.__s") == F.col("r.__s"), F.col("l.__id") < F.col("r.__id")])
        .groupBy(F.col("l.__id").alias("id_a"), F.col("r.__id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("__id").alias("id_a"), F.col("__sz").alias("sz_a"))
    sb = sizes.select(F.col("__id").alias("id_b"), F.col("__sz").alias("sz_b"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common")), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def band_planes(dim: int, n_bands: int, planes_per_band: int, seed: int = 42):
    """Banded random hyperplanes for embedding near-dup LSH: one
    (planes_per_band x dim) sign-bit sketch per band, all drawn from a
    single seeded RandomState so DuckDB oracles can replay them as
    literals (same trick as similarity.hyperplanes)."""
    import numpy as np

    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_bands, planes_per_band, dim))


def _sql_band_structs(vec_sql: str, planes) -> str:
    """One-parse SQL for the array of (band, bucket) structs.

    Building this with per-literal Column ops costs n_bands x
    planes_per_band x dim F.lit py4j round-trips (~7 s of DRIVER time
    at 8x4x64 before a single task runs); a single F.expr parse of the
    same expression is milliseconds — the MinHash kernel precedent.
    Semantics are identical to similarity.lsh_bucket: dot as a
    left-to-right double fold, bucket bit j = 1 iff dot(plane_j) > 0."""
    structs = []
    for b in range(len(planes)):
        terms = []
        for j, p in enumerate(planes[b]):
            vec = "array(" + ",".join(f"{float(x)!r}D" for x in p) + ")"
            dot = (
                f"aggregate(zip_with({vec_sql}, {vec}, (x, y) -> double(x) * double(y)), "
                f"0.0D, (acc, v) -> acc + v)"
            )
            terms.append(f"(CASE WHEN {dot} > 0.0D THEN {1 << j}L ELSE 0L END)")
        structs.append(f"named_struct('band', {b}, 'bucket', CAST({' + '.join(terms)} AS BIGINT))")
    return "array(" + ", ".join(structs) + ")"


#: plane-literal count above which embedding_near_dups switches the
#: bucket computation to the Arrow matmul (lower than similarity's
#: ARROW_ASSIGN_THRESHOLD because the expression is re-analyzed across
#: the explode + self-join and interpreted per-element at eval time)
EMB_ARROW_THRESHOLD = 1024


def _band_buckets_arrow(vec_col: Column, planes) -> Column:
    """Arrow-batched band buckets: one BLAS matmul per record batch
    computes ALL n_bands x planes_per_band plane dots at once and packs
    the sign bits per band — the large-config path (high dim / many
    planes), where per-element interpreted folds dominate and the plan
    literal tree would bloat Catalyst analysis. Mirrors
    similarity.assign_centroid_arrow (incl. the null/ragged guard)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    p = np.ascontiguousarray(planes, dtype=np.float64)  # (nb, ppb, dim)
    nb, ppb, dim = p.shape
    flat_t = p.reshape(nb * ppb, dim).T  # dim x (nb*ppb)
    weights = (1 << np.arange(ppb)).astype(np.int64)

    @pandas_udf("array<long>")
    def _buckets(v: pd.Series) -> pd.Series:
        vals = v.tolist()
        bad = [i for i, x in enumerate(vals) if x is None or len(x) != dim]
        if bad:
            raise ValueError(
                f"band_buckets_arrow: {len(bad)} null/ragged embedding rows "
                f"(expected dim {dim}); first bad batch index {bad[0]}"
            )
        m = np.array(vals, dtype=np.float64)
        bits = (m @ flat_t) > 0  # n x (nb*ppb)
        buckets = bits.reshape(len(m), nb, ppb).astype(np.int64) @ weights  # n x nb
        return pd.Series(list(buckets))

    return _buckets(vec_col)


def _cosine_arrow(a_col: Column, b_col: Column, dim: int) -> Column:
    """Arrow-batched exact cosine for the candidate-verify step: one
    vectorized numpy pass per record batch instead of an interpreted
    ~3x dim lambda fold per pair (the fold dominates wall-clock once
    candidates number in the tens of thousands). Zero-norm pairs score
    0.0, matching similarity.cosine's try_divide+coalesce."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _cos(a: pd.Series, b: pd.Series) -> pd.Series:
        va, vb = a.tolist(), b.tolist()
        bad = [i for i, (x, y) in enumerate(zip(va, vb))
               if x is None or y is None or len(x) != dim or len(y) != dim]
        if bad:
            raise ValueError(
                f"cosine_arrow: {len(bad)} null/ragged embedding rows "
                f"(expected dim {dim}); first bad batch index {bad[0]}"
            )
        ma = np.array(va, dtype=np.float64)
        mb = np.array(vb, dtype=np.float64)
        num = (ma * mb).sum(axis=1)
        den = np.sqrt((ma * ma).sum(axis=1)) * np.sqrt((mb * mb).sum(axis=1))
        out = np.divide(num, den, out=np.zeros_like(num), where=den > 0)
        return pd.Series(out)

    # asNondeterministic blocks Catalyst from pushing the downstream
    # cos_sim >= threshold filter through the projection, which would
    # duplicate the ArrowEvalPython node and run the verify twice per
    # candidate pair (it IS deterministic; the mark is a pushdown fence).
    return _cos.asNondeterministic()(a_col, b_col)


#: prefilter slack for the in-bucket BLAS cosine: the exact verify keeps
#: pairs with round(cos, 6) >= threshold, i.e. true cos >= threshold -
#: 5e-7; BLAS matmul vs elementwise-sum drift is ~1e-15 relative, so a
#: 1e-5 margin makes a prefilter false negative impossible while still
#: discarding ~all below-threshold candidates before they exist as rows
_EMB_PREFILTER_MARGIN = 1e-5
#: row-block size for the in-bucket pairwise cosine: bounds the scratch
#: matmul block at B*B doubles (~128 MB at 4096) however hot the bucket
_EMB_PAIR_BLOCK = 4096


def _bucket_pair_prefilter(dim: int, min_cos: float, id_dtype: str):
    """applyInPandas kernel for one (band, bucket) group: BLAS pairwise
    cosine over the group's vectors, emitting only (id_a, id_b) pairs
    with cosine >= min_cos (id_a < id_b). Blocked so a degenerate hot
    bucket costs bounded memory (time stays O(b^2) — that is the
    declared semantics of an LSH candidate bucket)."""
    import numpy as np

    def prefilter(pdf: pd.DataFrame) -> pd.DataFrame:
        vals = pdf["__vec"].tolist()
        bad = [i for i, x in enumerate(vals) if x is None or len(x) != dim]
        if bad:
            raise ValueError(
                f"embedding_near_dups: {len(bad)} null/ragged embedding rows "
                f"(expected dim {dim}); first bad batch index {bad[0]}"
            )
        ids = pdf["__id"].to_numpy()
        n = len(ids)
        if n < 2:
            return pd.DataFrame({"id_a": ids[:0], "id_b": ids[:0]})
        m = np.array(vals, dtype=np.float64)
        norms = np.sqrt((m * m).sum(axis=1))
        out_a, out_b = [], []
        B = _EMB_PAIR_BLOCK
        for i0 in range(0, n, B):
            mi, ni = m[i0:i0 + B], norms[i0:i0 + B]
            for j0 in range(i0, n, B):
                mj, nj = m[j0:j0 + B], norms[j0:j0 + B]
                num = mi @ mj.T
                den = np.outer(ni, nj)
                cos = np.divide(num, den, out=np.zeros_like(num), where=den > 0)
                keep = cos >= min_cos
                if i0 == j0:
                    keep &= np.triu(np.ones_like(keep, dtype=bool), k=1)
                ii, jj = np.nonzero(keep)
                if len(ii):
                    ia, jb = ids[i0 + ii], ids[j0 + jj]
                    ne = ia != jb  # l.__id < r.__id excludes duplicate-id pairs
                    ia, jb = ia[ne], jb[ne]
                    out_a.append(np.minimum(ia, jb))
                    out_b.append(np.maximum(ia, jb))
        if not out_a:
            return pd.DataFrame({"id_a": ids[:0], "id_b": ids[:0]})
        return pd.DataFrame(
            {"id_a": np.concatenate(out_a), "id_b": np.concatenate(out_b)}
        )

    return prefilter, f"id_a {id_dtype}, id_b {id_dtype}"


def embedding_near_dups(
    df: DataFrame,
    dim: int,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bands: int = 8,
    planes_per_band: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via banded hyperplane LSH:
      sign-bit bucket per band -> per-(band, bucket) self-join ->
      distinct candidate pairs -> exact-cosine verify on candidates only.
    Returns (id_a, id_b, cos_sim) with id_a < id_b, round(cos,6) >= threshold.

    Scale shape (mirrors minhash_pairs): the banded self-join shuffles
    only (id, band, bucket) — embeddings do NOT ride through the join
    n_bands times; they are re-joined for the exact-cosine verify of the
    deduplicated candidate set only. Collision probability per band is
    (1 - theta/pi)^planes_per_band, so n_bands x planes_per_band tunes
    the recall/candidate-count trade-off exactly like MinHash banding.
    No cross join anywhere.

    Bucket computation auto-dispatches like IVF centroid assignment,
    but with a LOWER crossover than ARROW_ASSIGN_THRESHOLD: the bucket
    expression feeds an explode and a self-join, so Catalyst re-analyzes
    the literal tree several times per plan (measured: 8x4x64 = 2048
    literals cost ~13 s/run of driver-side analysis at 500 rows), and
    per ROW the interpreted higher-order folds pay ~n_planes x dim
    lambda evaluations where the Arrow path is one record-batch BLAS
    matmul. Below the crossover the plan is pure expressions (no
    Python — the DuckDB-oracle configuration, test-asserted equal to
    Arrow).

    The expression path persists the (id, band, bucket) keying, which
    its self-join reads once per side. The persisted keying is 3 longs
    x n_bands per row; at warehouse scale it belongs in a table (the
    build_minhash_base precedent)."""
    from xsd2json_spark.functions.similarity import cosine

    planes = band_planes(dim, n_bands, planes_per_band, seed)
    use_arrow = n_bands * planes_per_band * dim > EMB_ARROW_THRESHOLD
    if use_arrow:
        # Scale path (round 6): the old shape self-joined the (id, band,
        # bucket) keying and verified every colliding pair — with coarse
        # buckets (16 per band here) ~40% of ALL pairs collide, so the
        # join output, its dropDuplicates shuffle, and the per-pair
        # verify grow O(n^2) in ROWS (measured 231 s at 20k vectors).
        # Now the group's vectors meet inside one applyInPandas kernel
        # per (band, bucket): a blocked BLAS matmul computes the same
        # pairwise cosines in the compressed matrix domain and only
        # pairs already >= threshold - margin ever BECOME rows. The
        # shuffle is one pass of (id, band, bucket, vec) — n_bands
        # copies of the table, ~90 MB at 20k x 64 — and the exact
        # _cosine_arrow verify (bit-identical arithmetic to the old
        # plan) runs on the surviving handful only.
        keyed = df.select(
            F.col(id_col).alias("__id"), _band_buckets_arrow(F.col(vec_col), planes).alias("__bks"),
            F.col(vec_col).alias("__vec"),
        ).select("__id", F.posexplode("__bks").alias("__band", "__bucket"), "__vec")
        id_dtype = df.schema[id_col].dataType.simpleString()
        prefilter, pair_schema = _bucket_pair_prefilter(
            dim, threshold - _EMB_PREFILTER_MARGIN, id_dtype
        )
        cand = (
            keyed.groupBy("__band", "__bucket")
            .applyInPandas(prefilter, pair_schema)
            .dropDuplicates(["id_a", "id_b"])
        )
    else:
        bands = F.expr(_sql_band_structs(f"`{vec_col}`", planes))
        keyed = df.select(F.col(id_col).alias("__id"), F.explode(bands).alias("__bb")).select(
            "__id", F.col("__bb.band").alias("__band"), F.col("__bb.bucket").alias("__bucket")
        ).persist()
        left, right = keyed.alias("l"), keyed.alias("r")
        cand = (
            left.join(
                right,
                on=[
                    F.col("l.__band") == F.col("r.__band"),
                    F.col("l.__bucket") == F.col("r.__bucket"),
                    F.col("l.__id") < F.col("r.__id"),
                ],
            )
            .select(F.col("l.__id").alias("id_a"), F.col("r.__id").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"])
        )
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    cos = (
        _cosine_arrow(F.col("__va"), F.col("__vb"), dim)
        if use_arrow
        else cosine(F.col("__va"), F.col("__vb"))
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", F.round(cos, 6).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def word_ngrams(col: Column, n: int = 8) -> Column:
    """Word n-grams of lowercased whitespace tokens (array<string>);
    docs with fewer than n tokens yield an empty array."""
    from xsd2json_spark.functions.text import tokens

    toks = tokens(F.lower(col))
    cnt = F.size(toks) - (n - 1)
    return F.when(cnt <= 0, F.array().cast("array<string>")).otherwise(
        F.transform(F.sequence(F.lit(1), cnt), lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    )


def _exploded_word_ngrams(df: DataFrame, cols, text_col: str, n: int) -> DataFrame:
    """(cols..., __g): one row per word n-gram of the lowercased
    whitespace tokens — the same multiset of rows as
    ``explode(word_ngrams(lower(text), n))`` (NULL/short texts yield no
    rows either way), but fully whole-stage-codegen: an explode of the
    1..cnt gram positions plus an element_at/concat_ws projection,
    instead of the interpreted higher-order transform whose per-element
    slice+concat allocations dominated the contamination scan (HOFs are
    CodegenFallback; measured ~2x on the 200k-doc gram build)."""
    from xsd2json_spark.functions.text import tokens

    base = (
        df.select(*cols, tokens(F.lower(F.col(text_col))).alias("__toks"))
        .select(*cols, "__toks", (F.size("__toks") - (n - 1)).alias("__cnt"))
        .filter(F.col("__cnt") > 0)
    )
    gram = F.concat_ws(
        " ", *[F.element_at(F.col("__toks"), F.col("__i") + F.lit(j)) for j in range(n)]
    )
    return base.select(
        *cols, F.explode(F.sequence(F.lit(1), F.col("__cnt"))).alias("__i"), "__toks"
    ).select(*cols, gram.alias("__g"))


def ngram_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    hashed: bool = True,
) -> DataFrame:
    """Eval-set decontamination: flag every training document sharing at
    least one word n-gram with the eval corpus, with the count of
    distinct shared grams. Returns (id, n_shared_grams).

    Shape for 100 TB training vs a benchmark-sized eval set: the eval
    side reduces to DISTINCT grams and BROADCASTS — the training scan
    is one pass, never shuffled on text. hashed=True joins on
    xxhash64(gram) (8-byte broadcast entries, the production default —
    an eval set of 10M grams broadcasts in ~80 MB); hashed=False joins
    on the gram string, which a DuckDB oracle replays verbatim. A
    same-text gram matches either way; hash collisions at 64 bits are
    ~n_grams^2 / 2^64 — negligible for decontamination (and
    conservative: a collision only over-flags)."""
    key = (lambda g: F.xxhash64(g)) if hashed else (lambda g: g)
    eg = (
        _exploded_word_ngrams(eval_df, [], text_col, n)
        .select(key(F.col("__g")).alias("__k"))
        .distinct()
    )
    tg = _exploded_word_ngrams(train, [F.col(id_col)], text_col, n).select(
        id_col, key(F.col("__g")).alias("__k")
    )
    # broadcast-filter FIRST, dedup ONLY the matched grams: eg is
    # distinct, so the inner join is a pure semi-filter (preserves tg
    # multiplicity) and filter-then-distinct == distinct-then-filter.
    # The (id, gram) dedup shuffle then carries only grams that hit the
    # eval set instead of every training gram — on a clean corpus that
    # is a ~contamination-rate fraction of the bytes (measured 4.7 s ->
    # sub-second at 100k docs; the old shape shuffled ~5M gram strings
    # to drop almost all of them after the join).
    return (
        tg.join(F.broadcast(eg), "__k")
        .dropDuplicates([id_col, "__k"])
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )
