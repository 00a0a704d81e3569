"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is an implemented operator from SURVEY.md §2 /
the training-data-pipeline extensions, expressed Spark-first through
xsd2json_spark. ``oracle_sql()`` gives the DuckDB-equivalent ANSI SQL
run on the same parquet views; column names are aliased identically on
both sides (the driver hash-compares values after sorting columns by
name). Floating aggregates are rounded on BOTH sides to dodge
summation-order low-bit drift.

Non-SQL-expressible entries (the xxhash64 production variants of
MinHash/SimHash pairs, BPE encoding, multimodal codec) intentionally
have no oracle — the driver records a rows-only check, and each
carries a pytest golden instead (planted-dup recall, textbook BPE
merge sequence, deterministic codec); where a SQL-replayable sibling
exists it IS oracle-checked end-to-end (doc_minhash_dups,
doc_simhash_pairs_md5), so the pipeline logic itself is hash-verified.
The drift verdicts (chi2/PSI) are fully oracle-checked since round 4 —
pass/fail evaluates in-plan against a broadcast critical-value table
that DuckDB replays as literals; only the p-value CONVERSION (chi2_sf,
ks_pvalue) stays a driver-side utility, scipy-pinned in tests.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from xsd2json_spark import spec_from_dict  # noqa: E402
from xsd2json_spark.engine import EngineConfig, ValidationEngine  # noqa: E402
from xsd2json_spark.functions import dedup as D  # noqa: E402
from xsd2json_spark.functions import similarity as S  # noqa: E402
from xsd2json_spark.functions import text as T  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


#: (id(spark), sf_dir, name) -> (spark, scan DataFrame). A PLAN memo,
#: never results: spark.read.parquet re-lists the path and re-reads
#: footers for schema on every call (~0.1 s of driver time, paid inside
#: every timed sample of every query). The unresolved scan node is
#: immutable and re-analyzed per derived plan, so reusing it is the
#: prepared-statement idiom — each collect() still computes from the
#: parquet files (bench clears only the DATA cache, which this never
#: touches). The strong spark ref keeps id() stable; keying on the
#: session isolates tests that build their own sessions.
_T_CACHE: dict = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    k = (id(spark), sf_dir, name)
    hit = _T_CACHE.get(k)
    if hit is None:
        _T_CACHE[k] = hit = (spark, spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet")))
    return hit[1]


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition to the session's core count before a
    per-row-heavy kernel (regex, shingling, JSON parse). The bench
    tables are single parquet files with 1-6 row groups and parquet
    cannot split below a row group, so without this the scan AND every
    narrow transform chained on it run on 1-6 of the N cores. Used only
    where the downstream per-row work dwarfs the one extra exchange
    (measured per query; aggregation-first queries keep their own
    exchange as the spread point). Results are row-order independent."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


DOC_SPEC = {
    "name": "documents_v1",
    "key_columns": ["doc_id"],
    "watched_columns": [],
    "constraints": [
        {"kind": "not_null", "id": "text_not_null", "column": "text"},
        {"kind": "enum", "id": "lang_enum", "column": "lang",
         "values": ["en", "fr", "de", "es"]},
        {"kind": "range", "id": "nchars_range", "column": "n_chars", "min": 1, "max": 350},
        {"kind": "length", "id": "text_minlen", "column": "text", "min": 10, "max": 100000},
        {"kind": "pattern", "id": "source_pattern", "column": "source",
         "patterns": ["src[0-9]"]},
    ],
}


def _doc_engine(spark: SparkSession) -> ValidationEngine:
    return ValidationEngine(spark, spec_from_dict(DOC_SPEC), config=EngineConfig(exact=True))


# ---------------------------------------------------------------------------
# constraint-engine queries (SURVEY §2.4/§2.6/§7 vocabulary)
# ---------------------------------------------------------------------------


def q_cv_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    res = _doc_engine(spark).run(docs)
    return res.verdicts.select(
        "constraint_id",
        F.col("violation_count").cast("long").alias("violation_count"),
        F.col("evaluated_count").cast("long").alias("evaluated_count"),
        "passed",
    )


def q_cv_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    res = _doc_engine(spark).run(docs)
    return res.violations.select(F.col("doc_id").cast("long").alias("doc_id"), "constraint_id")


def q_cv_stats_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-lang column sketch on documents (exact-mode for oracle parity;
    the scale path leaves EngineConfig.exact off -> HLL)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("text").isNull().cast("long")).alias("null_texts"),
        F.count_distinct("source").alias("distinct_sources"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
    )


def q_cv_unique_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unique(o_custkey, o_orderdate): duplicate groups (salted two-stage
    agg under the hood when configured)."""
    orders = _t(spark, sf_dir, "orders")
    # repartition on the key first (the cv_fd/top_revenue shape): the
    # ~1.4M-group partial aggregation otherwise runs inside the 2
    # row-group-bound scan tasks (measured 0.9 s -> 0.55 s at sf1.0)
    return (
        orders.select("o_custkey", "o_orderdate")
        .repartition("o_custkey", "o_orderdate")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .select(
            F.col("o_custkey").cast("long").alias("o_custkey"),
            F.col("o_orderdate"),
            F.col("n").cast("long").alias("n"),
        )
    )


def q_cv_fk_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreign_key orders.o_custkey -> customer.c_custkey (broadcast
    anti-join; dangling-$ref analog)."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    viol = orders.join(
        F.broadcast(customer.select(F.col("c_custkey").alias("__k")).dropDuplicates()),
        on=F.col("o_custkey") == F.col("__k"),
        how="left_anti",
    )
    return viol.select(F.col("o_orderkey").cast("long").alias("o_orderkey"), F.col("o_custkey").cast("long").alias("o_custkey"))


def q_cv_cardinality_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cardinality(group_by=o_custkey, min=5, max=15) over orders."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter((F.col("n") < 5) | (F.col("n") > 15))
        .select(F.col("o_custkey").cast("long").alias("o_custkey"), F.col("n").cast("long").alias("n"))
    )


def q_cv_dtype_lexical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dtype lexical-space check: events.props must parse as JSON with an
    integer k (convert_xsd_type analog on a derived column)."""
    events = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k")
    # project the two needed columns, THEN spread: the JSON parse is
    # ~2 s single-core on the 1-row-group events file (measured), and
    # the exchange ships only (event_id, props)
    return _spread(events.select("event_id", "props")).select(
        F.col("event_id").cast("long").alias("event_id"),
        (k.try_cast("long").isNotNull() | k.isNull()).alias("k_is_integer"),
    )


# ---------------------------------------------------------------------------
# analytics queries (general DataFrame capability; TPC-H-ish)
# ---------------------------------------------------------------------------


def q_lineitem_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    # NOTE round 6: tried the cv_fd/cv_unique repartition-before-agg
    # shape here; the agg alone improved (1.0 -> 0.73 s) but the full
    # query got ~0.1 s SLOWER in an interleaved A/B — the extra
    # exchange stage outweighs the partial-agg saving once the
    # downstream joins reuse the agg's own exchange. Kept as-is.
    rev = li.groupBy("l_orderkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
    )
    return (
        rev.join(orders, rev.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .select(
            F.col("l_orderkey").cast("long").alias("orderkey"),
            F.col("c_name").alias("customer_name"),
            F.col("revenue"),
        )
        .orderBy(F.col("revenue").desc(), F.col("orderkey"))
        .limit(10)
    )


def q_events_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window functions: per user, event counts + rank of event types."""
    events = _t(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    counts = events.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("user_id").orderBy(F.col("n").desc(), F.col("event_type"))
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            F.col("user_id").cast("long").alias("user_id"),
            F.col("event_type").alias("top_event_type"),
            F.col("n").cast("long").alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# training-data pipeline queries (dedup / text / similarity)
# ---------------------------------------------------------------------------


def q_doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(_t(spark, sf_dir, "documents"))
    c = F.col("text")
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        T.token_count(c).cast("long").alias("n_tokens"),
        F.length(c).cast("long").alias("n_chars_exact"),
        F.round(T.alpha_ratio(c), 4).alias("alpha_ratio"),
    )


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        T.fingerprint(F.col("text")).alias("fingerprint"),
    )


def q_doc_exact_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(_t(spark, sf_dir, "documents"))
    return D.exact_duplicates(docs, "doc_id", "text").select(
        "fingerprint", F.col("n_docs").cast("long").alias("n_docs")
    )


def q_doc_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """No oracle (heuristic argmax not cleanly SQL-expressible)."""
    docs = _spread(_t(spark, sf_dir, "documents"))
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        T.detect_lang(F.col("text")).alias("lang_detected"),
    )


def q_doc_langid_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-checked (new this round): character-trigram language ID
    against the 8-language default profiles — log-likelihood weights,
    one interpreted traversal per doc, argmax with (score, lang)
    struct-max tie-break. DuckDB replays the profile as a literal
    (gram, lang, weight) table (see _langid_ngram_oracle); accuracy is
    pinned separately by the 128-doc held-out corpus test.

    Round 6: computed through detect_lang_ngram_over — the explode +
    broadcast-join + agg plan (whole-stage codegen) instead of the
    interpreted per-gram map-lookup fold; value-identical per
    test_detect_lang_ngram_over_equals_column_form and the unchanged
    oracle."""
    docs = _spread(_t(spark, sf_dir, "documents").filter(F.col("text").isNotNull()))
    return T.detect_lang_ngram_over(
        docs.select(F.col("doc_id").cast("long").alias("doc_id"), "text"),
        ["doc_id"],
        "text",
    )


def q_doc_minhash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-checked MinHash LSH near-dup pairs: md5 hash family +
    comma-joined band keys, so DuckDB replays the ENTIRE pipeline —
    shingles -> Kirsch-Mitzenmacher signatures -> bands -> candidate
    join -> exact-Jaccard verify (see _minhash_oracle). Restricted to
    the first 300 docs to bound the candidate join in the correctness
    run. The production xxhash64 kernel is q_doc_minhash_dups_xx."""
    docs = _spread(_t(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < 300) & F.col("text").isNotNull()
    ))
    return D.minhash_lsh_pairs(
        docs, "doc_id", "text", threshold=0.5, family="md5", hashed_bands=False
    ).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        "jaccard",
    )


def q_doc_minhash_dups_xx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """No oracle (xxhash64 signatures + hashed band keys — the
    production path; planted-dup recall golden in test_dedup)."""
    docs = _spread(_t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300))
    return D.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        "jaccard",
    )


def q_doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (md5-bit variant, 32 bits) — EXACTLY replayed by the
    DuckDB oracle (md5 is the hash both engines share; see
    dedup.simhash_md5). The production 64-bit xxhash64 simhash is
    exercised by q_doc_simhash_pairs + pytest goldens."""
    docs = _t(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < 300) & F.col("text").isNotNull()
    )
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        D.simhash_md5("text", num_bits=32).alias("simhash32"),
    )


def q_doc_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """No oracle (xxhash64 bit votes). Near-dup pairs via prefix-bit
    blocking + in-block Hamming verify — the production simhash path."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    # NOT spread: the simhash expression tree broadcasts a ~4 MB task
    # binary, so 32 tasks of 10 docs pay more in per-task setup than
    # the kernel saves (measured 6.9 s -> 10.9 s with spread)
    return D.simhash_near_duplicates(docs, "doc_id", "text", max_hamming=16, prefix_bits=8).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("hamming").cast("long").alias("hamming"),
    )


def q_doc_simhash_pairs_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-checked (new this round): SimHash near-dup pairs in the
    oracle configuration — md5 bit votes (32 bits), top-8-bit prefix
    blocking, bit_count Hamming verify — replayed end-to-end by DuckDB
    (see _simhash_pairs_oracle). The production 64-bit xxhash64 path is
    q_doc_simhash_pairs."""
    docs = _t(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < 300) & F.col("text").isNotNull()
    )
    return D.simhash_near_duplicates(
        docs, "doc_id", "text", max_hamming=8, prefix_bits=8, family="md5", num_bits=32
    ).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("hamming").cast("long").alias("hamming"),
    )


def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-signal ratios (POSIX punct class matches Java \\p{Punct})."""
    docs = _spread(_t(spark, sf_dir, "documents"))
    c = F.col("text")
    n = F.length(c)
    alpha = F.length(F.regexp_replace(c, r"[^A-Za-z]", ""))
    punct = F.length(F.regexp_replace(c, r"[^\p{Punct}]", ""))
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round(F.when(n > 0, alpha / n).otherwise(F.lit(0.0)), 4).alias("alpha_ratio"),
        F.round(F.when(n > 0, punct / n).otherwise(F.lit(0.0)), 4).alias("punct_ratio"),
    )


def q_doc_stopword_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(_t(spark, sf_dir, "documents"))
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round(T.stopword_ratio(F.col("text"), "en"), 4).alias("stopword_ratio"),
    )


NGRAM_CAP = 60  # shingles in more docs than this are dropped from the inverted index
NGRAM_THRESHOLD = 0.05


def q_doc_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 3-gram Jaccard pairs via inverted index WITH the
    doc-frequency cap ON (the guard against the quadratic stop-shingle
    join — what survives 100 TB). The DuckDB oracle replays the
    identical capped CTE; capped shingles only shrink the intersection,
    identically on both sides."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    return D.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=NGRAM_THRESHOLD, max_shingle_freq=NGRAM_CAP
    ).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        "jaccard",
    )


def q_events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) via window lag —
    the classic event-pipeline operator."""
    from pyspark.sql.window import Window

    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    marked = events.withColumn("new_session", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
    return (
        marked.groupBy("user_id")
        .agg(F.sum("new_session").alias("n_sessions"), F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("user_id").cast("long").alias("user_id"),
            F.col("n_sessions").cast("long").alias("n_sessions"),
            F.col("n_events").cast("long").alias("n_events"),
        )
    )


def q_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast dim join + agg: revenue by part brand."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .select("p_brand", "revenue", F.col("n_lines").cast("long").alias("n_lines"))
    )


def q_cv_composite_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """all_of / any_of composites (resolve_facets allOf + multi-root
    oneOf analogs) evaluated in the engine's violation path."""
    docs = _t(spark, sf_dir, "documents")
    spec = spec_from_dict(
        {
            "name": "composite",
            "key_columns": ["doc_id"],
            "constraints": [
                {"kind": "all_of", "id": "all_len_and_src", "children": [
                    {"kind": "length", "id": "a1", "column": "text", "min": 150, "max": 100000},
                    {"kind": "pattern", "id": "a2", "column": "source", "patterns": ["src[0-9]+"]},
                ]},
                {"kind": "any_of", "id": "any_lang", "children": [
                    {"kind": "enum", "id": "b1", "column": "lang", "values": ["en"]},
                    {"kind": "enum", "id": "b2", "column": "lang", "values": ["fr", "de", "es"]},
                ]},
            ],
        }
    )
    eng = ValidationEngine(spark, spec, config=EngineConfig(exact=True))
    return eng.row_violations(docs).select(
        F.col("doc_id").cast("long").alias("doc_id"), "constraint_id"
    )


def _qvec(sf_dir: str) -> list:
    """Query vector (vec_id == 0) via a driver-side pyarrow predicate
    read — the same floats the old emb.filter(vec_id == 0).collect()
    job produced (float32 -> Python float either way), without paying a
    full Spark job + parquet scan per probe. The probe input is
    metadata, exactly like _ivf_centroids' pyarrow read."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(
        os.path.join(sf_dir, "embeddings.parquet"),
        columns=["embedding"], filters=[("vec_id", "==", 0)],
    )
    return [float(x) for x in tbl["embedding"][0].as_py()]


def q_emb_knn_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    qvec = _qvec(sf_dir)
    return S.cosine_topk(emb, qvec, k=10).select(
        F.col("vec_id").cast("long").alias("vec_id"), F.round("score", 4).alias("score")
    )


def q_emb_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-checked: the hyperplanes are deterministic, so DuckDB
    replays the bucket bits + multi-probe + cosine top-k exactly."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = _qvec(sf_dir)
    return S.lsh_topk(emb, qvec, k=10, n_planes=8).select(
        F.col("vec_id").cast("long").alias("vec_id"), F.round("score", 4).alias("score")
    )


IVF_CENTROIDS = 16
IVF_ITERS = 2
IVF_NPROBE = 3


def _ivf_centroids(sf_dir: str):
    """Deterministic IVF quantizer: the embeddings are read vec_id-sorted
    through pyarrow (no Spark partition-order dependence), so
    kmeans_numpy(seed=42) is bit-reproducible — the same centroid
    doubles feed the Spark index build AND embed as DuckDB literals in
    _ivf_oracle (the _lsh_oracle hyperplane trick, applied to IVF)."""
    import numpy as np
    import pyarrow.parquet as pq

    tbl = pq.read_table(
        os.path.join(sf_dir, "embeddings.parquet"), columns=["vec_id", "embedding"]
    ).to_pandas().sort_values("vec_id")
    mat = np.array(tbl["embedding"].tolist(), dtype=np.float64)
    return S.kmeans_numpy(mat, n_centroids=IVF_CENTROIDS, iters=IVF_ITERS, seed=42)


def _ann_index_path(spark: SparkSession, sf_dir: str, kind: str) -> str:
    """Build-once/reuse ANN index for sf_dir (the persisted-bucket scale
    path: build = one pass, every probe after = partition-pruned read).
    v3: IVF centroids come from the deterministic numpy quantizer."""
    tag = sf_dir.strip("/").replace("/", "_")
    path = f"/tmp/ann_cache/v3_{kind}_{tag}"
    if not (
        os.path.exists(os.path.join(path, "_SUCCESS"))
        and os.path.exists(os.path.join(path, "_ann_meta.json"))
    ):
        emb = _t(spark, sf_dir, "embeddings")
        cents = _ivf_centroids(sf_dir) if kind == "ivf" else None
        S.build_ann_index(
            emb, path, kind=kind, n_planes=8, seed=42,
            n_centroids=IVF_CENTROIDS, iters=IVF_ITERS, centroids=cents,
        )
    return path


def q_emb_knn_lsh_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-checked (same replay as emb_knn_lsh). Partition-pruned
    probe of a persisted bucket-partitioned index — the query reads only
    its probe buckets and must return exactly the full-scan rows."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = _qvec(sf_dir)
    idx = _ann_index_path(spark, sf_dir, "lsh")
    return S.lsh_topk_indexed(spark, idx, qvec, k=10, multi_probe=1).select(
        F.col("vec_id").cast("long").alias("vec_id"), F.round("score", 4).alias("score")
    )


PQ_M = 8
PQ_K = 16


def _pq_codebooks(sf_dir: str):
    """Deterministic PQ codebooks: same vec_id-sorted pyarrow read as
    _ivf_centroids, per-sub-space kmeans_numpy(seed=42+j) — the
    codebook doubles feed the Spark encode AND embed as DuckDB
    literals in _pq_oracle."""
    import numpy as np
    import pyarrow.parquet as pq

    tbl = pq.read_table(
        os.path.join(sf_dir, "embeddings.parquet"), columns=["vec_id", "embedding"]
    ).to_pandas().sort_values("vec_id")
    mat = np.array(tbl["embedding"].tolist(), dtype=np.float64)
    return S.train_pq(mat, m=PQ_M, k=PQ_K, seed=42)


IVFPQ_NPROBE = 4


def _ivfpq_index_path(spark: SparkSession, sf_dir: str) -> str:
    """Build-once/reuse IVF-PQ index: deterministic coarse centroids
    (_ivf_centroids) + residual PQ codebooks (train_ivfpq over the
    same vec_id-sorted sample) — both embed as oracle literals."""
    import numpy as np
    import pyarrow.parquet as pq

    tag = sf_dir.strip("/").replace("/", "_")
    path = f"/tmp/ann_cache/v1_ivfpq_{tag}"
    if not (
        os.path.exists(os.path.join(path, "_SUCCESS"))
        and os.path.exists(os.path.join(path, "_ann_meta.json"))
    ):
        tbl = pq.read_table(
            os.path.join(sf_dir, "embeddings.parquet"), columns=["vec_id", "embedding"]
        ).to_pandas().sort_values("vec_id")
        mat = np.array(tbl["embedding"].tolist(), dtype=np.float64)
        cents = _ivf_centroids(sf_dir)
        cb = S.train_ivfpq(mat, cents, m=PQ_M, k=PQ_K, seed=42)
        S.build_ivfpq_index(_t(spark, sf_dir, "embeddings"), path, cents, cb)
    return path


def q_emb_knn_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-checked IVF-PQ probe (new round 5 — the billion-scale
    composition, FAISS IVFPQ shape): coarse centroids partition the
    index, PQ encodes the residual v - centroid, and the query reads
    ONLY the nprobe nearest lists' partitions (PartitionFilters,
    asserted in pytest) scoring each row as <q, c_list> (a per-list
    constant) + the shared residual-LUT fold over its 8 codes. DuckDB
    replays the ENTIRE pipeline with literals: coarse struct-max
    assignment, the residual via list_zip/list_transform, per-sub-space
    residual encode on 1-based list slices, the LUT join, the per-list
    constant, and the rounded-score top-k over the probe set."""
    idx = _ivfpq_index_path(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    qvec = _qvec(sf_dir)
    out = S.ivfpq_topk(spark, idx, qvec, k=10, nprobe=IVFPQ_NPROBE, round_to=6)
    return out.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.round("score", 4).alias("score"),
    )


def q_emb_knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-checked product-quantization ANN (new round 5 — the
    compressed-domain scale path past IVF/LSH, Jégou et al. 2011):
    vectors encode to m=8 sub-space codes (argmax 2 v.c - |c|^2 per
    sub-space, the IVF assignment expression over F.slice), the query
    builds an m x k inner-product lookup table driver-side, and each
    row's ADC score is a bounded in-plan fold over its codes — the
    scan reads ids + 8 ints per row, never a raw embedding, then
    TakeOrderedAndProject. DuckDB replays encode (struct-max
    tie-break over codebook literals on list slices), the LUT join,
    and the rounded-score top-k. Exact-cosine re-rank of the ADC
    shortlist is pq_topk_rerank (recall-tested in pytest)."""
    cb = _pq_codebooks(sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    qvec = _qvec(sf_dir)
    codes = S.pq_encode(emb, cb)
    out = S.pq_topk(codes, qvec, cb, k=10, round_to=6)
    return out.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.round("score", 4).alias("score"),
    )


def q_emb_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-checked (new this round): the IVF centroids are
    deterministic numpy k-means over a vec_id-sorted read, so DuckDB
    replays centroid assignment + nprobe selection + cosine top-k with
    the centroids as literals (see _ivf_oracle). Partition-pruned probe
    of the persisted inverted-file index; centroid assignment
    auto-dispatches to an Arrow pandas_udf when k x dim is large."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = _qvec(sf_dir)
    idx = _ann_index_path(spark, sf_dir, "ivf")
    return S.ivf_topk_indexed(spark, idx, qvec, k=10, nprobe=IVF_NPROBE).select(
        F.col("vec_id").cast("long").alias("vec_id"), F.round("score", 4).alias("score")
    )


#: embedding near-dup threshold sits in a measured gap of the pair-cosine
#: distribution at sf0.001/sf0.01 (nearest values 0.43927 / 0.442058), so
#: double-precision summation-order drift cannot flip a pair across it
EMB_NEARDUP_THRESHOLD = 0.4405
EMB_NEARDUP_BANDS = 8
EMB_NEARDUP_PLANES = 4


def q_emb_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-checked embedding-cosine near-duplicate pairs: banded
    hyperplane LSH (8 bands x 4 sign bits, seed 42) -> per-(band,bucket)
    self-join -> distinct candidates -> exact-cosine verify. The planes
    are deterministic so DuckDB replays buckets + candidates + cosine
    as literals (_emb_neardup_oracle). The dedup analog of the
    reference's uniqueness checks, over vectors instead of keys."""
    emb = _t(spark, sf_dir, "embeddings")
    return D.embedding_near_dups(
        emb,
        dim=64,
        threshold=EMB_NEARDUP_THRESHOLD,
        n_bands=EMB_NEARDUP_BANDS,
        planes_per_band=EMB_NEARDUP_PLANES,
    ).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.round("cos_sim", 4).alias("cos_sim"),
    )


def q_cv_drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-checked (flipped round 4 — was a driver-side p-value demo):
    end-to-end chi-square drift VERDICT fully in-plan via
    drift_verdicts_over_counts — observed counts, expected counts, the
    Pearson sum, and pass/fail (statistic <= chi2_crit(dof, alpha),
    critical values broadcast as a tiny dof-indexed table) are all
    distributed; DuckDB replays the crit table as VALUES literals.
    Scenarios: self (statistic 0 => passes) and an en->zh shift (large
    => fails)."""
    from xsd2json_spark.engine.drift import (
        drift_verdicts_over_counts,
        make_categorical_baseline_df,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("lang").isNotNull())
    base = make_categorical_baseline_df(docs, "lang")
    cur = docs.select(F.lit("self").alias("scenario"), "lang").unionAll(
        docs.select(
            F.lit("shift_en_zh").alias("scenario"),
            F.when(F.col("lang") == "en", F.lit("zh")).otherwise(F.col("lang")).alias("lang"),
        )
    )
    counts = cur.groupBy("scenario", "lang").agg(F.count(F.lit(1)).alias("n"))
    out = drift_verdicts_over_counts(
        counts, "lang", base, window_cols=("scenario",), alpha=0.01
    )
    return out.select(
        "scenario",
        F.round("statistic", 6).alias("statistic"),
        F.col("dof").cast("long").alias("dof"),
        "passed",
    )


def q_cv_drift_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-checked (flipped round 4 — was a driver-side p-value demo):
    per-lang chi-square drift VERDICTS fully in-plan — source mix per
    lang vs a per-lang baseline snapshot, pass/fail via the broadcast
    chi2-critical-value table (drift_verdicts_over_counts with
    group_by). Scenarios: self (all pass) and a mix where ONE lang's
    sources are rewritten (only that lang fails)."""
    from xsd2json_spark.engine.drift import (
        drift_verdicts_over_counts,
        make_categorical_baseline_df,
    )

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("lang").isNotNull() & F.col("source").isNotNull()
    )
    base = make_categorical_baseline_df(docs, "source", ["lang"])
    cur = docs.select(F.lit("self").alias("scenario"), "lang", "source").unionAll(
        docs.select(
            F.lit("shift_en").alias("scenario"),
            "lang",
            F.when(F.col("lang") == "en", F.lit("srcX")).otherwise(F.col("source")).alias("source"),
        )
    )
    counts = cur.groupBy("scenario", "lang", "source").agg(F.count(F.lit(1)).alias("n"))
    out = drift_verdicts_over_counts(
        counts, "source", base, group_by=("lang",), window_cols=("scenario",), alpha=0.01
    )
    return out.select(
        "scenario",
        "lang",
        F.round("statistic", 6).alias("statistic"),
        F.col("dof").cast("long").alias("dof"),
        "passed",
    )


def q_cv_cube_drilldown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-checked (new this round; SURVEY §2.4's drill-down shape):
    engine-style column stats over cube(lang, source) — every rollup
    level in ONE pass (Spark expands the cube in the partial aggregate;
    DuckDB replays with GROUP BY CUBE + GROUPING id)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.cube("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("text").isNull().cast("long")).alias("null_texts"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.grouping_id().alias("gid"),
        )
        .select(
            "lang",
            "source",
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("null_texts").cast("long").alias("null_texts"),
            "avg_chars",
            F.col("gid").cast("long").alias("gid"),
        )
    )


def q_cv_drift_chi2_stat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-checked (new this round): the chi-square STATISTIC fully
    in-plan via chi2_statistic_df — observed counts, expected counts,
    and the Pearson sum all distributed, replayed exactly by DuckDB.
    Two scenarios: self (statistic ~ 0) and an en->fr shift (large).
    p-value conversion stays driver-side (chi2_sf, scipy-pinned) — see
    q_cv_drift_chi2 for the verdict path."""
    from xsd2json_spark.engine.drift import chi2_statistic_df

    docs = _t(spark, sf_dir, "documents").filter(F.col("lang").isNotNull())
    base = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    cur = docs.select(F.lit("self").alias("scenario"), "lang").unionAll(
        docs.select(
            F.lit("shift_en_fr").alias("scenario"),
            F.when(F.col("lang") == "en", F.lit("fr")).otherwise(F.col("lang")).alias("lang"),
        )
    )
    out = chi2_statistic_df(cur, "lang", base, by=["scenario"])
    return out.select(
        "scenario",
        F.round("statistic", 6).alias("statistic"),
        F.col("dof").cast("long").alias("dof"),
    )


def q_cv_quantile_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-checked quantile constraint: per-lang p90 of n_chars with
    max=470 — the engine's exact F.percentile uses the same linear
    interpolation as DuckDB's quantile_cont, so the violation rows
    (including the rounded statistic in detail) replay exactly.
    approx=False pins the exact path (the oracle configuration);
    production specs leave approx=None, which auto-dispatches to the
    mergeable GK sketch above QUANTILE_EXACT_MAX_BYTES (test-covered
    agreement at these percentiles)."""
    from xsd2json_spark.spec.constraints import Quantile

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull() & F.col("lang").isNotNull()
    )
    c = Quantile(id="p90_nchars", column="n_chars", p=0.9, max=470.0,
                 group_by=["lang"], approx=False)
    eng = ValidationEngine(spark, spec_from_dict(DOC_SPEC))
    return eng.quantile_violations(docs, c).select("lang", "constraint_id", "detail")


BPE_MERGES = 60


def q_doc_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL BPE token counts (rows-only by design: BPE's iterative
    merge application is not SQL-expressible; the algorithm carries
    pytest goldens instead — the hand-computable textbook merge
    sequence and Spark==pure-python equality in test_tokenize).
    Merges train deterministically from the same table: one
    distributed word-frequency pass, driver loop over the
    vocabulary-sized dict, Arrow-batched encoding."""
    from xsd2json_spark.functions import tokenize as BP

    docs = _t(spark, sf_dir, "documents")
    merges = BP.train_bpe(docs, "text", num_merges=BPE_MERGES)
    return _spread(docs).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size(BP.bpe_tokens(F.col("text"), merges)).cast("long").alias("n_bpe_tokens"),
    )


def q_cv_drift_psi_stat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-checked end-to-end drift VERDICT with zero driver-side
    math: PSI has no p-value, so the statistic AND the conventional
    0.1/0.25 thresholds evaluate fully in-plan (psi_statistic_df) —
    the one drift family where even the pass/fail is SQL-replayable.
    Scenarios: self (psi = 0) and an en->fr shift (psi large)."""
    from xsd2json_spark.engine.drift import psi_statistic_df

    docs = _t(spark, sf_dir, "documents").filter(F.col("lang").isNotNull())
    base = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    cur = docs.select(F.lit("self").alias("scenario"), "lang").unionAll(
        docs.select(
            F.lit("shift_en_fr").alias("scenario"),
            F.when(F.col("lang") == "en", F.lit("fr")).otherwise(F.col("lang")).alias("lang"),
        )
    )
    out = psi_statistic_df(cur, "lang", base, by=["scenario"])
    return out.select(
        "scenario",
        F.round("psi", 6).alias("psi"),
        F.col("n_cats").cast("long").alias("n_cats"),
        (F.col("psi") >= 0.25).alias("action"),
        (F.col("psi") >= 0.1).alias("watch"),
    )


def q_doc_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-checked vocabulary heavy hitters: per-lang top-5 terms
    via explode -> two-stage count agg -> rank window over the counted
    vocabulary (not the corpus). The drill-down companion to
    doc_token_stats."""
    docs = _spread(_t(spark, sf_dir, "documents").filter(
        F.col("lang").isNotNull() & F.col("text").isNotNull()
    ))
    out = T.top_terms(docs, "text", k=5, group_by=["lang"])
    return out.select(
        "lang",
        "term",
        F.col("n").cast("long").alias("n"),
        F.col("rank").cast("long").alias("rank"),
    )


KS_GRID_POINTS = 49


def _ks_baseline(sf_dir: str):
    """Deterministic KS baseline (grid + its ECDF) from a vec-order-free
    pyarrow read — the same literals feed the Spark query and the DuckDB
    oracle (the IVF-centroid trick applied to drift)."""
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=["n_chars"]
    ).to_pandas()
    v = t["n_chars"].dropna().to_numpy(dtype="float64")
    probs = [i / (KS_GRID_POINTS + 1) for i in range(1, KS_GRID_POINTS + 1)]
    grid = [float(x) for x in np.quantile(v, probs)]
    ecdf = [float((v <= q).mean()) for q in grid]
    return grid, ecdf, int(len(v))


def q_cv_drift_ks_stat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-checked (new this round): the grid-ECDF KS D statistic
    fully in-plan via ks_statistic_df — ECDF terms are averages of 0/1
    indicators (exact integer sums), so D is bit-identical between
    Spark and the DuckDB replay. Two scenarios: self (D ~ 0) and a
    +40-char shift (D large). p-values stay driver-side (ks_pvalue,
    scipy-pinned) — see q_cv_drift_chi2 for the verdict path."""
    from xsd2json_spark.engine.drift import ks_statistic_df

    grid, ecdf, _n = _ks_baseline(sf_dir)
    docs = _t(spark, sf_dir, "documents").filter(F.col("n_chars").isNotNull())
    cur = docs.select(F.lit("self").alias("scenario"), "n_chars").unionAll(
        docs.select(F.lit("shift_plus40").alias("scenario"), (F.col("n_chars") + 40).alias("n_chars"))
    )
    out = ks_statistic_df(cur, "n_chars", grid, ecdf, by=["scenario"])
    return out.select(
        "scenario", F.round("d_statistic", 6).alias("d_statistic"), "n_cur"
    )


def q_cv_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-checked end-to-end KS drift VERDICT fully in-plan (new
    round 5 — completes the in-plan verdict pair started by
    cv_drift_chi2): D from the one-aggregation grid ECDF, pass/fail as
    D <= ks_crit_lambda(alpha) / (sqrt(ne) + 0.12 + 0.11/sqrt(ne))
    where the alpha part is ONE driver-side constant and ne is a pure
    expression of the per-scenario count — no p-value conversion
    anywhere. DuckDB replays the whole rule including the critical
    constant as a literal. Scenarios: self (D ~ 0, passes) and a
    +40-char shift (fails)."""
    from xsd2json_spark.engine.drift import ks_drift_verdicts_df

    grid, ecdf, n_base = _ks_baseline(sf_dir)
    docs = _t(spark, sf_dir, "documents").filter(F.col("n_chars").isNotNull())
    cur = docs.select(F.lit("self").alias("scenario"), "n_chars").unionAll(
        docs.select(F.lit("shift_plus40").alias("scenario"), (F.col("n_chars") + 40).alias("n_chars"))
    )
    baseline = {"grid": grid, "ecdf": ecdf, "n": n_base}
    out = ks_drift_verdicts_df(cur, "n_chars", baseline, by=["scenario"], alpha=0.01)
    return out.select(
        "scenario", F.round("d_statistic", 6).alias("d_statistic"), "n_cur", "passed"
    )


def q_cv_drift_ks_by_stat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-checked PER-GROUP KS drill-down: each lang's n_chars
    distribution against the global baseline ECDF, one distributed
    aggregation for all groups (ks_statistic_df with by=['lang']).
    Completes the drift-stat oracle matrix: {chi2, KS} x {global,
    per-group}; p-values stay driver-side (scipy-pinned)."""
    from xsd2json_spark.engine.drift import ks_statistic_df

    grid, ecdf, _n = _ks_baseline(sf_dir)
    docs = _t(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull() & F.col("lang").isNotNull()
    )
    out = ks_statistic_df(docs, "n_chars", grid, ecdf, by=["lang"])
    return out.select("lang", F.round("d_statistic", 6).alias("d_statistic"), "n_cur")


def q_cv_drift_chi2_by_stat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-checked (new this round): PER-GROUP drill-down of the
    in-plan chi-square statistic — each lang's source mix against the
    global source distribution (chi2_statistic_df with by=['lang'],
    one distributed aggregation for all groups). The driver-checked
    counterpart of the per-group drift path; p-values stay driver-side."""
    from xsd2json_spark.engine.drift import chi2_statistic_df

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("source").isNotNull() & F.col("lang").isNotNull()
    )
    base = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    out = chi2_statistic_df(docs, "source", base, by=["lang"])
    return out.select(
        "lang",
        F.round("statistic", 6).alias("statistic"),
        F.col("dof").cast("long").alias("dof"),
    )


def q_cv_resume_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint-resume through the audit store: validate documents in
    4 lineage buckets, return re-merged global verdicts. ORACLE-checked:
    the bucket-merged counts must equal the direct SQL verdict counts —
    the per-bucket == global property, verified by DuckDB."""
    import tempfile

    from xsd2json_spark.plans.audit import ResumableRunner

    docs = _t(spark, sf_dir, "documents")
    eng = ValidationEngine(spark, spec_from_dict(DOC_SPEC), config=EngineConfig(exact=True))
    with tempfile.TemporaryDirectory(prefix="audit_") as td:
        runner = ResumableRunner(eng, td, run_id="entry", n_buckets=4, bucket_column="doc_id")
        runner.run(docs)
        out = runner.global_verdicts().select(
            "constraint_id",
            F.col("violation_count").cast("long").alias("violation_count"),
            "passed",
        )
        out = spark.createDataFrame(out.collect(), schema=out.schema)  # materialize before tmpdir vanishes
    return out


def q_media_video_frame_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-checked multimodal PLUMBING: video frame sampling's
    fan-out and frame-center timestamps are pure arithmetic over the
    deterministic synth_media table, so DuckDB replays the entire
    mapInPandas output contract (4 rows per video at
    duration*(2i+1)/8, constant feature_dim) — the codec stub stays
    non-oracle (media_image_features), but the Arrow pipeline's shape
    is hash-verified end-to-end."""
    from xsd2json_spark.functions import multimodal as M

    media = M.synth_media(spark, n_rows=300)
    vf = M.video_frame_features(media, n_frames=4)
    return vf.select(
        F.col("media_id").cast("long").alias("media_id"),
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.col("ts_ms").cast("long").alias("ts_ms"),
        F.size("feature").cast("long").alias("feature_dim"),
    )


def q_media_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing demo (no oracle): binary media table ->
    Arrow mapInPandas feature extraction (codec stubbed; deterministic)."""
    from xsd2json_spark.functions import multimodal as M

    media = M.synth_media(spark, n_rows=300)
    feats = M.image_features(media)
    return feats.select(
        F.col("media_id").cast("long").alias("media_id"),
        "width",
        "height",
        F.size("feature").alias("feature_dim"),
        F.round(F.aggregate("feature", F.lit(0.0), lambda a, x: a + x.cast("double")), 4).alias("feature_sum"),
    )


def q_media_image_features_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-checked REAL image decode (new round 4): constant-color
    binary PPM (P6) payloads are synthesized IN-PLAN (header string +
    hex-repeat pixel bytes — all Column expressions), decoded by the
    real numpy PPM codec, and the resulting thumbnail feature is a
    constant DuckDB predicts from the ITU-601 luma formula: 16x8 const
    image -> 2x2-pixel block means (power-of-two blocks, so the mean is
    bit-exact) -> /255 -> float32. Every byte of the decode path —
    header parse, pixel reshape, luma, block mean, normalization — is
    thereby hash-verified against SQL."""
    from xsd2json_spark.functions import multimodal as M

    n, w, h = 64, 16, 8
    df = spark.range(n)
    r = (F.col("id") * 7 % 256).cast("int")
    g = (F.col("id") * 13 % 256).cast("int")
    b = (F.col("id") * 29 % 256).cast("int")
    px_hex = F.repeat(
        F.concat(*[F.lpad(F.hex(c), 2, "0") for c in (r, g, b)]), w * h
    )
    payload = F.concat(
        F.lit(f"P6\n{w} {h}\n255\n").cast("binary"), F.to_binary(px_hex, F.lit("hex"))
    )
    media = df.select(
        F.col("id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.lit("image/x-portable-pixmap").alias("mime"),
        payload.alias("payload"),
        F.lit(w).alias("width"),
        F.lit(h).alias("height"),
        F.lit(0).cast("long").alias("duration_ms"),
    )
    feats = M.image_features(media, codec="ppm")
    return feats.select(
        F.col("media_id").cast("long").alias("media_id"),
        F.size("feature").cast("long").alias("feature_dim"),
        F.size(F.array_distinct("feature")).cast("long").alias("n_distinct_vals"),
        F.round(F.element_at("feature", 1).cast("double"), 6).alias("f_const"),
    )


def q_media_image_features_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-checked REAL COMPRESSED-image decode (new round 5): real
    PNG files (synth_png_media — stdlib zlib deflate, all five PNG
    scanline filter types cycling per row) are decoded by the
    dependency-free PNG codec (zlib inflate + numpy unfilter) and
    EVERY element of every thumbnail feature is exploded and compared
    against DuckDB computing the block means straight from the pixel
    formulas: ids < 32 are grayscale with pixel (r,c) = (id*7 + r*3 +
    c*5) % 256 (so Sub/Up/Average/Paeth see real deltas), ids >= 32
    are constant-color RGB via the ITU-601 luma. 64 images x 32
    elements = 2048 hash-checked values covering inflate, unfilter,
    luma, block mean, and normalization."""
    from xsd2json_spark.functions import multimodal as M

    media = M.synth_png_media(spark, n_rows=64, w=16, h=8)
    feats = M.image_features(media, codec="png")
    return feats.select(
        F.col("media_id").cast("long").alias("media_id"),
        F.posexplode("feature").alias("pos", "val"),
    ).select(
        "media_id",
        F.col("pos").cast("long").alias("pos"),
        F.round(F.col("val").cast("double"), 6).alias("val"),
    )


def q_media_image_features_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-checked REAL LOSSY-compressed image decode (new round 5):
    real baseline JPEG files (synth_jpeg_media — numpy-only encoder,
    unit quant tables, restart intervals cycling 0/1/2) are decoded by
    the dependency-free JPEG codec (functions/jpeg.py: DHT Huffman
    entropy decode, dequantize, IDCT, RSTn resync) and EVERY element
    of every thumbnail feature is exploded and compared against DuckDB
    computing the block values straight from the pixel formula — valid
    because constant-per-8x8-block grayscale round-trips BIT-EXACTLY
    through baseline JPEG with unit quant (only the DC coefficient
    survives, an exact multiple of 8). 64 images x 32 elements = 2048
    hash-checked values covering marker parse, Huffman decode, EXTEND
    sign decoding, DC diff chains, restart resets, IDCT, and the
    thumbnail normalization. The AC-run/ZRL/chroma/4:2:0 paths are
    pytest round-trip-tolerance-tested (lossy => not SQL-replayable)."""
    from xsd2json_spark.functions import multimodal as M

    media = M.synth_jpeg_media(spark, n_rows=64, w=32, h=16)
    feats = M.image_features(media, codec="jpeg")
    return feats.select(
        F.col("media_id").cast("long").alias("media_id"),
        F.posexplode("feature").alias("pos", "val"),
    ).select(
        "media_id",
        F.col("pos").cast("long").alias("pos"),
        F.round(F.col("val").cast("double"), 6).alias("val"),
    )


def q_media_video_frames_mjpg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-checked REAL video decode (new round 5): real Motion-JPEG
    AVI containers (synth_mjpeg_media — RIFF/AVI writer around the
    numpy-only JPEG encoder, functions/avi.py) are parsed and each
    frame-center-sampled timestamp's frame is decoded by the baseline
    JPEG codec. Every element of every frame's thumbnail feature is
    exploded and compared against DuckDB computing the pixel value
    straight from the synthesis formula — valid because constant
    per-8x8-block grayscale at unit quant round-trips bit-exactly
    through baseline JPEG, and the constant-frame-rate seek (ts ->
    container frame floor(ts/frame_duration)) is replayed in SQL. The
    5-frames-at-10fps layout makes the 4 sampled timestamps hit
    container frames 0/1/3/4, so the seek, the RIFF chunk walk, the
    per-frame Huffman decode (restart intervals cycling 0/1/2 by id),
    and the thumbnail normalization are all inside the hash. This
    closes the last multimodal stub: the video PIXEL path is now real,
    like PNG/JPEG images and WAV audio."""
    from xsd2json_spark.functions import multimodal as M

    media = M.synth_mjpeg_media(spark, n_rows=40)
    vf = M.video_frame_features(media, n_frames=4, codec="mjpg")
    return vf.select(
        F.col("media_id").cast("long").alias("media_id"),
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.col("ts_ms").cast("long").alias("ts_ms"),
        F.posexplode("feature").alias("pos", "val"),
    ).select(
        "media_id",
        "frame_idx",
        "ts_ms",
        F.col("pos").cast("long").alias("pos"),
        F.round(F.col("val").cast("double"), 6).alias("val"),
    )


def q_media_audio_frames_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-checked REAL audio decode (new round 4): RIFF/WAVE PCM
    payloads (stdlib-written square waves, synth_wav_media) are decoded
    by the real wav codec and framed; amplitude and flip period are
    chosen so per-frame rms = (i%15+1)/16 exactly and zcr = 249/1999
    exactly (sign flips every 8 samples, 2000-sample frames), so DuckDB
    predicts every output value from the generation formula."""
    from xsd2json_spark.functions import multimodal as M

    media = M.synth_wav_media(spark, n_rows=40, sr=8000, duration_ms=500, period=8)
    return M.audio_frame_features(media, frame_ms=250, codec="wav").select(
        F.col("media_id").cast("long").alias("media_id"),
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.col("start_ms").cast("long").alias("start_ms"),
        F.round(F.col("rms").cast("double"), 6).alias("rms"),
        F.round(F.col("zcr").cast("double"), 6).alias("zcr"),
    )


def q_doc_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-checked training-sequence packing (new round 4):
    deterministic shard-then-pack layout — shard = md5 key-hash bucket
    mod 8, pack = contiguous next-fit over the per-shard exclusive
    cumulative n_chars with a 2000-char budget. Window expressions
    only; DuckDB replays the identical window. Returns per-pack fill
    stats (the packing-quality audit)."""
    from xsd2json_spark.functions import packing as PK

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & F.col("n_chars").isNotNull()
    )
    packed = PK.pack_documents(
        docs, "doc_id", "n_chars", budget=2000, n_shards=8, seed=5, family="md5"
    )
    return PK.pack_stats(packed, "n_chars", budget=2000).select(
        F.col("shard").cast("long").alias("shard"),
        F.col("pack_id").cast("long").alias("pack_id"),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("token_sum").cast("long").alias("token_sum"),
        F.col("overflowed"),
        F.col("oversized_doc"),
    )


def q_doc_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-checked eval-set decontamination (new round 4): a
    deterministic 3% md5-bucket sample of documents plays the eval set;
    every remaining training doc sharing at least one lowercased
    word-5-gram with it is flagged with its distinct shared-gram count.
    The eval side reduces to distinct grams and BROADCASTS — the
    training scan never shuffles text. hashed=False joins on the gram
    string (the DuckDB-replayable family); production uses
    hashed=True's 8-byte xxhash64 keys."""
    from xsd2json_spark.functions import sampling as SP

    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    bucket = SP.hash_bucket(["doc_id"], seed=11, family="md5")
    eval_df = _spread(docs.filter(bucket < 30_000))
    train = _spread(docs.filter(bucket >= 30_000))
    out = D.ngram_contamination(train, eval_df, "doc_id", "text", n=5, hashed=False)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_shared_grams").cast("long").alias("n_shared_grams"),
    )


def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-checked repetition signals (new round 4): duplicate-line
    ratio and top-bigram share per document — the Gopher-family
    boilerplate/looping filters. Two scenarios: the raw text and a
    degraded variant (text duplicated onto a second line) so both
    branches of the ratio are exercised. All pure Column exprs; the
    top-bigram count is a sort + run-length fold, not a per-element
    map accumulator (that shape is O(grams^2) interpreted)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    cur = docs.select(
        F.lit("self").alias("scenario"), "doc_id", "text"
    ).unionAll(
        docs.select(
            F.lit("doubled").alias("scenario"),
            "doc_id",
            F.concat("text", F.lit("\n"), "text").alias("text"),
        )
    )
    spread = _spread(cur)
    dup = spread.select(
        "scenario",
        F.col("doc_id").cast("long").alias("doc_id"),
        T.duplicate_line_ratio(F.col("text")).alias("dup_line_ratio"),
    )
    # the bigram share comes from the DataFrame-level explode+count
    # formulation — value-identical to the Column fold, whole-stage
    # codegen'd (see top_ngram_ratio_over; the fold was 10.6 s of this
    # query's 11.5 s at sf1.0)
    top = T.top_ngram_ratio_over(
        spread.select("scenario", F.col("doc_id").cast("long").alias("doc_id"), "text"),
        ["scenario", "doc_id"], "text", n=2, out_col="top_bigram_ratio",
    )
    return dup.join(top, ["scenario", "doc_id"])


def q_doc_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-checked Gopher-style rule flags (new round 4): per-rule
    booleans (word count / mean word length / #-and-ellipsis symbol
    ratio / duplicate lines) as one struct-derived row. The degraded
    scenario prepends '#' runs and doubles the text so every rule has
    failing rows in the fixture."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    cur = docs.select(
        F.lit("self").alias("scenario"), "doc_id", "text"
    ).unionAll(
        docs.select(
            F.lit("degraded").alias("scenario"),
            "doc_id",
            F.concat(F.lit("#### ## # "), "text", F.lit("\n"), "text",
                     F.lit("\n"), "text").alias("text"),
        )
    )
    flags = T.quality_flags(F.col("text"))
    return _spread(cur).select(
        "scenario",
        F.col("doc_id").cast("long").alias("doc_id"),
        flags["word_count_ok"].alias("word_count_ok"),
        flags["mean_word_len_ok"].alias("mean_word_len_ok"),
        flags["symbol_ratio_ok"].alias("symbol_ratio_ok"),
        flags["dup_lines_ok"].alias("dup_lines_ok"),
    )


def q_cv_suggested_spec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-checked constraint suggestion (new round 5, Deequ-style):
    engine/suggest profiles the documents table in ONE aggregate pass
    (count/nulls/min/max/exact-distinct/length bounds/shape-regex
    shares) plus one bounded enum-collect pass, and emits the spec it
    would propose. The query flattens the suggested constraints into
    (column, kind, detail) rows; DuckDB re-derives the identical
    suggestions from plain SQL aggregates — so the entire inference
    rule set (not-null / enum / range / length / anchored shape
    pattern / exact-mode unique) is hash-verified. The suggested spec
    is also spec_from_dict-loadable and passes on the profiled data
    (asserted in tests/test_suggest.py)."""
    from xsd2json_spark.engine.suggest import suggest_constraints

    docs = _t(spark, sf_dir, "documents")
    cons = suggest_constraints(docs, exact=True)
    rows = []
    for c in cons:
        col = c.get("column") or ",".join(c.get("columns", []))
        if c["kind"] == "enum":
            detail = ",".join(str(v) for v in c["values"])
        elif c["kind"] == "constant":
            detail = str(c["value"])
        elif c["kind"] == "range":
            detail = f"{c['min']}..{c['max']}"
        elif c["kind"] == "length":
            detail = f"{c['min']}..{c['max']}"
        elif c["kind"] == "pattern":
            detail = c["pattern"]
        else:
            detail = ""
        rows.append((col, c["kind"], detail))
    return spark.createDataFrame(rows, "col_name string, kind string, detail string")


def q_doc_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-checked PII detection + redaction (new round 5):
    deterministic fake PII (emails / SSN-shaped / phone / IPv4, keyed
    by doc_id residues so every class and every overlap combination
    occurs) is injected into the document text, then
    functions/pii.scan_documents counts each class and redacts —
    regexp_count / regexp_replace Column exprs only (JVM codegen, no
    shuffle, map-only at scale). The patterns are written in the
    Java-regex ∩ RE2 dialect, so DuckDB replays counts AND the md5 of
    the redacted text exactly."""
    from xsd2json_spark.functions import pii as P

    docs = _spread(_t(spark, sf_dir, "documents").filter(F.col("text").isNotNull()))
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 7 == 0,
                   F.concat(F.lit(" contact user"), F.col("doc_id").cast("string"),
                            F.lit("@example.com now"))).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 11 == 0,
                   F.concat(F.lit(" ssn 123-45-"),
                            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                            F.lit(" on file"))).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 13 == 0,
                   F.concat(F.lit(" call 555-01"),
                            (F.col("doc_id") % 10).cast("string"),
                            F.lit("-4567 today"))).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 17 == 0,
                   F.concat(F.lit(" from 10."), (F.col("doc_id") % 256).cast("string"),
                            F.lit(".0.5 net"))).otherwise(F.lit("")),
        ).alias("text"),
    )
    return P.scan_documents(injected).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_email").cast("long").alias("n_email"),
        F.col("n_ssn").cast("long").alias("n_ssn"),
        F.col("n_phone").cast("long").alias("n_phone"),
        F.col("n_ipv4").cast("long").alias("n_ipv4"),
        F.col("n_pii").cast("long").alias("n_pii"),
        F.md5("text_redacted").alias("redacted_md5"),
    )


def q_cv_incremental_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-checked incremental snapshot validation (new round 4):
    snapshot A = documents; snapshot B mutates it deterministically
    (every doc_id % 7 == 0 gets text='', every % 11 == 0 changes lang
    to 'xx', doc_id >= 450 rows are deleted). The incremental engine
    composes B's row-level verdicts from A's verdicts plus counters
    over the keyed delta ONLY (engine/incremental.py) and recomputes
    the table-level unique check on B; DuckDB replays a FULL
    from-scratch validation of B — equality proves the delta
    composition is exact."""
    from xsd2json_spark.engine.incremental import incremental_verdicts

    a = _t(spark, sf_dir, "documents")
    b = (
        a.filter(F.col("doc_id") < 450)
        .withColumn(
            "text",
            F.when(F.col("doc_id") % 7 == 0, F.lit("")).otherwise(F.col("text")),
        )
        .withColumn(
            "lang",
            F.when(F.col("doc_id") % 11 == 0, F.lit("xx")).otherwise(F.col("lang")),
        )
    )
    spec = spec_from_dict(
        {
            **DOC_SPEC,
            "constraints": DOC_SPEC["constraints"]
            + [{"kind": "unique", "id": "pk_unique", "columns": ["doc_id"]}],
        }
    )
    prev = ValidationEngine(spark, spec).run(a).verdicts
    out = incremental_verdicts(spark, spec, a, b, prev)
    return out.select(
        "constraint_id",
        F.col("violation_count").cast("long").alias("violation_count"),
        "passed",
    )


def q_cv_incremental_unique(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-checked incremental uniqueness via the materialized keyed
    count table (new round 5): snapshot A duplicates every doc_id % 10
    == 3 row of documents; snapshot B deletes doc_id >= 480, drops the
    extra copy where doc_id % 20 == 3, adds a copy of every % 10 == 7
    row, and rewrites text where % 13 == 0 (a payload-only update the
    unique state must compose through as +1/-1 = 0). Spark NEVER groups
    B's keys: it composes A's unique_key_counts state with the
    multiset-aware snapshot delta and reads duplicates straight off the
    composed counts — the batch form of the streaming uniqueness state.
    DuckDB replays a from-scratch GROUP BY ... HAVING on B; equality
    proves the state composition exact (including mixed-payload
    duplicates like doc_id=13, whose two copies differ in text)."""
    from xsd2json_spark.engine.incremental import (
        compose_unique_counts,
        snapshot_delta,
        unique_key_counts,
    )

    docs = _t(spark, sf_dir, "documents")
    a = docs.unionByName(docs.filter(F.col("doc_id") % 10 == 3))
    b = (
        docs.filter(F.col("doc_id") < 480)
        .withColumn(
            "text",
            F.when(F.col("doc_id") % 13 == 0, F.lit("rewritten in snapshot B"))
            .otherwise(F.col("text")),
        )
        .unionByName(
            docs.filter(
                (F.col("doc_id") % 10 == 3)
                & (F.col("doc_id") % 20 != 3)
                & (F.col("doc_id") < 480)
            )
        )
        .unionByName(
            docs.filter((F.col("doc_id") % 10 == 7) & (F.col("doc_id") < 480))
        )
    )
    state = unique_key_counts(a, ["doc_id"])
    added, removed = snapshot_delta(a, b, ["doc_id"])
    composed = compose_unique_counts(state, added, removed, ["doc_id"])
    return composed.filter(F.col("n") > 1).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n").cast("long").alias("dup_count"),
    )


def q_cv_fd_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-checked functional-dependency check (new round 5, Deequ
    hasUniqueValueRatio analog): l_partkey -> l_suppkey over lineitem
    is heavily violated (a part ships from multiple suppliers), so the
    engine's fd_violations — ONE determinant-keyed shuffle with
    map-side partial dedup via Catalyst's distinct-agg rewrite — emits
    one evidence row per inconsistent part with a deterministic
    n_values + lexicographic min/max-prefix detail that DuckDB replays
    verbatim."""
    from xsd2json_spark import FunctionalDependency, Spec
    from xsd2json_spark.engine import ValidationEngine

    li = _t(spark, sf_dir, "lineitem")
    spec = Spec(
        name="fd", key_columns=["l_partkey"],
        constraints=[FunctionalDependency(
            id="part_supp_fd", determinants=["l_partkey"], dependent="l_suppkey")],
    )
    res = ValidationEngine(spark, spec).run(li)
    return res.violations.select(
        F.col("l_partkey").cast("long").alias("l_partkey"),
        "constraint_id",
        "detail",
    )


def q_cv_ratio_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-checked max_fail_ratio compliance verdicts (new round 5,
    Deequ hasCompleteness analog): the same violation counters flip
    passed under per-constraint tolerances — NotNull(text) strict vs
    5%-tolerant, plus a 2%-tolerant Range on n_chars — and DuckDB
    replays the counter AND the policy arithmetic, so the verdict
    boundary itself is inside the hash."""
    from xsd2json_spark import NotNull, Range, Spec
    from xsd2json_spark.engine import ValidationEngine

    docs = _t(spark, sf_dir, "documents")
    spec = Spec(
        name="ratio", key_columns=["doc_id"],
        constraints=[
            NotNull(id="text_nn_strict", column="text"),
            NotNull(id="text_nn_tol5", column="text", max_fail_ratio=0.05),
            Range(id="chars_pos_tol2", column="n_chars", min=1, max_fail_ratio=0.02),
        ],
    )
    res = ValidationEngine(spark, spec).run(docs)
    return res.verdicts.select(
        "constraint_id",
        F.col("violation_count").cast("long").alias("violation_count"),
        F.col("evaluated_count").cast("long").alias("evaluated_count"),
        "passed",
    )


def q_cv_metric_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-checked metric-history anomaly detection (new round 5,
    Deequ AnomalyDetection analog): five deterministic "prior runs"
    (doc_id % 6 slices 1-5) persist per-lang document counts; the
    "current run" (slice 0) drops half its English docs. Both the
    z-score and the MAD estimator judge the current values against the
    history — center/spread/score/verdict all in-plan (one aggregation
    over the runs x metrics history + a broadcast of the current
    values) — and DuckDB replays mean/stddev_samp, exact medians
    (quantile_cont == F.percentile interpolation), the 0.6745 MAD
    consistency constant, and the threshold rule."""
    from xsd2json_spark.engine.anomaly import metric_anomaly_verdicts

    docs = _t(spark, sf_dir, "documents").filter(F.col("lang").isNotNull())
    history = (
        docs.filter(F.col("doc_id") % 6 != 0)
        .groupBy((F.col("doc_id") % 6).alias("run"), "lang")
        .agg(F.count(F.lit(1)).alias("value"))
        .drop("run")
    )
    current = (
        docs.filter(F.col("doc_id") % 6 == 0)
        .filter(~((F.col("lang") == "en") & (F.col("doc_id") % 2 == 0)))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("value"))
    )
    outs = []
    for method in ("zscore", "mad"):
        v = metric_anomaly_verdicts(
            history, current, metric_cols=("lang",), method=method, threshold=3.0
        )
        outs.append(v.select(
            F.lit(method).alias("method"),
            "lang",
            F.col("value").cast("long").alias("value"),
            "n_history",
            F.round("center", 6).alias("center"),
            F.round("spread", 6).alias("spread"),
            F.round("score", 6).alias("score"),
            "passed",
        ))
    return outs[0].unionByName(outs[1])


def q_cv_incremental_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-checked incremental DRIFT state composition (new round 5):
    snapshot B deletes doc_id >= 480, shifts lang en->zh where % 7 == 0,
    and shifts n_chars +40 where % 5 == 0. Spark NEVER aggregates B:
    it composes A's chi2 category-count state AND A's KS bin-count
    state (against the deterministic baseline grid) with the
    multiset-aware snapshot delta; DuckDB recomputes both count tables
    from scratch on B (bin index replayed as a sum of grid-literal
    comparisons). Equality proves the composed counts — the ONLY input
    the drift verdicts read — are exact, for the categorical and the
    numeric flavor in one artifact row set."""
    from xsd2json_spark.engine.incremental import (
        compose_drift_bins,
        compose_drift_counts,
        drift_category_counts,
        drift_value_bins,
        snapshot_delta,
    )
    from xsd2json_spark.spec.constraints import Drift

    grid, ecdf, n_base = _ks_baseline(sf_dir)
    baselines = {"b": {"grid": grid, "ecdf": ecdf, "n": n_base}}
    chi_c = Drift(id="chi", column="lang", test="chi2", baseline="b")
    ks_c = Drift(id="ks", column="n_chars", test="ks", baseline="b")

    a = _t(spark, sf_dir, "documents")
    b = (
        a.filter(F.col("doc_id") < 480)
        .withColumn(
            "lang",
            F.when((F.col("doc_id") % 7 == 0) & (F.col("lang") == "en"), F.lit("zh"))
            .otherwise(F.col("lang")),
        )
        .withColumn(
            "n_chars",
            F.when(F.col("doc_id") % 5 == 0, F.col("n_chars") + 40).otherwise(F.col("n_chars")),
        )
    )
    added, removed = snapshot_delta(a, b, ["doc_id"])
    cat = compose_drift_counts(drift_category_counts(a, chi_c), added, removed, chi_c)
    bins = compose_drift_bins(drift_value_bins(a, ks_c, baselines), added, removed, ks_c, baselines)
    return (
        cat.select(F.lit("cat").alias("kind"), F.col("__cat").cast("string").alias("key"),
                   F.col("n").cast("long").alias("n"))
        .unionByName(
            bins.select(F.lit("bin").alias("kind"), F.col("__bin").cast("string").alias("key"),
                        F.col("n").cast("long").alias("n")))
    )


def q_cv_incremental_fk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-checked incremental FOREIGN-KEY validation (new round 5):
    the FK check composed from a fact-side keyed count state instead of
    re-shuffling the snapshot's keys. Snapshot A = documents; snapshot
    B deletes doc_id >= 480, rewrites lang to the dangling 'zz' where
    doc_id % 17 == 0, and rewrites text where doc_id % 13 == 0 (a
    payload-only update whose +1/-1 must compose to a net zero on the
    lang counts). Spark NEVER groups B's keys: it composes A's
    key_counts state with the multiset-aware snapshot delta, then
    anti-joins the composed counts against the CURRENT dim (distinct
    langs of A) at verdict time — fact-side state, so a dim change
    would need no rebuild (engine/incremental.py:fk_dangling_counts).
    DuckDB replays a from-scratch NOT IN over B; equality proves the
    composition + verdict-time anti-join exact. Registered past the
    driver's 50-row capture — verify via tools/check_oracle.py."""
    from xsd2json_spark.engine.incremental import (
        compose_key_counts,
        fk_dangling_counts,
        key_counts,
        snapshot_delta,
    )
    from xsd2json_spark.spec.constraints import ForeignKey

    a = _t(spark, sf_dir, "documents")
    b = (
        a.filter(F.col("doc_id") < 480)
        .withColumn(
            "lang",
            F.when(F.col("doc_id") % 17 == 0, F.lit("zz"))
            .when(F.col("doc_id") % 19 == 0, F.lit("qq"))
            .otherwise(F.col("lang")),
        )
        .withColumn(
            "text",
            F.when(F.col("doc_id") % 13 == 0, F.lit("rewritten in snapshot B"))
            .otherwise(F.col("text")),
        )
    )
    dim = a.select("lang").na.drop().distinct()
    state = key_counts(a, ["lang"])
    added, removed = snapshot_delta(a, b, ["doc_id"])
    composed = compose_key_counts(state, added, removed, ["lang"])
    c = ForeignKey(id="fk_lang", columns=["lang"], ref_table="langs", ref_columns=["lang"])
    return fk_dangling_counts(composed, dim, c).select(
        F.col("lang").alias("lang"),
        F.col("n").cast("long").alias("dangling_rows"),
    )


def q_doc_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-checked dedup group assembly (new round 4): connected
    components over the md5 MinHash near-dup PAIR graph — the step
    that turns pairwise matches into dedup groups (A~B, B~C collapse
    into one group even when A~C was never emitted). Spark runs
    min-label propagation + path halving (O(log diameter) rounds);
    DuckDB replays with a recursive CTE computing min reachable id —
    two entirely different algorithms, hash-identical output."""
    docs = _t(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < 300) & F.col("text").isNotNull()
    )
    pairs = D.minhash_lsh_pairs(
        docs, "doc_id", "text", threshold=0.5, family="md5", hashed_bands=False
    )
    return D.connected_components(pairs).select(
        F.col("id").cast("long").alias("doc_id"),
        F.col("comp").cast("long").alias("component"),
    )


def q_doc_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-checked end-to-end dedup (new round 4): the full user
    story — near-dup pairs (md5 MinHash LSH) -> connected components ->
    keep only each group's min-id representative, untouched docs
    surviving as-is. DuckDB replays with the recursive-CTE components
    as the drop list."""
    docs = _t(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < 300) & F.col("text").isNotNull()
    )
    pairs = D.minhash_lsh_pairs(
        docs, "doc_id", "text", threshold=0.5, family="md5", hashed_bands=False
    )
    return D.dedup_survivors(docs, pairs, "doc_id").select(
        F.col("doc_id").cast("long").alias("doc_id")
    )


def q_doc_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-checked deterministic train/val/test split (new round 4):
    the split label is a pure function of the key's md5 bucket
    (functions/sampling.split_column), so DuckDB reproduces every
    row's assignment and hence the per-(lang, split) counts exactly.
    The property under test is the 100 TB pipeline requirement:
    membership is engine- and partitioning-independent (no RNG), and a
    row's split never changes as the corpus grows."""
    from xsd2json_spark.functions import sampling as SP

    docs = _t(spark, sf_dir, "documents").filter(F.col("lang").isNotNull())
    split = SP.split_column(["doc_id"], (0.8, 0.1, 0.1), seed=42, family="md5")
    return (
        docs.select("lang", split.alias("split"))
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("lang", "split", F.col("n").cast("long").alias("n"))
    )


def q_doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-checked per-stratum deterministic sampling (the sampleBy
    analog without RNG): per-lang fractions over the md5 key bucket;
    DuckDB replays the exact surviving row set (ids, not just counts)."""
    from xsd2json_spark.functions import sampling as SP

    docs = _t(spark, sf_dir, "documents").filter(F.col("lang").isNotNull())
    out = SP.deterministic_sample(
        docs, ["doc_id"], 0.0, seed=7, family="md5",
        by={"en": 0.5, "fr": 0.25, "de": 0.1}, by_col="lang",
    )
    return out.select(F.col("doc_id").cast("long").alias("doc_id"), "lang")


# ---------------------------------------------------------------------------
# driver entry points
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full constraint-validation verdict table on
    sf0.001 documents."""
    return q_cv_verdicts(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "cv_verdicts": q_cv_verdicts,
        "cv_violations": q_cv_violations,
        "cv_stats_sketch": q_cv_stats_sketch,
        "cv_unique_violations": q_cv_unique_violations,
        "cv_fk_violations": q_cv_fk_violations,
        "cv_cardinality_violations": q_cv_cardinality_violations,
        "cv_dtype_lexical": q_cv_dtype_lexical,
        "lineitem_pricing_summary": q_lineitem_pricing_summary,
        "top_revenue_orders": q_top_revenue_orders,
        "events_user_activity": q_events_user_activity,
        "doc_token_stats": q_doc_token_stats,
        "doc_fingerprint": q_doc_fingerprint,
        "doc_exact_dups": q_doc_exact_dups,
        "doc_langid_ngram": q_doc_langid_ngram,
        "doc_ngram_jaccard": q_doc_ngram_jaccard,
        "events_sessionization": q_events_sessionization,
        "brand_revenue": q_brand_revenue,
        "cv_composite_violations": q_cv_composite_violations,
        "doc_minhash_dups": q_doc_minhash_dups,
        "doc_simhash": q_doc_simhash,
        "emb_knn_brute": q_emb_knn_brute,
        "emb_knn_lsh_pruned": q_emb_knn_lsh_pruned,
        "emb_knn_ivf": q_emb_knn_ivf,
        "emb_near_dups": q_emb_near_dups,
        "cv_cube_drilldown": q_cv_cube_drilldown,
        "cv_drift_chi2": q_cv_drift_chi2,
        "cv_drift_chi2_stat": q_cv_drift_chi2_stat,
        "cv_quantile_violations": q_cv_quantile_violations,
        "cv_drift_psi_stat": q_cv_drift_psi_stat,
        "doc_top_terms": q_doc_top_terms,
        "cv_drift_ks_stat": q_cv_drift_ks_stat,
        "cv_drift_by_lang": q_cv_drift_by_lang,
        "cv_resume_lineage": q_cv_resume_lineage,
        "doc_packing": q_doc_packing,
        "doc_contamination": q_doc_contamination,
        "doc_repetition": q_doc_repetition,
        "doc_quality_flags": q_doc_quality_flags,
        "doc_pii_redaction": q_doc_pii_redaction,
        "cv_suggested_spec": q_cv_suggested_spec,
        "cv_incremental_verdicts": q_cv_incremental_verdicts,
        "cv_incremental_unique": q_cv_incremental_unique,
        "doc_dup_components": q_doc_dup_components,
        "doc_dedup_survivors": q_doc_dedup_survivors,
        "doc_split_counts": q_doc_split_counts,
        "doc_stratified_sample": q_doc_stratified_sample,
        "media_image_features_ppm": q_media_image_features_ppm,
        "media_image_features_png": q_media_image_features_png,
        "media_image_features_jpeg": q_media_image_features_jpeg,
        "media_audio_frames_wav": q_media_audio_frames_wav,
        "media_video_frame_index": q_media_video_frame_index,
        # --- past the driver's 50-row CORRECTNESS capture from here ---
        # New round-5 oracle-able queries (no in-capture slot left
        # without evicting a witnessed row; the committed full replay
        # ORACLE_FULL_r05.json and tools/check_oracle.py witness them):
        "cv_incremental_fk": q_cv_incremental_fk,
        "media_video_frames_mjpg": q_media_video_frames_mjpg,
        "cv_fd_violations": q_cv_fd_violations,
        "cv_ratio_verdicts": q_cv_ratio_verdicts,
        "cv_drift_ks": q_cv_drift_ks,
        "cv_incremental_drift": q_cv_incremental_drift,
        "emb_knn_pq": q_emb_knn_pq,
        "cv_metric_anomaly": q_cv_metric_anomaly,
        "emb_knn_ivfpq": q_emb_knn_ivfpq,
        # Oracle-able but redundant witnesses (spilled by the 50-row
        # cap; replayable any time via tools/check_oracle.py):
        # cv_drift_ks_by_stat / cv_drift_chi2_by_stat run the same
        # per-group spine code path as the witnessed cv_drift_ks_stat /
        # cv_drift_chi2_stat (global) and cv_drift_by_lang (per-group
        # verdicts); doc_langid is the legacy heuristic superseded by
        # doc_langid_ngram; doc_simhash_pairs_md5's simhash kernel is
        # already hash-checked by doc_simhash; emb_knn_lsh runs the
        # same hyperplane bucket+probe kernel as the witnessed
        # emb_knn_lsh_pruned (which additionally asserts the
        # partition-pruned indexed path); doc_quality's length/punct
        # stats and doc_stopword_ratio's stopword share are inputs to
        # the witnessed doc_quality_flags rules and overlap
        # doc_token_stats.
        "emb_knn_lsh": q_emb_knn_lsh,
        "doc_quality": q_doc_quality,
        "doc_stopword_ratio": q_doc_stopword_ratio,
        "cv_drift_ks_by_stat": q_cv_drift_ks_by_stat,
        "cv_drift_chi2_by_stat": q_cv_drift_chi2_by_stat,
        "doc_langid": q_doc_langid,
        "doc_simhash_pairs_md5": q_doc_simhash_pairs_md5,
        # Rows-only by design (xxhash64 / BPE / fake-codec paths have
        # no DuckDB equivalent; pytest goldens cover them instead):
        "doc_minhash_dups_xx": q_doc_minhash_dups_xx,
        "doc_simhash_pairs": q_doc_simhash_pairs,
        "doc_bpe_token_stats": q_doc_bpe_token_stats,
        "media_image_features": q_media_image_features,
    }


def _lsh_oracle() -> str:
    """DuckDB replay of hyperplane LSH: the planes are deterministic
    (numpy seed 42) so they embed as literal DOUBLE[] rows; bucket =
    sign bits of plane dot products, probe = query bucket + Hamming-1
    neighbors — identical to functions/similarity.lsh_topk (and the
    partition-pruned indexed probe, which returns the same rows)."""
    from xsd2json_spark.functions.similarity import hyperplanes

    planes = hyperplanes(64, 8, 42)  # testdata embeddings are dim 64
    vals = ", ".join(
        f"({j}, [{', '.join(repr(float(x)) for x in p)}]::DOUBLE[])"
        for j, p in enumerate(planes)
    )
    probe_xors = ", ".join(str(1 << j) for j in range(8))
    return f"""
        WITH planes(j, p) AS (VALUES {vals}),
        b AS (
            SELECT e.vec_id, e.embedding,
                   CAST(sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], pl.p) > 0
                            THEN (1::BIGINT << pl.j) ELSE 0 END) AS BIGINT) AS bucket
            FROM embeddings e CROSS JOIN planes pl
            GROUP BY e.vec_id, e.embedding
        ),
        q AS (SELECT bucket AS qb, embedding AS qe FROM b WHERE vec_id = 0),
        cand AS (
            SELECT b.vec_id, round(list_cosine_similarity(b.embedding, q.qe), 6) AS s6
            FROM b, q
            WHERE b.bucket = q.qb OR xor(b.bucket, q.qb) IN ({probe_xors})
        )
        SELECT CAST(vec_id AS BIGINT) AS vec_id, round(s6, 4) AS score
        FROM cand ORDER BY s6 DESC, vec_id LIMIT 10
    """


def _emb_neardup_oracle() -> str:
    """DuckDB replay of banded hyperplane near-dup LSH: band planes are
    deterministic (numpy seed 42, functions/dedup.band_planes) so they
    embed as literal DOUBLE[] rows; candidates are distinct same-(band,
    bucket) pairs, verified by exact double cosine — identical to
    functions/dedup.embedding_near_dups."""
    from xsd2json_spark.functions.dedup import band_planes

    planes = band_planes(64, EMB_NEARDUP_BANDS, EMB_NEARDUP_PLANES, 42)
    vals = ", ".join(
        f"({b}, {j}, [{', '.join(repr(float(x)) for x in planes[b][j])}]::DOUBLE[])"
        for b in range(EMB_NEARDUP_BANDS)
        for j in range(EMB_NEARDUP_PLANES)
    )
    return f"""
        WITH planes(band, j, p) AS (VALUES {vals}),
        b AS (
            SELECT e.vec_id, pl.band,
                   CAST(sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], pl.p) > 0
                            THEN (1::BIGINT << pl.j) ELSE 0 END) AS BIGINT) AS bucket
            FROM embeddings e CROSS JOIN planes pl
            GROUP BY e.vec_id, pl.band
        ),
        cand AS (
            SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b
            FROM b l JOIN b r ON l.band = r.band AND l.bucket = r.bucket
                             AND l.vec_id < r.vec_id
        ),
        verified AS (
            SELECT c.id_a, c.id_b,
                   round(list_cosine_similarity(ea.embedding::DOUBLE[],
                                                eb.embedding::DOUBLE[]), 6) AS c6
            FROM cand c
            JOIN embeddings ea ON ea.vec_id = c.id_a
            JOIN embeddings eb ON eb.vec_id = c.id_b
        )
        SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
               round(c6, 4) AS cos_sim
        FROM verified WHERE c6 >= {EMB_NEARDUP_THRESHOLD}
    """


def _ivf_oracle() -> str:
    """DuckDB replay of the IVF probe: the deterministic kmeans_numpy
    centroids embed as literal DOUBLE[] rows (exactly the _lsh_oracle
    hyperplane trick); assignment is argmax_j (2 v.c_j - |c_j|^2) with
    the same (score, j) struct-max tie-break as Spark's array_max, the
    nprobe nearest lists are chosen driver-side here like
    ivf_topk_indexed does, and candidates get cosine top-k. sf0.01 is
    the driver's correctness scale (the oracle is only run there)."""
    import numpy as np
    import pyarrow.parquet as pq

    sf = "/root/testdata/sf0.01"
    cents = _ivf_centroids(sf)
    tbl = pq.read_table(
        os.path.join(sf, "embeddings.parquet"), columns=["vec_id", "embedding"]
    ).to_pandas()
    q = np.array(tbl.loc[tbl.vec_id == 0, "embedding"].iloc[0], dtype=np.float64)
    d2 = ((cents - q) ** 2).sum(axis=1)
    probes = ", ".join(str(int(j)) for j in sorted(np.argsort(d2)[:IVF_NPROBE]))
    vals = ", ".join(
        f"({j}, [{', '.join(repr(float(x)) for x in c)}]::DOUBLE[], {repr(float(np.dot(c, c)))})"
        for j, c in enumerate(cents)
    )
    return f"""
        WITH cents(j, c, n2) AS (VALUES {vals}),
        a AS (
            SELECT e.vec_id, e.embedding,
                   (max(struct_pack(
                        s := 2.0 * list_dot_product(e.embedding::DOUBLE[], cen.c) - cen.n2,
                        j := cen.j))).j AS list_id
            FROM embeddings e CROSS JOIN cents cen
            GROUP BY e.vec_id, e.embedding
        ),
        q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        cand AS (
            SELECT vec_id, round(list_cosine_similarity(a.embedding, q.qe), 6) AS s6
            FROM a, q WHERE list_id IN ({probes})
        )
        SELECT CAST(vec_id AS BIGINT) AS vec_id, round(s6, 4) AS score
        FROM cand ORDER BY s6 DESC, vec_id LIMIT 10
    """


def _pq_oracle() -> str:
    """DuckDB replay of the PQ ADC top-k: codebooks as literal
    DOUBLE[] rows keyed (sub-space j, codeword c); per (vector, j) the
    assigned codeword is the same argmax (2 v.c - |c|^2) struct-max
    tie-break as the Spark expression, over the 1-based list slice of
    the sub-space; the query-side LUT (precomputed inner products)
    joins on (j, code) and sums; ranking on the ROUNDED score + vec_id
    exactly like pq_topk(round_to=6)."""
    import numpy as np
    import pyarrow.parquet as pq

    sf = "/root/testdata/sf0.01"
    cb = _pq_codebooks(sf)
    m, k, sub = cb.shape
    tbl = pq.read_table(
        os.path.join(sf, "embeddings.parquet"), columns=["vec_id", "embedding"]
    ).to_pandas()
    q = np.array(tbl.loc[tbl.vec_id == 0, "embedding"].iloc[0], dtype=np.float64)
    lut = np.einsum("mkd,md->mk", cb, q.reshape(m, sub))
    cb_vals = ", ".join(
        f"({j}, {c}, [{', '.join(repr(float(x)) for x in cb[j][c])}]::DOUBLE[], "
        f"{repr(float(np.dot(cb[j][c], cb[j][c])))})"
        for j in range(m) for c in range(k)
    )
    lut_vals = ", ".join(
        f"({j}, {c}, {repr(float(lut[j][c]))})" for j in range(m) for c in range(k)
    )
    return f"""
        WITH cb(j, c, v, n2) AS (VALUES {cb_vals}),
        lut(j, c, l) AS (VALUES {lut_vals}),
        a AS (
            SELECT e.vec_id, cb.j,
                   (max(struct_pack(
                        s := 2.0 * list_dot_product(
                                 (e.embedding::DOUBLE[])[cb.j * {sub} + 1 : (cb.j + 1) * {sub}],
                                 cb.v) - cb.n2,
                        c := cb.c))).c AS code
            FROM embeddings e CROSS JOIN cb
            GROUP BY e.vec_id, cb.j
        ),
        s AS (
            -- l::DOUBLE: DuckDB infers DECIMAL for VALUES numerics,
            -- and DECIMAL round() formats with trailing zeros
            SELECT a.vec_id, round(sum(l.l::DOUBLE), 6) AS s6
            FROM a JOIN lut l ON l.j = a.j AND l.c = a.code
            GROUP BY a.vec_id
        )
        SELECT CAST(vec_id AS BIGINT) AS vec_id, round(s6, 4) AS score
        FROM s ORDER BY s6 DESC, vec_id LIMIT 10
    """


def _ivfpq_oracle() -> str:
    """DuckDB replay of the IVF-PQ probe: coarse centroids, residual
    codebooks, the query LUT and per-list constants all as literals;
    residual = list_transform(list_zip(v, c), x -> x[1]-x[2]); encode
    = struct-max argmax per sub-space on the 1-based residual slice;
    score = <q, c_list> + LUT sum over the probe set only; ranking on
    the rounded score + vec_id like ivfpq_topk(round_to=6)."""
    import numpy as np
    import pyarrow.parquet as pq

    sf = "/root/testdata/sf0.01"
    cents = _ivf_centroids(sf)
    tbl = pq.read_table(
        os.path.join(sf, "embeddings.parquet"), columns=["vec_id", "embedding"]
    ).to_pandas().sort_values("vec_id")
    mat = np.array(tbl["embedding"].tolist(), dtype=np.float64)
    cb = S.train_ivfpq(mat, cents, m=PQ_M, k=PQ_K, seed=42)
    m, k, sub = cb.shape
    q = np.array(tbl.loc[tbl.vec_id == 0, "embedding"].iloc[0], dtype=np.float64)
    d2 = ((cents - q) ** 2).sum(axis=1)
    probes = sorted(int(j) for j in np.argsort(d2)[:IVFPQ_NPROBE])
    lut = np.einsum("mkd,md->mk", cb, q.reshape(m, sub))
    cents_vals = ", ".join(
        f"({j}, [{', '.join(repr(float(x)) for x in c)}]::DOUBLE[], "
        f"{repr(float(np.dot(c, c)))}, {repr(float(np.dot(q, c)))})"
        for j, c in enumerate(cents)
    )
    cb_vals = ", ".join(
        f"({j}, {c}, [{', '.join(repr(float(x)) for x in cb[j][c])}]::DOUBLE[], "
        f"{repr(float(np.dot(cb[j][c], cb[j][c])))})"
        for j in range(m) for c in range(k)
    )
    lut_vals = ", ".join(
        f"({j}, {c}, {repr(float(lut[j][c]))})" for j in range(m) for c in range(k)
    )
    probe_list = ", ".join(str(j) for j in probes)
    return f"""
        WITH cents(j, c, n2, qc) AS (VALUES {cents_vals}),
        cb(j, cc, v, n2) AS (VALUES {cb_vals}),
        lut(j, cc, l) AS (VALUES {lut_vals}),
        a AS (
            SELECT e.vec_id, e.embedding,
                   (max(struct_pack(
                        s := 2.0 * list_dot_product(e.embedding::DOUBLE[], ct.c) - ct.n2,
                        j := ct.j))).j AS lid
            FROM embeddings e CROSS JOIN cents ct
            GROUP BY e.vec_id, e.embedding
        ),
        r AS (
            SELECT a.vec_id, a.lid, ct.qc,
                   list_transform(list_zip(a.embedding::DOUBLE[], ct.c),
                                  x -> x[1] - x[2]) AS res
            FROM a JOIN cents ct ON ct.j = a.lid
            WHERE a.lid IN ({probe_list})
        ),
        enc AS (
            SELECT r.vec_id, any_value(r.qc) AS qc, cb.j,
                   (max(struct_pack(
                        s := 2.0 * list_dot_product(
                                 (r.res)[cb.j * {sub} + 1 : (cb.j + 1) * {sub}], cb.v)
                             - cb.n2,
                        c := cb.cc))).c AS code
            FROM r CROSS JOIN cb
            GROUP BY r.vec_id, cb.j
        ),
        s AS (
            SELECT enc.vec_id,
                   round(any_value(enc.qc) + sum(l.l::DOUBLE), 6) AS s6
            FROM enc JOIN lut l ON l.j = enc.j AND l.cc = enc.code
            GROUP BY enc.vec_id
        )
        SELECT CAST(vec_id AS BIGINT) AS vec_id, round(s6, 4) AS score
        FROM s ORDER BY s6 DESC, vec_id LIMIT 10
    """


def _chi2_crit_values(alpha: float = 0.01, max_dof: int = 128) -> str:
    """The chi2-critical-value table as DuckDB VALUES literals — the
    exact same pure-python chi2_crit doubles drift_verdicts_over_counts
    broadcasts Spark-side, so the in-plan pass/fail verdict replays
    bit-identically (repr round-trips doubles exactly; statistics sit
    orders of magnitude away from the criticals, so no boundary risk)."""
    from xsd2json_spark.engine.stats_math import chi2_crit

    return ", ".join(f"({d}, {chi2_crit(d, alpha)!r})" for d in range(1, max_dof + 1))


def _drift_verdict_oracle() -> str:
    """DuckDB replay of q_cv_drift_chi2: spine-joined Pearson statistic
    (same shape as cv_drift_chi2_stat) + the broadcast critical-value
    verdict. The en->zh shift moves mass OFF the baseline spine, so the
    novel category contributes via n only — matching the map-lookup
    semantics of drift_verdicts_over_counts."""
    return f"""
        WITH base AS (
            SELECT lang AS cat, count(*) AS b FROM documents
            WHERE lang IS NOT NULL GROUP BY lang
        ),
        cur AS (
            SELECT 'self' AS scenario, lang FROM documents WHERE lang IS NOT NULL
            UNION ALL
            SELECT 'shift_en_zh', CASE WHEN lang = 'en' THEN 'zh' ELSE lang END
            FROM documents WHERE lang IS NOT NULL
        ),
        obs AS (SELECT scenario, lang AS cat, count(*) AS o FROM cur GROUP BY 1, 2),
        n AS (SELECT scenario, sum(o) AS n FROM obs GROUP BY 1),
        bt AS (SELECT sum(b) AS bt FROM base),
        spine AS (
            SELECT n.scenario, n.n, base.cat, base.b, bt.bt
            FROM n CROSS JOIN base CROSS JOIN bt
        ),
        j AS (
            SELECT s.*, coalesce(o.o, 0) AS o
            FROM spine s LEFT JOIN obs o ON o.scenario = s.scenario AND o.cat = s.cat
        ),
        agg AS (
            SELECT scenario,
                   sum(pow(o - n * b * 1.0 / bt, 2) / (n * b * 1.0 / bt)) AS statistic,
                   greatest(count(*) - 1, 1) AS dof
            FROM j GROUP BY scenario
        ),
        crit(dof, crit) AS (VALUES {_chi2_crit_values()})
        SELECT scenario, round(statistic, 6) AS statistic,
               CAST(agg.dof AS BIGINT) AS dof,
               statistic <= crit AS passed
        FROM agg JOIN crit ON crit.dof = agg.dof
    """


def _drift_verdict_by_lang_oracle() -> str:
    """DuckDB replay of q_cv_drift_by_lang: per-lang spine-joined
    statistic vs the per-lang baseline + critical-value verdict. In the
    shift_en scenario every en source moves to the novel 'srcX', so the
    en spine reads all-zero observed and the statistic equals n — only
    en fails."""
    return f"""
        WITH docs AS (
            SELECT lang, source FROM documents
            WHERE lang IS NOT NULL AND source IS NOT NULL
        ),
        base AS (SELECT lang, source AS cat, count(*) AS b FROM docs GROUP BY 1, 2),
        bt AS (SELECT lang, sum(b) AS bt FROM base GROUP BY 1),
        cur AS (
            SELECT 'self' AS scenario, lang, source FROM docs
            UNION ALL
            SELECT 'shift_en', lang,
                   CASE WHEN lang = 'en' THEN 'srcX' ELSE source END
            FROM docs
        ),
        obs AS (SELECT scenario, lang, source AS cat, count(*) AS o FROM cur GROUP BY 1, 2, 3),
        n AS (SELECT scenario, lang, sum(o) AS n FROM obs GROUP BY 1, 2),
        spine AS (
            SELECT n.scenario, n.lang, n.n, base.cat, base.b, bt.bt
            FROM n JOIN base ON base.lang = n.lang JOIN bt ON bt.lang = n.lang
        ),
        j AS (
            SELECT s.*, coalesce(o.o, 0) AS o
            FROM spine s LEFT JOIN obs o
              ON o.scenario = s.scenario AND o.lang = s.lang AND o.cat = s.cat
        ),
        agg AS (
            SELECT scenario, lang,
                   sum(pow(o - n * b * 1.0 / bt, 2) / (n * b * 1.0 / bt)) AS statistic,
                   greatest(count(*) - 1, 1) AS dof
            FROM j GROUP BY 1, 2
        ),
        crit(dof, crit) AS (VALUES {_chi2_crit_values()})
        SELECT scenario, lang, round(statistic, 6) AS statistic,
               CAST(agg.dof AS BIGINT) AS dof,
               statistic <= crit AS passed
        FROM agg JOIN crit ON crit.dof = agg.dof
    """


#: DuckDB fragments shared by the repetition/quality-flag oracles:
#: whitespace tokens (Spark tokens()) and trimmed non-blank lines
_DD_WORDS = r"list_filter(string_split_regex({t}, '\s+'), x -> x <> '')"
_DD_LINES = r"list_filter(list_transform(string_split({t}, chr(10)), x -> trim(x)), x -> len(x) > 0)"


def _packing_oracle() -> str:
    bucket = _md5_bucket_sql("CAST(doc_id AS VARCHAR)", 5)
    return f"""
        WITH d AS (
            SELECT doc_id, n_chars, ({bucket}) % 8 AS shard
            FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL
        ),
        p AS (
            SELECT shard,
                   CAST(floor(coalesce(sum(n_chars) OVER (
                       PARTITION BY shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) / 2000) AS BIGINT) AS pack_id,
                   n_chars
            FROM d
        )
        SELECT CAST(shard AS BIGINT) AS shard, pack_id,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS token_sum,
               sum(n_chars) > 2000 AS overflowed,
               max(n_chars) > 2000 AS oversized_doc
        FROM p GROUP BY shard, pack_id
    """


def _contamination_oracle() -> str:
    words = _DD_WORDS.format(t="lower(text)")
    bucket = _md5_bucket_sql("CAST(doc_id AS VARCHAR)", 11)
    gram = " || ' ' || ".join(f"w[i + {j}]" for j in range(5))
    return f"""
        WITH d AS (
            SELECT doc_id, {words} AS w, {bucket} AS bk
            FROM documents WHERE text IS NOT NULL
        ),
        g AS (
            SELECT doc_id, bk, unnest(
                CASE WHEN len(w) >= 5
                     THEN list_transform(range(1, len(w) - 3), i -> {gram})
                     ELSE [] END) AS gm
            FROM d
        ),
        eg AS (SELECT DISTINCT gm FROM g WHERE bk < 30000),
        tg AS (SELECT DISTINCT doc_id, gm FROM g WHERE bk >= 30000)
        SELECT CAST(tg.doc_id AS BIGINT) AS doc_id,
               CAST(count(*) AS BIGINT) AS n_shared_grams
        FROM tg JOIN eg ON eg.gm = tg.gm
        GROUP BY tg.doc_id
    """


def _repetition_oracle() -> str:
    words = _DD_WORDS.format(t="lower(text)")
    lines = _DD_LINES.format(t="text")
    return f"""
        WITH cur AS (
            SELECT 'self' AS scenario, doc_id, text FROM documents WHERE text IS NOT NULL
            UNION ALL
            SELECT 'doubled', doc_id, text || chr(10) || text
            FROM documents WHERE text IS NOT NULL
        ),
        t AS (
            SELECT scenario, doc_id,
                   {lines} AS lines,
                   {words} AS w
            FROM cur
        ),
        g AS (
            SELECT scenario, doc_id, lines,
                   greatest(len(w) - 1, 0) AS cnt,
                   CASE WHEN len(w) >= 2
                        THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1])
                        ELSE [] END AS grams
            FROM t
        ),
        tops AS (
            SELECT scenario, doc_id, max(c) AS top FROM (
                SELECT scenario, doc_id, g2.g AS g, count(*) AS c
                FROM g, LATERAL (SELECT unnest(grams) AS g) g2
                GROUP BY 1, 2, 3
            ) GROUP BY 1, 2
        )
        SELECT g.scenario, CAST(g.doc_id AS BIGINT) AS doc_id,
               CASE WHEN len(lines) <= 0 THEN 0.0
                    ELSE round(1.0 - len(list_distinct(lines)) * 1.0 / len(lines), 6)
               END AS dup_line_ratio,
               CASE WHEN cnt <= 0 THEN 0.0
                    ELSE round(coalesce(tops.top, 0) * 1.0 / cnt, 6)
               END AS top_bigram_ratio
        FROM g LEFT JOIN tops ON tops.scenario = g.scenario AND tops.doc_id = g.doc_id
    """


def _quality_flags_oracle() -> str:
    words = _DD_WORDS.format(t="text")
    lines = _DD_LINES.format(t="text")
    return f"""
        WITH cur AS (
            SELECT 'self' AS scenario, doc_id, text FROM documents WHERE text IS NOT NULL
            UNION ALL
            SELECT 'degraded', doc_id,
                   '#### ## # ' || text || chr(10) || text || chr(10) || text
            FROM documents WHERE text IS NOT NULL
        ),
        t AS (
            SELECT scenario, doc_id, text,
                   {words} AS w,
                   {lines} AS lines
            FROM cur
        ),
        m AS (
            SELECT scenario, doc_id, text, lines,
                   len(w) AS n_words,
                   CASE WHEN len(w) > 0
                        THEN list_sum(list_transform(w, x -> len(x))) * 1.0 / len(w)
                        ELSE 0.0 END AS mean_wl,
                   length(text) - length(replace(text, '#', '')) AS hashes,
                   (length(text) - length(replace(text, '...', ''))) / 3 AS ellipses
            FROM t
        )
        SELECT scenario, CAST(doc_id AS BIGINT) AS doc_id,
               n_words BETWEEN 5 AND 100000 AS word_count_ok,
               mean_wl BETWEEN 2.0 AND 12.0 AS mean_word_len_ok,
               (CASE WHEN n_words > 0 THEN (hashes + ellipses) * 1.0 / n_words ELSE 0.0 END)
                   <= 0.1 AS symbol_ratio_ok,
               (CASE WHEN len(lines) <= 0 THEN 0.0
                     ELSE round(1.0 - len(list_distinct(lines)) * 1.0 / len(lines), 6)
                END) <= 0.3 AS dup_lines_ok
        FROM m
    """


def _incremental_oracle() -> str:
    """DuckDB replay of q_cv_incremental_verdicts: a FULL from-scratch
    validation of mutated snapshot B — Spark gets there by composing
    snapshot A's verdicts with delta-only counters, so equality proves
    the composition exact."""
    return """
        WITH b AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 7 = 0 THEN '' ELSE text END AS text,
                   CASE WHEN doc_id % 11 = 0 THEN 'xx' ELSE lang END AS lang,
                   n_chars, source
            FROM documents WHERE doc_id < 450
        ),
        checks(constraint_id, violation_count) AS (
            SELECT 'text_not_null', count(*) FILTER (WHERE text IS NULL) FROM b
            UNION ALL
            SELECT 'lang_enum', count(*) FILTER (
                WHERE lang IS NOT NULL AND lang NOT IN ('en','fr','de','es')) FROM b
            UNION ALL
            SELECT 'nchars_range', count(*) FILTER (
                WHERE n_chars IS NOT NULL AND NOT (n_chars >= 1 AND n_chars <= 350)) FROM b
            UNION ALL
            SELECT 'text_minlen', count(*) FILTER (
                WHERE text IS NOT NULL AND NOT (length(text) BETWEEN 10 AND 100000)) FROM b
            UNION ALL
            SELECT 'source_pattern', count(*) FILTER (
                WHERE source IS NOT NULL AND NOT regexp_full_match(source, '(?:src[0-9])')) FROM b
            UNION ALL
            SELECT 'pk_unique', count(*) FROM (
                SELECT doc_id FROM b GROUP BY doc_id HAVING count(*) > 1)
        )
        SELECT constraint_id,
               CAST(violation_count AS BIGINT) AS violation_count,
               violation_count = 0 AS passed
        FROM checks
    """


def _dup_components_oracle() -> str:
    """DuckDB replay of q_doc_dup_components: the md5 MinHash pair
    pipeline (reused verbatim from _minhash_oracle as a subquery) fed
    into a recursive CTE that computes each node's minimum reachable
    id — transitive closure by UNION-dedup recursion, a completely
    different algorithm from Spark's label propagation."""
    return f"""
        WITH RECURSIVE pairs AS ({_minhash_oracle()}),
        edges AS (
            SELECT id_a AS a, id_b AS b FROM pairs
            UNION
            SELECT id_b, id_a FROM pairs
        ),
        nodes AS (SELECT DISTINCT a AS id FROM edges),
        reach(id, r) AS (
            SELECT id, id FROM nodes
            UNION
            SELECT reach.id, e.b FROM reach JOIN edges e ON e.a = reach.r
        )
        SELECT CAST(id AS BIGINT) AS doc_id, CAST(min(r) AS BIGINT) AS component
        FROM reach GROUP BY id
    """


def _dedup_survivors_oracle() -> str:
    """DuckDB replay of q_doc_dedup_survivors: components (recursive
    CTE) -> drop every member whose id differs from its component's
    min; docs in no pair survive untouched."""
    return f"""
        WITH comp AS ({_dup_components_oracle()})
        SELECT CAST(doc_id AS BIGINT) AS doc_id
        FROM documents
        WHERE doc_id < 300 AND text IS NOT NULL
          AND doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id <> component)
    """


def _md5_bucket_sql(key_sql: str, seed: int) -> str:
    """DuckDB replay of sampling.hash_bucket(family='md5'): first 15
    hex digits of md5('<seed>|' || key) as a BIGINT (strpos hexval —
    the minhash/simhash oracle idiom), mod 1e6."""
    digits = " + ".join(
        f"(strpos('0123456789abcdef', substr(h, {p + 1}, 1)) - 1) * {1 << (4 * (14 - p))}"
        for p in range(15)
    )
    return (
        f"(SELECT ({digits}) % 1000000 FROM (SELECT md5('{seed}|' || {key_sql}) AS h))"
    )


def _split_counts_oracle() -> str:
    b = _md5_bucket_sql("CAST(doc_id AS VARCHAR)", 42)
    return f"""
        WITH d AS (
            SELECT lang,
                   CASE WHEN {b} < 800000 THEN 'train'
                        WHEN {b} < 900000 THEN 'val'
                        ELSE 'test' END AS split
            FROM documents WHERE lang IS NOT NULL
        )
        SELECT lang, split, CAST(count(*) AS BIGINT) AS n
        FROM d GROUP BY lang, split
    """


def _stratified_sample_oracle() -> str:
    b = _md5_bucket_sql("CAST(doc_id AS VARCHAR)", 7)
    return f"""
        SELECT CAST(doc_id AS BIGINT) AS doc_id, lang
        FROM documents
        WHERE lang IS NOT NULL
          AND {b} < CASE lang WHEN 'en' THEN 500000
                              WHEN 'fr' THEN 250000
                              WHEN 'de' THEN 100000
                              ELSE 0 END
    """


def _ks_stat_oracle() -> str:
    """DuckDB replay of the in-plan KS D statistic: the deterministic
    baseline grid + ECDF embed as literals; each ECDF term is an avg of
    0/1 indicators (exact integer sums -> bit-identical across
    engines); D = greatest of the absolute differences."""
    grid, ecdf, _n = _ks_baseline("/root/testdata/sf0.01")
    terms = ", ".join(
        f"abs(avg(CASE WHEN v <= {q!r} THEN 1.0 ELSE 0.0 END) - CAST({e!r} AS DOUBLE))"
        for q, e in zip(grid, ecdf)
    )
    return f"""
        WITH cur AS (
            SELECT 'self' AS scenario, CAST(n_chars AS DOUBLE) AS v
            FROM documents WHERE n_chars IS NOT NULL
            UNION ALL
            SELECT 'shift_plus40', CAST(n_chars + 40 AS DOUBLE)
            FROM documents WHERE n_chars IS NOT NULL
        )
        SELECT scenario, round(greatest({terms}), 6) AS d_statistic,
               CAST(count(*) AS BIGINT) AS n_cur
        FROM cur GROUP BY scenario
    """


def _ks_verdict_oracle() -> str:
    """DuckDB replay of the in-plan KS VERDICT: same literal grid/ECDF
    as _ks_stat_oracle, plus the pass rule with ks_crit_lambda(0.01)
    and the baseline n embedded as literals — the comparison runs on
    the UNROUNDED statistic exactly as the Spark plan does."""
    from xsd2json_spark.engine.stats_math import ks_crit_lambda

    grid, ecdf, n_base = _ks_baseline("/root/testdata/sf0.01")
    lam = ks_crit_lambda(0.01)
    terms = ", ".join(
        f"abs(avg(CASE WHEN v <= {q!r} THEN 1.0 ELSE 0.0 END) - CAST({e!r} AS DOUBLE))"
        for q, e in zip(grid, ecdf)
    )
    return f"""
        WITH cur AS (
            SELECT 'self' AS scenario, CAST(n_chars AS DOUBLE) AS v
            FROM documents WHERE n_chars IS NOT NULL
            UNION ALL
            SELECT 'shift_plus40', CAST(n_chars + 40 AS DOUBLE)
            FROM documents WHERE n_chars IS NOT NULL
        ),
        s AS (
            SELECT scenario, greatest({terms}) AS d, count(*) AS n_cur
            FROM cur GROUP BY scenario
        ),
        e AS (
            SELECT scenario, d, n_cur,
                   (CAST({n_base} AS DOUBLE) * n_cur) / ({n_base} + n_cur) AS ne
            FROM s
        )
        SELECT scenario, round(d, 6) AS d_statistic,
               CAST(n_cur AS BIGINT) AS n_cur,
               d <= CAST({lam!r} AS DOUBLE) / (sqrt(ne) + 0.12 + 0.11 / sqrt(ne)) AS passed
        FROM e
    """


def _metric_anomaly_oracle() -> str:
    """DuckDB replay of cv_metric_anomaly: same history/current slices,
    mean + stddev_samp (sample stddev in both engines), exact medians
    via quantile_cont (== F.percentile linear interpolation), MAD with
    the 0.6745 consistency constant, NULL-safe score division, and the
    vacuous/zero-spread/threshold verdict ladder."""
    return """
        WITH hist AS (
            SELECT lang, count(*) AS value
            FROM documents
            WHERE lang IS NOT NULL AND doc_id % 6 <> 0
            GROUP BY doc_id % 6, lang
        ),
        cur AS (
            SELECT lang, count(*) AS value
            FROM documents
            WHERE lang IS NOT NULL AND doc_id % 6 = 0
              AND NOT (lang = 'en' AND doc_id % 2 = 0)
            GROUP BY lang
        ),
        z AS (
            SELECT lang, count(*) AS n_history,
                   avg(value::DOUBLE) AS center,
                   coalesce(stddev_samp(value::DOUBLE), 0.0) AS spread
            FROM hist GROUP BY lang
        ),
        med AS (
            SELECT lang, quantile_cont(value::DOUBLE, 0.5) AS center
            FROM hist GROUP BY lang
        ),
        m AS (
            SELECT h.lang, count(*) AS n_history, any_value(med.center) AS center,
                   quantile_cont(abs(h.value::DOUBLE - med.center), 0.5) AS spread
            FROM hist h JOIN med ON med.lang = h.lang
            GROUP BY h.lang
        ),
        scored AS (
            SELECT 'zscore' AS method, z.lang, c.value, z.n_history, z.center, z.spread,
                   1.0 * (c.value::DOUBLE - z.center) / nullif(z.spread, 0.0) AS raw
            FROM z JOIN cur c ON c.lang = z.lang
            UNION ALL
            SELECT 'mad', m.lang, c.value, m.n_history, m.center, m.spread,
                   0.6745 * (c.value::DOUBLE - m.center) / nullif(m.spread, 0.0)
            FROM m JOIN cur c ON c.lang = m.lang
        )
        SELECT method, lang, CAST(value AS BIGINT) AS value,
               CAST(n_history AS BIGINT) AS n_history,
               round(center, 6) AS center, round(spread, 6) AS spread,
               CASE WHEN n_history >= 3 THEN round(raw, 6) END AS score,
               CASE WHEN n_history < 3 THEN TRUE
                    WHEN spread = 0.0 THEN value::DOUBLE = center
                    ELSE abs(raw) <= 3.0 END AS passed
        FROM scored
    """


def _incremental_drift_oracle() -> str:
    """DuckDB from-scratch recompute of snapshot B's category counts
    and baseline-grid bin counts (the composed-state equality's right
    hand side); the bin index replays as a sum of grid-literal
    comparisons."""
    grid, _ecdf, _n = _ks_baseline("/root/testdata/sf0.01")
    bin_terms = " + ".join(
        f"(CASE WHEN {q!r} < v THEN 1 ELSE 0 END)" for q in grid
    )
    return f"""
        WITH b AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 7 = 0 AND lang = 'en' THEN 'zh'
                        ELSE lang END AS lang,
                   CASE WHEN doc_id % 5 = 0 THEN n_chars + 40
                        ELSE n_chars END AS n_chars
            FROM documents WHERE doc_id < 480
        )
        SELECT 'cat' AS kind, lang AS key, CAST(count(*) AS BIGINT) AS n
        FROM b WHERE lang IS NOT NULL GROUP BY lang
        UNION ALL
        SELECT 'bin', CAST(({bin_terms}) AS VARCHAR), CAST(count(*) AS BIGINT)
        FROM (SELECT CAST(n_chars AS DOUBLE) AS v FROM b WHERE n_chars IS NOT NULL)
        GROUP BY 2
    """


def _ks_by_stat_oracle() -> str:
    """Per-group DuckDB replay of the KS D statistic (same literal
    grid/ECDF as _ks_stat_oracle, grouped by lang)."""
    grid, ecdf, _n = _ks_baseline("/root/testdata/sf0.01")
    terms = ", ".join(
        f"abs(avg(CASE WHEN v <= {q!r} THEN 1.0 ELSE 0.0 END) - CAST({e!r} AS DOUBLE))"
        for q, e in zip(grid, ecdf)
    )
    return f"""
        SELECT lang, round(greatest({terms}), 6) AS d_statistic,
               CAST(count(*) AS BIGINT) AS n_cur
        FROM (
            SELECT lang, CAST(n_chars AS DOUBLE) AS v
            FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL
        ) GROUP BY lang
    """


def _langid_ngram_oracle() -> str:
    """DuckDB replay of the trigram language ID: the default profiles'
    nonzero log-likelihood weights embed as a literal (gram, lang, w)
    table; doc trigrams (same ' '-padded normalization) join it, scores
    sum per (doc, lang), and the argmax uses the same (score, lang)
    struct-max tie-break as Spark's array_max. Docs with no profile hit
    fall out of the join and come back 'unknown' via the left join."""
    import math

    from xsd2json_spark.functions.text import LANGID_EPS, default_lang_profiles

    profiles = default_lang_profiles()
    rows = []
    for lg in sorted(profiles):
        for g, w in sorted(profiles[lg].items()):
            lw = math.log(w / LANGID_EPS) if w > LANGID_EPS else 0.0
            if lw > 0:
                rows.append(f"('{g.replace(chr(39), chr(39) * 2)}', '{lg}', {lw!r}::DOUBLE)")
    vals = ", ".join(rows)
    return rf"""
        WITH prof(gram, lang, w) AS (VALUES {vals}),
        docs AS (
            SELECT doc_id, ' ' || regexp_replace(lower(trim(text)), '\s+', ' ', 'g') || ' ' AS nm
            FROM documents WHERE text IS NOT NULL
        ),
        grams AS (
            SELECT doc_id, substr(nm, i, 3) AS g
            FROM docs, LATERAL (SELECT unnest(range(1, length(nm) - 1)) AS i)
            WHERE length(nm) >= 3
        ),
        sc AS (
            SELECT g.doc_id, p.lang, sum(p.w) AS s
            FROM grams g JOIN prof p ON p.gram = g.g
            GROUP BY 1, 2
        ),
        best AS (SELECT doc_id, max(struct_pack(s := s, l := lang)) AS b FROM sc GROUP BY 1)
        SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
               CASE WHEN best.b.s > 0 THEN best.b.l ELSE 'unknown' END AS lang_detected
        FROM docs d LEFT JOIN best ON best.doc_id = d.doc_id
    """


def _simhash_pairs_oracle() -> str:
    """DuckDB replay of the md5 SimHash pair pipeline: the same 32-bit
    md5 bit-vote signature as the doc_simhash oracle, then top-8-bit
    prefix blocks, then bit_count(xor) Hamming verify within blocks."""
    num_bits, prefix_bits, max_hamming = 32, 8, 8
    return rf"""
        WITH toks AS (
            SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
            FROM documents WHERE doc_id < 300 AND text IS NOT NULL
        ),
        bits AS (
            SELECT doc_id, j.j AS j,
                   sum(CASE WHEN ((strpos('0123456789abcdef', substr(md5(t), 1 + j.j // 4, 1)) - 1)
                                  >> (j.j % 4)) & 1 = 1
                            THEN 1 ELSE -1 END) AS vote
            FROM toks, (SELECT unnest(range(0, {num_bits})) AS j) j
            GROUP BY doc_id, j.j
        ),
        sh AS (
            SELECT doc_id,
                   CAST(sum(CASE WHEN vote > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS s
            FROM bits GROUP BY doc_id
        ),
        b AS (SELECT doc_id, s, s >> {num_bits - prefix_bits} AS blk FROM sh)
        SELECT CAST(a.doc_id AS BIGINT) AS id_a, CAST(c.doc_id AS BIGINT) AS id_b,
               CAST(bit_count(xor(a.s, c.s)) AS BIGINT) AS hamming
        FROM b a JOIN b c ON a.blk = c.blk AND a.doc_id < c.doc_id
        WHERE bit_count(xor(a.s, c.s)) <= {max_hamming}
    """


def _minhash_oracle() -> str:
    """DuckDB replay of the md5-family MinHash LSH pipeline (mirrors
    functions/dedup.py minhash_signature_sql + band_keys + the verify
    joins): u1/u2 come from md5 hex digits (the one hash both engines
    share — hexval via strpos, like the simhash32 oracle), signatures
    are min_j over shingles of (u1 + j*u2) & 0xffffffff, band keys are
    the comma-joined slot strings, candidates share any band key, and
    survivors are exact-Jaccard-verified on the distinct shingle sets."""
    k, num_hashes, rows, thr = 5, 64, 4, 0.5

    def hex8(start: int) -> str:
        return " + ".join(
            f"(strpos('0123456789abcdef', substr(h, {start + p}, 1)) - 1) * {1 << (4 * (7 - p))}"
            for p in range(8)
        )

    return rf"""
        WITH docs AS (
            SELECT doc_id, lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS t
            FROM documents WHERE doc_id < 300 AND text IS NOT NULL
        ),
        sh AS (
            SELECT DISTINCT doc_id, substr(t, i, {k}) AS s
            FROM docs, LATERAL (SELECT unnest(range(1, length(t) - {k - 2})) AS i)
            WHERE length(t) >= {k}
            UNION
            SELECT doc_id, t FROM docs WHERE length(t) < {k}
        ),
        uu AS (
            SELECT doc_id, s, {hex8(1)} AS u1, ({hex8(9)}) | 1 AS u2
            FROM (SELECT doc_id, s, md5(s) AS h FROM sh)
        ),
        sig AS (
            SELECT doc_id, j.j AS j, min((u1 + j.j * u2) & 4294967295) AS mh
            FROM uu, (SELECT unnest(range(0, {num_hashes})) AS j) j
            GROUP BY doc_id, j.j
        ),
        band AS (
            SELECT doc_id, j // {rows} AS band,
                   string_agg(mh::VARCHAR, ',' ORDER BY j) AS bkey
            FROM sig GROUP BY doc_id, j // {rows}
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
            FROM band a JOIN band b
              ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
        ),
        common AS (
            SELECT c.ia, c.ib, count(*) AS cnt
            FROM cand c
            JOIN sh x ON x.doc_id = c.ia
            JOIN sh y ON y.doc_id = c.ib AND y.s = x.s
            GROUP BY c.ia, c.ib
        ),
        sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1)
        SELECT CAST(c.ia AS BIGINT) AS id_a, CAST(c.ib AS BIGINT) AS id_b,
               round(cnt * 1.0 / (sa.sz + sb.sz - cnt), 6) AS jaccard
        FROM common c
        JOIN sz sa ON sa.doc_id = c.ia
        JOIN sz sb ON sb.doc_id = c.ib
        WHERE round(cnt * 1.0 / (sa.sz + sb.sz - cnt), 6) >= {thr}
    """


def oracle_sql() -> dict[str, str]:
    lang_list = "('en','fr','de','es')"
    resume_checks = f"""
            WITH checks(constraint_id, violation_count) AS (
                SELECT 'text_not_null', count(*) FILTER (WHERE text IS NULL) FROM documents
                UNION ALL
                SELECT 'lang_enum', count(*) FILTER (WHERE lang IS NOT NULL AND lang NOT IN {lang_list}) FROM documents
                UNION ALL
                SELECT 'nchars_range', count(*) FILTER (WHERE n_chars IS NOT NULL AND NOT (n_chars >= 1 AND n_chars <= 350)) FROM documents
                UNION ALL
                SELECT 'text_minlen', count(*) FILTER (WHERE text IS NOT NULL AND NOT (length(text) BETWEEN 10 AND 100000)) FROM documents
                UNION ALL
                SELECT 'source_pattern', count(*) FILTER (WHERE source IS NOT NULL AND NOT regexp_full_match(source, '(?:src[0-9])')) FROM documents
            )
            SELECT constraint_id,
                   CAST(violation_count AS BIGINT) AS violation_count,
                   violation_count = 0 AS passed
            FROM checks
        """
    return {
        "cv_resume_lineage": resume_checks,
        "cv_drift_chi2_by_stat": """
            WITH docs AS (
                SELECT lang, source FROM documents
                WHERE source IS NOT NULL AND lang IS NOT NULL
            ),
            base AS (SELECT source AS cat, count(*) AS b FROM docs GROUP BY source),
            obs AS (SELECT lang, source AS cat, count(*) AS o FROM docs GROUP BY 1, 2),
            n AS (SELECT lang, sum(o) AS n FROM obs GROUP BY lang),
            bt AS (SELECT sum(b) AS bt FROM base),
            spine AS (
                SELECT n.lang, n.n, base.cat, base.b, bt.bt
                FROM n CROSS JOIN base CROSS JOIN bt
            ),
            j AS (
                SELECT s.*, coalesce(o.o, 0) AS o
                FROM spine s LEFT JOIN obs o ON o.lang = s.lang AND o.cat = s.cat
            )
            SELECT lang,
                   round(sum(pow(o - n * b * 1.0 / bt, 2) / (n * b * 1.0 / bt)), 6) AS statistic,
                   CAST(count(*) - 1 AS BIGINT) AS dof
            FROM j GROUP BY lang
        """,
        "cv_drift_ks_stat": _ks_stat_oracle(),
        "cv_drift_ks": _ks_verdict_oracle(),
        "cv_incremental_drift": _incremental_drift_oracle(),
        "emb_knn_pq": _pq_oracle(),
        "cv_metric_anomaly": _metric_anomaly_oracle(),
        "emb_knn_ivfpq": _ivfpq_oracle(),
        "cv_drift_ks_by_stat": _ks_by_stat_oracle(),
        "doc_packing": _packing_oracle(),
        "doc_contamination": _contamination_oracle(),
        "doc_repetition": _repetition_oracle(),
        "doc_quality_flags": _quality_flags_oracle(),
        "cv_incremental_verdicts": _incremental_oracle(),
        "cv_incremental_unique": """
            WITH b AS (
                SELECT doc_id FROM documents WHERE doc_id < 480
                UNION ALL
                SELECT doc_id FROM documents
                WHERE doc_id % 10 = 3 AND doc_id % 20 != 3 AND doc_id < 480
                UNION ALL
                SELECT doc_id FROM documents
                WHERE doc_id % 10 = 7 AND doc_id < 480
            )
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(count(*) AS BIGINT) AS dup_count
            FROM b GROUP BY doc_id HAVING count(*) > 1
        """,
        "cv_fd_violations": """
            -- functional dependency l_partkey -> l_suppkey: one row per
            -- determinant group with >1 distinct non-NULL dependent;
            -- detail replays the engine's n_values + lexicographic
            -- 64-char-prefix min/max evidence
            SELECT CAST(l_partkey AS BIGINT) AS l_partkey,
                   'part_supp_fd' AS constraint_id,
                   'n_values=' || CAST(count(DISTINCT l_suppkey) AS VARCHAR)
                     || ' range=' || min(substr(CAST(l_suppkey AS VARCHAR), 1, 64))
                     || '..' || max(substr(CAST(l_suppkey AS VARCHAR), 1, 64)) AS detail
            FROM lineitem
            GROUP BY l_partkey
            HAVING count(DISTINCT l_suppkey) > 1
        """,
        "cv_ratio_verdicts": """
            -- max_fail_ratio verdict policy replayed in SQL: same
            -- counters, three policies (strict, 5%-tolerant NotNull,
            -- 2%-tolerant Range with NULL-passes semantics)
            WITH a AS (
                SELECT count(*) AS ec,
                       sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS nn_v,
                       sum(CASE WHEN n_chars IS NOT NULL AND n_chars < 1
                                THEN 1 ELSE 0 END) AS rng_v
                FROM documents
            )
            SELECT 'text_nn_strict' AS constraint_id,
                   CAST(nn_v AS BIGINT) AS violation_count,
                   CAST(ec AS BIGINT) AS evaluated_count,
                   nn_v = 0 AS passed FROM a
            UNION ALL
            SELECT 'text_nn_tol5', CAST(nn_v AS BIGINT), CAST(ec AS BIGINT),
                   CAST(nn_v AS DOUBLE) <= 0.05 * ec FROM a
            UNION ALL
            SELECT 'chars_pos_tol2', CAST(rng_v AS BIGINT), CAST(ec AS BIGINT),
                   CAST(rng_v AS DOUBLE) <= 0.02 * ec FROM a
        """,
        "cv_incremental_fk": """
            WITH b AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 17 = 0 THEN 'zz'
                            WHEN doc_id % 19 = 0 THEN 'qq'
                            ELSE lang END AS lang
                FROM documents WHERE doc_id < 480
            ),
            dim AS (SELECT DISTINCT lang FROM documents WHERE lang IS NOT NULL)
            SELECT lang, CAST(count(*) AS BIGINT) AS dangling_rows
            FROM b
            WHERE lang IS NOT NULL AND lang NOT IN (SELECT lang FROM dim)
            GROUP BY lang
        """,
        "doc_dup_components": _dup_components_oracle(),
        "doc_dedup_survivors": _dedup_survivors_oracle(),
        "doc_split_counts": _split_counts_oracle(),
        "doc_stratified_sample": _stratified_sample_oracle(),
        "cv_drift_chi2": _drift_verdict_oracle(),
        "cv_drift_by_lang": _drift_verdict_by_lang_oracle(),
        "doc_langid_ngram": _langid_ngram_oracle(),
        "doc_minhash_dups": _minhash_oracle(),
        "doc_simhash_pairs_md5": _simhash_pairs_oracle(),
        "emb_knn_ivf": _ivf_oracle(),
        "emb_near_dups": _emb_neardup_oracle(),
        "emb_knn_lsh": _lsh_oracle(),
        "emb_knn_lsh_pruned": _lsh_oracle(),
        "cv_verdicts": f"""
            WITH checks(constraint_id, violation_count) AS (
                SELECT 'text_not_null', count(*) FILTER (WHERE text IS NULL) FROM documents
                UNION ALL
                SELECT 'lang_enum', count(*) FILTER (WHERE lang IS NOT NULL AND lang NOT IN {lang_list}) FROM documents
                UNION ALL
                SELECT 'nchars_range', count(*) FILTER (WHERE n_chars IS NOT NULL AND NOT (n_chars >= 1 AND n_chars <= 350)) FROM documents
                UNION ALL
                SELECT 'text_minlen', count(*) FILTER (WHERE text IS NOT NULL AND NOT (length(text) BETWEEN 10 AND 100000)) FROM documents
                UNION ALL
                SELECT 'source_pattern', count(*) FILTER (WHERE source IS NOT NULL AND NOT regexp_full_match(source, '(?:src[0-9])')) FROM documents
            )
            SELECT constraint_id,
                   CAST(violation_count AS BIGINT) AS violation_count,
                   CAST((SELECT count(*) FROM documents) AS BIGINT) AS evaluated_count,
                   violation_count = 0 AS passed
            FROM checks
        """,
        "cv_violations": f"""
            SELECT CAST(doc_id AS BIGINT) AS doc_id, c.constraint_id
            FROM documents, LATERAL (
                SELECT unnest(list_filter([
                    CASE WHEN text IS NULL THEN 'text_not_null' END,
                    CASE WHEN lang IS NOT NULL AND lang NOT IN {lang_list} THEN 'lang_enum' END,
                    CASE WHEN n_chars IS NOT NULL AND NOT (n_chars BETWEEN 1 AND 350) THEN 'nchars_range' END,
                    CASE WHEN text IS NOT NULL AND NOT (length(text) BETWEEN 10 AND 100000) THEN 'text_minlen' END,
                    CASE WHEN source IS NOT NULL AND NOT regexp_full_match(source, '(?:src[0-9])') THEN 'source_pattern' END
                ], x -> x IS NOT NULL)) AS constraint_id
            ) c
        """,
        "cv_stats_sketch": """
            SELECT lang,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(count(*) FILTER (WHERE text IS NULL) AS BIGINT) AS null_texts,
                   CAST(count(DISTINCT source) AS BIGINT) AS distinct_sources,
                   min(n_chars) AS min_chars,
                   max(n_chars) AS max_chars,
                   round(avg(n_chars), 4) AS avg_chars
            FROM documents GROUP BY lang
        """,
        "cv_unique_violations": """
            SELECT CAST(o_custkey AS BIGINT) AS o_custkey, o_orderdate, CAST(count(*) AS BIGINT) AS n
            FROM orders GROUP BY o_custkey, o_orderdate HAVING count(*) > 1
        """,
        "cv_fk_violations": """
            SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, CAST(o_custkey AS BIGINT) AS o_custkey
            FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
        """,
        "cv_cardinality_violations": """
            SELECT CAST(o_custkey AS BIGINT) AS o_custkey, CAST(count(*) AS BIGINT) AS n
            FROM orders GROUP BY o_custkey HAVING count(*) < 5 OR count(*) > 15
        """,
        "cv_dtype_lexical": """
            SELECT CAST(event_id AS BIGINT) AS event_id,
                   (TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) IS NOT NULL
                    OR json_extract_string(props, '$.k') IS NULL) AS k_is_integer
            FROM events
        """,
        "lineitem_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   round(avg(l_discount), 4) AS avg_disc,
                   CAST(count(*) AS BIGINT) AS count_order
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "top_revenue_orders": """
            SELECT CAST(l_orderkey AS BIGINT) AS orderkey, c_name AS customer_name, revenue
            FROM (
                SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
                FROM lineitem GROUP BY l_orderkey
            ) r
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            ORDER BY revenue DESC, orderkey LIMIT 10
        """,
        "events_user_activity": """
            SELECT CAST(user_id AS BIGINT) AS user_id, event_type AS top_event_type,
                   CAST(n AS BIGINT) AS n_events
            FROM (
                SELECT user_id, event_type, count(*) AS n,
                       row_number() OVER (PARTITION BY user_id ORDER BY count(*) DESC, event_type) AS rk
                FROM events GROUP BY user_id, event_type
            ) WHERE rk = 1
        """,
        "doc_token_stats": r"""
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE array_length(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens,
                   CAST(length(text) AS BIGINT) AS n_chars_exact,
                   round(CASE WHEN length(text) > 0
                         THEN length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / length(text)
                         ELSE 0 END, 4) AS alpha_ratio
            FROM documents
        """,
        "doc_fingerprint": r"""
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fingerprint
            FROM documents
        """,
        "doc_exact_dups": r"""
            SELECT sha256(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fingerprint,
                   CAST(count(*) AS BIGINT) AS n_docs
            FROM documents
            GROUP BY 1 HAVING count(*) > 1
        """,
        "doc_quality": r"""
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   round(CASE WHEN length(text) > 0
                         THEN length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / length(text)
                         ELSE 0 END, 4) AS alpha_ratio,
                   round(CASE WHEN length(text) > 0
                         THEN length(regexp_replace(text, '[^[:punct:]]', '', 'g')) * 1.0 / length(text)
                         ELSE 0 END, 4) AS punct_ratio
            FROM documents
        """,
        "doc_stopword_ratio": r"""
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   round(CASE WHEN len(toks) > 0
                         THEN len(list_filter(toks, x -> list_contains(
                              ['the','a','of','and','to','in','is','it','that','for'], x))) * 1.0 / len(toks)
                         ELSE 0 END, 4) AS stopword_ratio
            FROM (
                SELECT doc_id,
                       CASE WHEN length(regexp_replace(text, '\s', '', 'g')) = 0 THEN []
                            ELSE regexp_split_to_array(lower(regexp_replace(regexp_replace(text, '^\s+', ''), '\s+$', '')), '\s+')
                       END AS toks
                FROM documents
            )
        """,
        "doc_ngram_jaccard": rf"""
            WITH docs AS (
                SELECT doc_id, lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS t
                FROM documents WHERE doc_id < 150
            ),
            sh AS (
                SELECT DISTINCT doc_id, substr(t, i, 3) AS s
                FROM docs, LATERAL (SELECT unnest(range(1, length(t) - 1)) AS i)
            ),
            sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
            -- the same doc-frequency cap the Spark inverted index applies
            keep AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= {NGRAM_CAP}),
            shc AS (SELECT sh.doc_id, sh.s FROM sh JOIN keep USING (s)),
            common AS (
                SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS c
                FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT CAST(ia AS BIGINT) AS id_a, CAST(ib AS BIGINT) AS id_b,
                   round(c * 1.0 / (sa.sz + sb.sz - c), 6) AS jaccard
            FROM common
            JOIN sz sa ON sa.doc_id = ia
            JOIN sz sb ON sb.doc_id = ib
            WHERE round(c * 1.0 / (sa.sz + sb.sz - c), 6) >= {NGRAM_THRESHOLD}
        """,
        "cv_cube_drilldown": """
            SELECT lang, source, CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(count(*) FILTER (WHERE text IS NULL) AS BIGINT) AS null_texts,
                   round(avg(n_chars), 4) AS avg_chars,
                   CAST(GROUPING(lang, source) AS BIGINT) AS gid
            FROM documents GROUP BY CUBE(lang, source)
        """,
        "cv_drift_chi2_stat": """
            WITH base AS (
                SELECT lang AS cat, count(*) AS b FROM documents
                WHERE lang IS NOT NULL GROUP BY lang
            ),
            cur AS (
                SELECT 'self' AS scenario, lang FROM documents WHERE lang IS NOT NULL
                UNION ALL
                SELECT 'shift_en_fr', CASE WHEN lang = 'en' THEN 'fr' ELSE lang END
                FROM documents WHERE lang IS NOT NULL
            ),
            obs AS (SELECT scenario, lang AS cat, count(*) AS o FROM cur GROUP BY 1, 2),
            n AS (SELECT scenario, sum(o) AS n FROM obs GROUP BY 1),
            bt AS (SELECT sum(b) AS bt FROM base),
            spine AS (
                SELECT n.scenario, n.n, base.cat, base.b, bt.bt
                FROM n CROSS JOIN base CROSS JOIN bt
            ),
            j AS (
                SELECT s.*, coalesce(o.o, 0) AS o
                FROM spine s LEFT JOIN obs o ON o.scenario = s.scenario AND o.cat = s.cat
            )
            SELECT scenario,
                   round(sum(pow(o - n * b * 1.0 / bt, 2) / (n * b * 1.0 / bt)), 6) AS statistic,
                   CAST(count(*) - 1 AS BIGINT) AS dof
            FROM j GROUP BY scenario
        """,
        "cv_quantile_violations": """
            SELECT lang, 'p90_nchars' AS constraint_id,
                   'q0.9=' || CAST(CAST(round(q, 6) AS DECIMAL(38,6)) AS VARCHAR) AS detail
            FROM (
                SELECT lang, quantile_cont(CAST(n_chars AS DOUBLE), 0.9) AS q
                FROM documents
                WHERE n_chars IS NOT NULL AND lang IS NOT NULL
                GROUP BY lang
            ) WHERE q > 470.0
        """,
        "cv_drift_psi_stat": """
            WITH base AS (
                SELECT lang AS cat, count(*) AS b FROM documents
                WHERE lang IS NOT NULL GROUP BY lang
            ),
            cur AS (
                SELECT 'self' AS scenario, lang FROM documents WHERE lang IS NOT NULL
                UNION ALL
                SELECT 'shift_en_fr', CASE WHEN lang = 'en' THEN 'fr' ELSE lang END
                FROM documents WHERE lang IS NOT NULL
            ),
            obs AS (SELECT scenario, lang AS cat, count(*) AS o FROM cur GROUP BY 1, 2),
            n AS (SELECT scenario, sum(o) AS n FROM obs GROUP BY 1),
            bt AS (SELECT sum(b) AS bt FROM base),
            spine AS (
                SELECT n.scenario, n.n, base.cat, base.b, bt.bt
                FROM n CROSS JOIN base CROSS JOIN bt
            ),
            j AS (
                SELECT s.*, coalesce(o.o, 0) AS o
                FROM spine s LEFT JOIN obs o ON o.scenario = s.scenario AND o.cat = s.cat
            ),
            agg AS (
                SELECT scenario,
                       sum((greatest(o * 1.0 / n, 1e-6) - greatest(b * 1.0 / bt, 1e-6))
                           * ln(greatest(o * 1.0 / n, 1e-6) / greatest(b * 1.0 / bt, 1e-6))) AS psi,
                       count(*) AS n_cats
                FROM j GROUP BY scenario
            )
            SELECT scenario, round(psi, 6) AS psi, CAST(n_cats AS BIGINT) AS n_cats,
                   psi >= 0.25 AS action, psi >= 0.1 AS watch
            FROM agg
        """,
        "media_image_features_png": """
            WITH m AS (SELECT unnest(range(64)) AS id),
            k AS (SELECT unnest(range(32)) AS k),
            g AS (
                SELECT id, k,
                       CASE WHEN id < 32 THEN (
                             ((id*7 + (2*(k//8))*3   + (2*(k%8))*5)   % 256
                            + (id*7 + (2*(k//8))*3   + (2*(k%8)+1)*5) % 256
                            + (id*7 + (2*(k//8)+1)*3 + (2*(k%8))*5)   % 256
                            + (id*7 + (2*(k//8)+1)*3 + (2*(k%8)+1)*5) % 256) / 4.0
                       ) ELSE (0.299 * ((id*7) % 256)
                             + 0.587 * ((id*13) % 256)
                             + 0.114 * ((id*29) % 256))
                       END AS gray
                FROM m CROSS JOIN k
            )
            SELECT CAST(id AS BIGINT) AS media_id, CAST(k AS BIGINT) AS pos,
                   round(CAST(CAST(gray / 255.0 AS FLOAT) AS DOUBLE), 6) AS val
            FROM g
        """,
        "cv_suggested_spec": """
            WITH a AS (
                SELECT count(*) AS n,
                    sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS did_null,
                    count(DISTINCT doc_id) AS did_d,
                    min(doc_id) AS did_min, max(doc_id) AS did_max,
                    sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS txt_null,
                    count(DISTINCT text) AS txt_d,
                    min(length(text)) AS txt_lmin, max(length(text)) AS txt_lmax,
                    sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS lng_null,
                    count(DISTINCT lang) AS lng_d,
                    min(length(lang)) AS lng_lmin, max(length(lang)) AS lng_lmax,
                    sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS src_null,
                    count(DISTINCT source) AS src_d,
                    min(length(source)) AS src_lmin, max(length(source)) AS src_lmax,
                    sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS nc_null,
                    count(DISTINCT n_chars) AS nc_d,
                    min(n_chars) AS nc_min, max(n_chars) AS nc_max,
                    array_to_string(list_sort(list(DISTINCT lang) FILTER (lang IS NOT NULL)), ',') AS lng_vals,
                    array_to_string(list_sort(list(DISTINCT source) FILTER (source IS NOT NULL)), ',') AS src_vals,
                    sum(CASE WHEN regexp_full_match(text, '[0-9a-f]{40}') THEN 1 ELSE 0 END) AS txt_hex,
                    sum(CASE WHEN regexp_full_match(text, '[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}') THEN 1 ELSE 0 END) AS txt_uuid,
                    sum(CASE WHEN regexp_full_match(text, '[0-9]+') THEN 1 ELSE 0 END) AS txt_dig,
                    sum(CASE WHEN regexp_full_match(text, '[a-z]+') THEN 1 ELSE 0 END) AS txt_alp,
                    sum(CASE WHEN regexp_full_match(text, '[a-z][a-z0-9_-]*') THEN 1 ELSE 0 END) AS txt_tok,
                    sum(CASE WHEN regexp_full_match(lang, '[0-9a-f]{40}') THEN 1 ELSE 0 END) AS lng_hex,
                    sum(CASE WHEN regexp_full_match(lang, '[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}') THEN 1 ELSE 0 END) AS lng_uuid,
                    sum(CASE WHEN regexp_full_match(lang, '[0-9]+') THEN 1 ELSE 0 END) AS lng_dig,
                    sum(CASE WHEN regexp_full_match(lang, '[a-z]+') THEN 1 ELSE 0 END) AS lng_alp,
                    sum(CASE WHEN regexp_full_match(lang, '[a-z][a-z0-9_-]*') THEN 1 ELSE 0 END) AS lng_tok,
                    sum(CASE WHEN regexp_full_match(source, '[0-9a-f]{40}') THEN 1 ELSE 0 END) AS src_hex,
                    sum(CASE WHEN regexp_full_match(source, '[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}') THEN 1 ELSE 0 END) AS src_uuid,
                    sum(CASE WHEN regexp_full_match(source, '[0-9]+') THEN 1 ELSE 0 END) AS src_dig,
                    sum(CASE WHEN regexp_full_match(source, '[a-z]+') THEN 1 ELSE 0 END) AS src_alp,
                    sum(CASE WHEN regexp_full_match(source, '[a-z][a-z0-9_-]*') THEN 1 ELSE 0 END) AS src_tok
                FROM documents
            )
            SELECT 'doc_id' AS col_name, 'not_null' AS kind, '' AS detail FROM a WHERE n > 0 AND did_null = 0
            UNION ALL SELECT 'doc_id', 'range', CAST(did_min AS VARCHAR) || '..' || CAST(did_max AS VARCHAR) FROM a WHERE did_min IS NOT NULL
            UNION ALL SELECT 'doc_id', 'unique', '' FROM a WHERE n > 0 AND did_null = 0 AND did_d = n
            UNION ALL SELECT 'text', 'not_null', '' FROM a WHERE n > 0 AND txt_null = 0
            UNION ALL SELECT 'text', 'length', CAST(txt_lmin AS VARCHAR) || '..' || CAST(txt_lmax AS VARCHAR) FROM a WHERE txt_lmin IS NOT NULL
            UNION ALL SELECT 'text', 'pattern',
                CASE WHEN txt_hex = n - txt_null THEN '[0-9a-f]{40}'
                     WHEN txt_uuid = n - txt_null THEN '[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}'
                     WHEN txt_dig = n - txt_null THEN '[0-9]+'
                     WHEN txt_alp = n - txt_null THEN '[a-z]+'
                     WHEN txt_tok = n - txt_null THEN '[a-z][a-z0-9_-]*' END
                FROM a WHERE n - txt_null > 0 AND greatest(txt_hex, txt_uuid, txt_dig, txt_alp, txt_tok) = n - txt_null
            UNION ALL SELECT 'text', 'unique', '' FROM a WHERE n > 0 AND txt_null = 0 AND txt_d = n
            UNION ALL SELECT 'lang', 'not_null', '' FROM a WHERE n > 0 AND lng_null = 0
            UNION ALL SELECT 'lang', 'enum', lng_vals FROM a WHERE lng_d BETWEEN 2 AND 24
            UNION ALL SELECT 'lang', 'constant', lng_vals FROM a WHERE lng_d = 1
            UNION ALL SELECT 'lang', 'length', CAST(lng_lmin AS VARCHAR) || '..' || CAST(lng_lmax AS VARCHAR) FROM a WHERE lng_lmin IS NOT NULL
            UNION ALL SELECT 'lang', 'pattern',
                CASE WHEN lng_hex = n - lng_null THEN '[0-9a-f]{40}'
                     WHEN lng_uuid = n - lng_null THEN '[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}'
                     WHEN lng_dig = n - lng_null THEN '[0-9]+'
                     WHEN lng_alp = n - lng_null THEN '[a-z]+'
                     WHEN lng_tok = n - lng_null THEN '[a-z][a-z0-9_-]*' END
                FROM a WHERE n - lng_null > 0 AND greatest(lng_hex, lng_uuid, lng_dig, lng_alp, lng_tok) = n - lng_null
            UNION ALL SELECT 'lang', 'unique', '' FROM a WHERE n > 0 AND lng_null = 0 AND lng_d = n
            UNION ALL SELECT 'source', 'not_null', '' FROM a WHERE n > 0 AND src_null = 0
            UNION ALL SELECT 'source', 'enum', src_vals FROM a WHERE src_d BETWEEN 2 AND 24
            UNION ALL SELECT 'source', 'constant', src_vals FROM a WHERE src_d = 1
            UNION ALL SELECT 'source', 'length', CAST(src_lmin AS VARCHAR) || '..' || CAST(src_lmax AS VARCHAR) FROM a WHERE src_lmin IS NOT NULL
            UNION ALL SELECT 'source', 'pattern',
                CASE WHEN src_hex = n - src_null THEN '[0-9a-f]{40}'
                     WHEN src_uuid = n - src_null THEN '[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}'
                     WHEN src_dig = n - src_null THEN '[0-9]+'
                     WHEN src_alp = n - src_null THEN '[a-z]+'
                     WHEN src_tok = n - src_null THEN '[a-z][a-z0-9_-]*' END
                FROM a WHERE n - src_null > 0 AND greatest(src_hex, src_uuid, src_dig, src_alp, src_tok) = n - src_null
            UNION ALL SELECT 'source', 'unique', '' FROM a WHERE n > 0 AND src_null = 0 AND src_d = n
            UNION ALL SELECT 'n_chars', 'not_null', '' FROM a WHERE n > 0 AND nc_null = 0
            UNION ALL SELECT 'n_chars', 'range', CAST(nc_min AS VARCHAR) || '..' || CAST(nc_max AS VARCHAR) FROM a WHERE nc_min IS NOT NULL
            UNION ALL SELECT 'n_chars', 'unique', '' FROM a WHERE n > 0 AND nc_null = 0 AND nc_d = n
        """,
        "doc_pii_redaction": """
            WITH injected AS (
                SELECT doc_id,
                       text
                       || CASE WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END
                       || CASE WHEN doc_id % 11 = 0 THEN ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' on file' ELSE '' END
                       || CASE WHEN doc_id % 13 = 0 THEN ' call 555-01' || CAST(doc_id % 10 AS VARCHAR) || '-4567 today' ELSE '' END
                       || CASE WHEN doc_id % 17 = 0 THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.5 net' ELSE '' END
                       AS t
                FROM documents WHERE text IS NOT NULL
            ),
            counted AS (
                SELECT doc_id, t,
                       len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_email,
                       len(regexp_extract_all(t, '\\b\\d{3}-\\d{2}-\\d{4}\\b')) AS n_ssn,
                       len(regexp_extract_all(t, '(?:\\+\\d{1,2}[-. ])?\\(?\\d{3}\\)?[-. ]\\d{3}[-. ]\\d{4}\\b')) AS n_phone,
                       len(regexp_extract_all(t, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS n_ipv4
                FROM injected
            )
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(n_email AS BIGINT) AS n_email,
                   CAST(n_ssn AS BIGINT) AS n_ssn,
                   CAST(n_phone AS BIGINT) AS n_phone,
                   CAST(n_ipv4 AS BIGINT) AS n_ipv4,
                   CAST(n_email + n_ssn + n_phone + n_ipv4 AS BIGINT) AS n_pii,
                   md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                       '\\b\\d{3}-\\d{2}-\\d{4}\\b', '<SSN>', 'g'),
                       '(?:\\+\\d{1,2}[-. ])?\\(?\\d{3}\\)?[-. ]\\d{3}[-. ]\\d{4}\\b', '<PHONE>', 'g'),
                       '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g')) AS redacted_md5
            FROM counted
        """,
        "media_image_features_jpeg": """
            WITH m AS (SELECT unnest(range(64)) AS id),
            k AS (SELECT unnest(range(32)) AS k),
            g AS (
                -- thumbnail cell k of the 32x16 image: 4x4 pixel
                -- patch, fully inside 8x8 block (row k//8//2, col
                -- (k%8)//2) of the 4-blocks-wide grid; constant-block
                -- grayscale JPEG at unit quant decodes bit-exactly to
                -- the synthesis formula
                SELECT id, k,
                       (id*17 + ((k//8)//2 * 4 + (k%8)//2) * 37) % 256 AS gray
                FROM m CROSS JOIN k
            )
            SELECT CAST(id AS BIGINT) AS media_id, CAST(k AS BIGINT) AS pos,
                   round(CAST(CAST(gray / 255.0 AS FLOAT) AS DOUBLE), 6) AS val
            FROM g
        """,
        "media_image_features_ppm": """
            SELECT CAST(i AS BIGINT) AS media_id,
                   CAST(32 AS BIGINT) AS feature_dim,
                   CAST(1 AS BIGINT) AS n_distinct_vals,
                   round(CAST(CAST((0.299 * ((i * 7) % 256)
                                  + 0.587 * ((i * 13) % 256)
                                  + 0.114 * ((i * 29) % 256)) / 255.0 AS FLOAT)
                              AS DOUBLE), 6) AS f_const
            FROM (SELECT unnest(range(64)) AS i)
        """,
        "media_audio_frames_wav": """
            WITH m AS (SELECT unnest(range(40)) AS i),
            f AS (SELECT unnest(range(2)) AS frame_idx)
            SELECT CAST(i AS BIGINT) AS media_id,
                   CAST(frame_idx AS BIGINT) AS frame_idx,
                   CAST(frame_idx * 250 AS BIGINT) AS start_ms,
                   round(CAST(CAST(((i % 15) + 1) / 16.0 AS FLOAT) AS DOUBLE), 6) AS rms,
                   round(CAST(CAST(249.0 / 1999.0 AS FLOAT) AS DOUBLE), 6) AS zcr
            FROM m CROSS JOIN f
        """,
        "media_video_frames_mjpg": """
            -- replay of the real MJPEG/AVI decode: 40 videos x 4
            -- sampled frames x 32 thumbnail cells. duration = 500 ms
            -- (5 frames at 10 fps); sampled ts = 500*(2k+1)//8; the
            -- constant-frame-rate seek picks container frame
            -- cf = ts*1000 // 100000; thumbnail cell pos (4x8 grid
            -- over the 16x8 frame) sits inside 8x8 block (pos%8)//4;
            -- constant-block grayscale at unit quant decodes
            -- bit-exactly to the synthesis formula
            WITH m AS (SELECT unnest(range(40)) AS i),
            fr AS (SELECT unnest(range(4)) AS k),
            p AS (SELECT unnest(range(32)) AS pos),
            g AS (
                SELECT i, k, pos,
                       500 * (2 * k + 1) // 8 AS ts_ms,
                       (500 * (2 * k + 1) // 8) * 1000 // 100000 AS cf
                FROM m CROSS JOIN fr CROSS JOIN p
            )
            SELECT CAST(i AS BIGINT) AS media_id,
                   CAST(k AS BIGINT) AS frame_idx,
                   CAST(ts_ms AS BIGINT) AS ts_ms,
                   CAST(pos AS BIGINT) AS pos,
                   round(CAST(CAST(((i*17 + cf*53 + ((pos % 8) // 4) * 37) % 256) / 255.0
                                   AS FLOAT) AS DOUBLE), 6) AS val
            FROM g
        """,
        "media_video_frame_index": """
            WITH m AS (
                SELECT i AS media_id,
                       (['image', 'audio', 'video'])[(i % 3) + 1] AS kind,
                       i * 33 AS duration_ms
                FROM (SELECT unnest(range(300)) AS i)
            ),
            f AS (SELECT unnest(range(4)) AS frame_idx)
            SELECT CAST(media_id AS BIGINT) AS media_id,
                   CAST(frame_idx AS BIGINT) AS frame_idx,
                   CAST(duration_ms * (2 * frame_idx + 1) // 8 AS BIGINT) AS ts_ms,
                   CAST(32 AS BIGINT) AS feature_dim
            FROM m CROSS JOIN f WHERE kind = 'video'
        """,
        "doc_top_terms": r"""
            WITH toks AS (
                SELECT lang, unnest(
                    CASE WHEN length(regexp_replace(text, '\s', '', 'g')) = 0 THEN []
                         ELSE regexp_split_to_array(
                              lower(regexp_replace(regexp_replace(text, '^\s+', ''), '\s+$', '')), '\s+')
                    END) AS term
                FROM documents WHERE lang IS NOT NULL AND text IS NOT NULL
            ),
            c AS (SELECT lang, term, count(*) AS n FROM toks GROUP BY 1, 2),
            r AS (
                SELECT lang, term, n,
                       row_number() OVER (PARTITION BY lang ORDER BY n DESC, term ASC) AS rank
                FROM c
            )
            SELECT lang, term, CAST(n AS BIGINT) AS n, CAST(rank AS BIGINT) AS rank
            FROM r WHERE rank <= 5
        """,
        "doc_simhash": r"""
            WITH toks AS (
                SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
                FROM documents WHERE doc_id < 300 AND text IS NOT NULL
            ),
            bits AS (
                SELECT doc_id, j.j AS j,
                       sum(CASE WHEN ((strpos('0123456789abcdef', substr(md5(t), 1 + j.j // 4, 1)) - 1)
                                      >> (j.j % 4)) & 1 = 1
                                THEN 1 ELSE -1 END) AS vote
                FROM toks, (SELECT unnest(range(0, 32)) AS j) j
                GROUP BY doc_id, j.j
            )
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(sum(CASE WHEN vote > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS simhash32
            FROM bits GROUP BY doc_id
        """,
        "doc_langid": r"""
            WITH base AS (
                SELECT doc_id,
                       CASE WHEN length(regexp_replace(text, '\s', '', 'g')) = 0 THEN []
                            ELSE regexp_split_to_array(lower(regexp_replace(regexp_replace(text, '^\s+', ''), '\s+$', '')), '\s+')
                       END AS toks
                FROM documents
            ),
            hits AS (
                SELECT doc_id,
                       len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','it','that','for'], x))) AS en,
                       len(list_filter(toks, x -> list_contains(['le','la','de','et','les','des','un','une','du','est'], x))) AS fr,
                       len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','von','den','mit','für','auf'], x))) AS de,
                       len(list_filter(toks, x -> list_contains(['el','la','de','que','y','los','las','un','una','es'], x))) AS es
                FROM base
            )
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CASE WHEN greatest(en, fr, de, es) >= 1 THEN
                       -- argmax with the same tie-break as Spark's struct
                       -- array_max: max hits, then lexicographically
                       -- largest lang (fr > es > en > de)
                       CASE greatest(en, fr, de, es)
                           WHEN fr THEN 'fr' WHEN es THEN 'es'
                           WHEN en THEN 'en' ELSE 'de' END
                   ELSE 'unknown' END AS lang_detected
            FROM hits
        """,
        "events_sessionization": """
            SELECT CAST(user_id AS BIGINT) AS user_id,
                   CAST(sum(new_session) AS BIGINT) AS n_sessions,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM (
                SELECT user_id,
                       CASE WHEN lag(ts) OVER w IS NULL
                              OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                            THEN 1 ELSE 0 END AS new_session
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            )
            GROUP BY user_id
        """,
        "brand_revenue": """
            SELECT p_brand,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   CAST(count(*) AS BIGINT) AS n_lines
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY p_brand
        """,
        "cv_composite_violations": """
            SELECT CAST(doc_id AS BIGINT) AS doc_id, c.constraint_id
            FROM documents, LATERAL (
                SELECT unnest(list_filter([
                    CASE WHEN NOT ((text IS NULL OR length(text) BETWEEN 150 AND 100000)
                               AND (source IS NULL OR regexp_full_match(source, '(?:src[0-9]+)')))
                         THEN 'all_len_and_src' END,
                    CASE WHEN NOT ((lang IS NULL OR lang IN ('en'))
                                OR (lang IS NULL OR lang IN ('fr','de','es')))
                         THEN 'any_lang' END
                ], x -> x IS NOT NULL)) AS constraint_id
            ) c
        """,
        "emb_knn_brute": """
            SELECT CAST(e.vec_id AS BIGINT) AS vec_id,
                   round(round(list_cosine_similarity(e.embedding, q.embedding), 6), 4) AS score
            FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
            ORDER BY round(list_cosine_similarity(e.embedding, q.embedding), 6) DESC, e.vec_id
            LIMIT 10
        """,
    }
