"""Structured Streaming validation: file-source stream -> memory sink
with availableNow, verdicts must match the batch engine on the same
data; watermark drops late rows."""

import pytest
from pyspark.sql import functions as F

from xsd2json_spark.engine.validate import ValidationEngine
from xsd2json_spark.sources.synth import files_table, repos_dim
from xsd2json_spark.spec.constraints import Enum, ForeignKey, NotNull, Spec
from xsd2json_spark.streaming.validate_stream import (
    stream_fk_violations,
    stream_violations,
    stream_windowed_verdicts,
)

SPEC = Spec(
    name="stream_t",
    key_columns=["repo", "path", "commit"],
    constraints=[
        NotNull(id="nn", column="content"),
        Enum(id="en", column="lang", values=["python", "java", "scala", "go", "js", "sql"]),
    ],
)


@pytest.fixture(scope="module")
def staged(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("stream_src") / "files")
    df = files_table(spark, n_rows=3000).withColumn(
        # deterministic event time spread over 10 minutes
        "ts",
        F.timestamp_seconds(F.lit(1699999800) + F.pmod(F.xxhash64("path"), F.lit(600))),
    )
    df.write.parquet(p)
    return p, df


def _run_stream(spark, sdf, name):
    q = sdf.writeStream.format("memory").queryName(name).outputMode("append").trigger(availableNow=True).start()
    q.awaitTermination(120)
    return spark.table(name)


def test_stream_violations_match_batch(spark, staged):
    path, df = staged
    schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(schema).parquet(path)
    out = _run_stream(spark, stream_violations(stream, SPEC), "viol_stream")
    batch = ValidationEngine(spark, SPEC).run(spark.read.parquet(path))
    b = batch.violations.select("repo", "path", "commit", "constraint_id")
    s = out.select("repo", "path", "commit", "constraint_id")
    assert s.exceptAll(b).count() == 0 and b.exceptAll(s).count() == 0
    assert s.count() > 0


def test_stream_windowed_verdicts(spark, staged):
    path, df = staged
    schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(schema).parquet(path)
    sdf = stream_windowed_verdicts(stream, SPEC, time_col="ts", window="5 minutes", watermark="10 minutes")
    # complete mode: availableNow emits ALL windows at termination
    # (append would hold back windows the watermark hasn't closed)
    q = (
        sdf.writeStream.format("memory").queryName("verd_stream")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = spark.table("verd_stream").collect()
    # 10-minute spread over 5-minute windows -> 2 windows
    assert len(rows) == 2
    total_eval = sum(r["evaluated_count"] for r in rows)
    assert total_eval == 3000
    total_nn = sum(r["viol__nn"] for r in rows)
    batch_nn = spark.read.parquet(path).filter(F.col("content").isNull()).count()
    assert total_nn == batch_nn


def test_stream_fk_violations(spark, staged):
    path, df = staged
    schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(schema).parquet(path)
    fk = ForeignKey(id="fk", columns=["repo"], ref_table="repos_dim", ref_columns=["repo"])
    out = _run_stream(spark, stream_fk_violations(stream, fk, repos_dim(spark)), "fk_stream")
    batch_n = (
        spark.read.parquet(path)
        .join(repos_dim(spark).select("repo"), "repo", "left_anti")
        .count()
    )
    assert out.count() == batch_n
    assert out.count() > 0


def test_stream_drift_per_group(spark, tmp_path):
    """Streaming per-group drift: stateful watermarked category counts
    -> stateless chi-square verdict view. Only the (shifted window,
    shifted group) cell fails; statistics equal an in-test Pearson
    oracle over the same slice and the per-group baseline."""
    from collections import Counter
    import math

    from xsd2json_spark.engine.drift import drift_verdicts_over_counts, make_categorical_baseline_df
    from xsd2json_spark.spec.constraints import Drift
    from xsd2json_spark.streaming.validate_stream import stream_category_counts

    t0 = 1_700_000_000
    base = spark.range(8000).select(
        (F.col("id") % 2).alias("w"),
        F.when((F.col("id") / 2).cast("long") % 2 == 0, "g1").otherwise("g2").alias("g"),
        F.when(F.col("id") % 5 < 3, "x").otherwise("y").alias("cat"),
        F.timestamp_seconds(F.lit(t0) + (F.col("id") % 2) * 600 + F.col("id") % 100).alias("ts"),
    )
    # shift ONLY (window 1, g2): swap x -> y
    data = base.withColumn(
        "cat",
        F.when((F.col("w") == 1) & (F.col("g") == "g2") & (F.col("cat") == "x"), "y").otherwise(
            F.col("cat")
        ),
    ).drop("w")
    src = str(tmp_path / "drift_src")
    data.write.parquet(src)

    baseline = make_categorical_baseline_df(base.drop("w"), "cat", group_by=["g"])
    c = Drift(id="d", column="cat", test="chi2", baseline="b", alpha=0.01, group_by=["g"])
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    counts = stream_category_counts(stream, c, time_col="ts", window="5 minutes", watermark="10 minutes")
    q = (
        counts.writeStream.format("memory").queryName("drift_counts")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    counter_table = spark.table("drift_counts")

    verd = drift_verdicts_over_counts(
        counter_table, "cat", baseline, group_by=["g"], alpha=0.01
    ).withColumn("ws", F.unix_timestamp(F.col("window.start")))
    rows = {(r["ws"] >= t0 + 300, r["g"]): r for r in verd.collect()}
    # 2 windows x 2 groups; window key True = the shifted (later) window
    assert len(rows) == 4
    assert rows[(False, "g1")]["passed"] and rows[(False, "g2")]["passed"]
    assert rows[(True, "g1")]["passed"] and not rows[(True, "g2")]["passed"]

    # oracle: Pearson sum_cat (o - e)^2 / e per group on the later
    # slice, e = n * b_cat / b_total from the group's baseline counts
    later = data.filter(F.unix_timestamp("ts") >= t0 + 600).select("g", "cat").collect()
    base_counts = {(r["g"], r["cat"]): r["n"] for r in baseline.collect()}
    for g in ("g1", "g2"):
        obs = Counter(r["cat"] for r in later if r["g"] == g)
        b = {cat: n for (bg, cat), n in base_counts.items() if bg == g}
        n, bt = sum(obs.values()), sum(b.values())
        want = sum((obs[cat] - n * bn / bt) ** 2 / (n * bn / bt) for cat, bn in b.items())
        assert math.isclose(rows[(True, g)]["statistic"], want, rel_tol=1e-9)


def test_stream_unique_violations_cross_batch(spark, tmp_path):
    """Per-key state must survive micro-batch boundaries: r2 appears
    once in file 1 and twice in file 2 — a window/batch-local dedup
    would report 1 duplicate, the stateful operator must report 2. Sum
    of dup_count over the whole stream equals the batch engine's
    count-1 per duplicated key, regardless of file processing order."""
    from xsd2json_spark.spec.constraints import Unique
    from xsd2json_spark.streaming.validate_stream import stream_unique_violations

    d = str(tmp_path / "usrc")
    schema = "repo string, path string, commit string"
    b1 = [("r1", "a", "c1"), ("r1", "a", "c1"), ("r2", "b", "c2"), ("r3", "x", "c3")]
    b2 = [("r2", "b", "c2"), ("r2", "b", "c2"), ("r4", "y", "c4")]
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(d)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(d)

    c = Unique(id="uq", columns=["repo", "path", "commit"])
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # one file per micro-batch -> state must carry over
        .parquet(d)
    )
    out = stream_unique_violations(stream, c)
    q = (
        out.writeStream.format("memory").queryName("uniq_stream")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = spark.table("uniq_stream").collect()
    dup_by_key = {}
    for r in rows:
        dup_by_key[(r["repo"], r["path"], r["commit"])] = (
            dup_by_key.get((r["repo"], r["path"], r["commit"]), 0) + r["dup_count"]
        )
    # batch ground truth: count-1 per duplicated key
    assert dup_by_key == {("r1", "a", "c1"): 1, ("r2", "b", "c2"): 2}
    # cross-batch: r2's duplicates span two files; total_seen reaches 3
    assert max(r["total_seen"] for r in rows if r["repo"] == "r2") == 3
    assert all(r["constraint_id"] == "uq" for r in rows)


def test_stream_unique_violations_ttl_expires_idle_keys(spark, tmp_path):
    """ttl arms ProcessingTimeTimeout: with a tiny TTL and a wall-clock
    pause between micro-batches, an idle key's state is removed, so a
    later duplicate counts as a fresh first occurrence (dup_count for
    r1 stays 1 from batch 1 — batch 3's second r1 pair starts over).
    Without the fix the ttl parameter silently never armed a timeout
    and state grew forever."""
    import time as _time

    from xsd2json_spark.spec.constraints import Unique
    from xsd2json_spark.streaming.validate_stream import stream_unique_violations

    d = str(tmp_path / "ttlsrc")
    schema = "repo string, path string, commit string"
    c = Unique(id="uq", columns=["repo", "path", "commit"])
    spark.createDataFrame(
        [("r1", "a", "c1"), ("r1", "a", "c1")], schema
    ).coalesce(1).write.mode("append").parquet(d)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    out = stream_unique_violations(stream, c, ttl="1 milliseconds")
    q = (
        out.writeStream.format("memory").queryName("uniq_ttl")
        .outputMode("append").trigger(processingTime="1 seconds").start()
    )
    try:
        deadline = _time.time() + 60
        while spark.table("uniq_ttl").count() < 1 and _time.time() < deadline:
            _time.sleep(0.5)
        _time.sleep(3)  # > ttl: r1's state must expire between batches
        spark.createDataFrame(
            [("r1", "a", "c1")], schema
        ).coalesce(1).write.mode("append").parquet(d)
        deadline = _time.time() + 60
        while _time.time() < deadline:
            rows = spark.table("uniq_ttl").collect()
            if rows:
                break
            _time.sleep(0.5)
        _time.sleep(5)  # allow the post-expiry batch to process
        rows = spark.table("uniq_ttl").collect()
    finally:
        q.stop()
    # batch 1 reported the within-batch duplicate; the post-TTL arrival
    # found NO surviving state, so it is a first occurrence -> no new row
    assert [(r["repo"], r["dup_count"], r["total_seen"]) for r in rows] == [("r1", 1, 2)]


def test_stream_session_counts_match_batch_gaps(spark, tmp_path):
    """Session windows on a stream must close to EXACTLY the batch
    gaps-and-islands sessions: deterministic per-user event times with
    known gaps, a far-future sentinel event pushes the watermark past
    every real session so append mode emits all of them."""
    import datetime as dt

    from xsd2json_spark.streaming.validate_stream import stream_session_counts

    base = dt.datetime(2023, 11, 14, 12, 0, 0)
    rows = []
    # user 1: two sessions (gap 301s splits), user 2: one session
    for off in (0, 100, 200, 501 + 200, 501 + 300):
        rows.append((1, base + dt.timedelta(seconds=off)))
    for off in (0, 250, 500):
        rows.append((2, base + dt.timedelta(seconds=off)))
    rows.append((999, base + dt.timedelta(days=1)))  # watermark sentinel
    d = str(tmp_path / "sess_src")
    spark.createDataFrame(rows, "user_id long, ts timestamp").coalesce(1).write.parquet(d)

    stream = spark.readStream.schema("user_id long, ts timestamp").parquet(d)
    out = stream_session_counts(stream, "ts", gap="300 seconds", watermark="0 seconds")
    q = (
        out.writeStream.format("memory").queryName("sess_stream")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["session_start"], r["n_events"])
        for r in spark.table("sess_stream").collect()
    }
    expected = {
        (1, base, 3),                                  # 0,100,200
        (1, base + dt.timedelta(seconds=701), 2),      # 701, 801
        (2, base, 3),                                  # 0,250,500 (each gap <= 300)
    }
    assert expected <= got
    # nothing unexpected for the real users
    assert {g for g in got if g[0] != 999} == expected


def test_stream_ks_drift_bins(spark, tmp_path):
    """Streaming KS drift: watermarked bin counts + the stateless
    in-plan verdict view. Only the later window's values shift, so its
    verdict fails while the first window's passes; the streamed D
    equals the numpy grid-ECDF oracle on the same slice."""
    from xsd2json_spark.engine.drift import ks_verdicts_over_bins, make_numeric_baseline
    import math

    import numpy as np

    from xsd2json_spark.spec.constraints import Drift
    from xsd2json_spark.streaming.validate_stream import stream_bin_counts

    t0 = 1_700_000_000
    base = spark.range(6000).select(
        (F.col("id") % 100).cast("double").alias("x"),
        F.timestamp_seconds(F.lit(t0) + (F.col("id") % 2) * 600 + F.col("id") % 100).alias("ts"),
    )
    # shift ONLY the later window's values far upward
    data = base.withColumn(
        "x",
        F.when(F.unix_timestamp("ts") >= t0 + 600, F.col("x") + 500.0).otherwise(F.col("x")),
    )
    src = str(tmp_path / "ks_src")
    data.write.parquet(src)

    baseline = make_numeric_baseline(base, "x")
    c = Drift(id="ks", column="x", test="ks", baseline="b", alpha=0.01)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    counts = stream_bin_counts(stream, c, baseline, time_col="ts",
                               window="5 minutes", watermark="10 minutes")
    q = (
        counts.writeStream.format("memory").queryName("ks_bins")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)

    verd = ks_verdicts_over_bins(
        spark.table("ks_bins"), baseline, alpha=0.01
    ).withColumn("ws", F.unix_timestamp(F.col("window.start")))
    rows = {r["ws"] >= t0 + 300: r for r in verd.collect()}
    assert len(rows) == 2
    assert rows[False]["passed"] and not rows[True]["passed"]

    # oracle on the drifted slice: max_i |mean(v <= grid[i]) - ecdf[i]|
    later = np.array([r["x"] for r in data.filter(F.unix_timestamp("ts") >= t0 + 600).collect()])
    want = max(abs((later <= q).mean() - e) for q, e in zip(baseline["grid"], baseline["ecdf"]))
    assert math.isclose(rows[True]["d_statistic"], want, rel_tol=1e-9)
    assert rows[True]["n_cur"] == len(later)


def test_stream_ks_drift_per_group(spark, tmp_path):
    """Streaming per-group KS drift: the per-group bin state per window
    read by ks_verdicts_over_bins(group_by=...), each group against its
    own baseline grid. Only the (later window, g2) cell drifts; a group
    the baseline lacks (g3) fails in the window it shows up in, and a
    baseline group with no rows in a window (g2 in the first) fails
    there, its group column NULL and named by group_key."""
    import numpy as np

    from xsd2json_spark.engine.drift import ks_verdicts_over_bins, make_numeric_baseline
    from xsd2json_spark.spec.constraints import Drift
    from xsd2json_spark.streaming.validate_stream import stream_bin_counts

    t0 = 1_700_000_000
    base = spark.range(4000).select(
        F.when(F.col("id") % 2 == 0, "g1").otherwise("g2").alias("g"),
        (F.col("id") % 100).cast("double").alias("x"),
    )
    later = F.lit(t0 + 600) + F.col("id")
    rows = (
        # first window: g1 only; later window: g1 as baselined, g2 shifted, plus g3
        base.filter("g = 'g1'").withColumn("ts", F.timestamp_seconds(F.lit(t0) + F.col("x")))
        .unionByName(base.withColumn("ts", F.timestamp_seconds(F.lit(t0 + 600) + F.col("x")))
                     .withColumn("x", F.when(F.col("g") == "g2", F.col("x") + 50.0).otherwise(F.col("x"))))
        .unionByName(spark.range(30).select(F.lit("g3").alias("g"), F.col("id").cast("double").alias("x"),
                                            F.timestamp_seconds(later).alias("ts")))
    )
    src = str(tmp_path / "ks_by_src")
    rows.write.parquet(src)

    baseline = make_numeric_baseline(base, "x", group_by=["g"])
    c = Drift(id="ksg", column="x", test="ks", baseline="b", alpha=0.01, group_by=["g"])
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    counts = stream_bin_counts(stream, c, baseline, time_col="ts", window="5 minutes", watermark="10 minutes")
    q = (
        counts.writeStream.format("memory").queryName("ks_by_bins")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)

    verd = ks_verdicts_over_bins(
        spark.table("ks_by_bins"), baseline, alpha=0.01, group_by=["g"]
    ).withColumn("ws", F.unix_timestamp(F.col("window.start")))
    got = {(r["ws"] >= t0 + 300, r["group_key"]): r for r in verd.collect()}
    assert {k: r["passed"] for k, r in got.items()} == {
        (False, "g1"): True, (False, "g2"): False,
        (True, "g1"): True, (True, "g2"): False, (True, "g3"): False,
    }
    # the drifted cell's D equals the numpy oracle against g2's own grid
    g2 = baseline["groups"]["g2"]
    v = np.array([r["x"] for r in rows.filter("g = 'g2'").collect()])
    want = max(abs((v <= q).mean() - e) for q, e in zip(g2["grid"], g2["ecdf"]))
    assert got[(True, "g2")]["d_statistic"] == want and got[(True, "g2")]["n_cur"] == len(v)
    assert got[(False, "g2")]["n_cur"] is None and got[(False, "g2")]["g"] is None
