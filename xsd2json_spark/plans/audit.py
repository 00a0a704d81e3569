"""Checkpoint-resumable validation runs with per-partition lineage
(north_rule: "resumable from checkpoint with per-partition lineage +
metrics persisted to an Iceberg audit table").

Work is split into ``n_buckets`` lineage buckets by a deterministic hash
of a bucket column (default: the first key column, e.g. ``repo``). Each
bucket is validated independently; its verdict/violation outputs land in
the audit store partitioned by bucket, and a manifest row
(run_id, bucket, status, violation counts) marks completion. A resumed
run reads the manifest and skips completed buckets, so a run killed
after bucket k re-processes only buckets > k.

Scale contract (one input scan, not one per bucket):

1. The input is materialized ONCE into ``<audit_dir>/staging/`` as
   parquet partitioned by ``__bucket`` (``repartition(__bucket)`` +
   ``partitionBy``) — a single read + write of the fact table. On
   resume the staging layout already exists (checked via the parquet
   ``_SUCCESS`` marker) and is reused with ZERO additional input scans.
   When the source table is already bucket-partitioned (e.g. an Iceberg
   table partitioned by ``bucket(N, repo)``), pass
   ``staged_input_path`` and the staging write is skipped entirely.
2. Each bucket's evaluation reads only its partition directory
   (partition pruning — ``PartitionFilters: [__bucket = b]``), so the
   whole run reads each input byte O(1) times instead of O(n_buckets).
3. Manifest metrics (n_rows, n_violations) are DERIVED from the
   engine's verdict rows (already computed, tiny) — no extra ``count()``
   actions over the data.

Crash-safety: bucket commits are idempotent. Verdicts/violations are
written with dynamic partition overwrite on ``bucket=N`` — if a crash
lands between the data write and the manifest append, the resumed run
re-processes the bucket and OVERWRITES its partition instead of
appending a second copy, so ``global_verdicts()`` never double-counts.

Drift semantics: distribution-drift constraints are excluded from the
per-bucket loop (per-bucket drift would run n_buckets lower-powered
tests against the full baseline — not equal to a single-shot run) and
evaluated ONCE globally after all data buckets complete, recorded under
the reserved lineage bucket ``-1``.

Storage: parquet directories by default; an Iceberg catalog table works
by passing format="iceberg" when the runtime has the Iceberg jars (this
sandbox does not — the layout is identical either way:
  <audit_dir>/staging/__bucket=N/   bucket-partitioned input copy
  <audit_dir>/manifest/             run_id, bucket, status, metrics
  <audit_dir>/verdicts/bucket=N/
  <audit_dir>/violations/bucket=N/
"""

from __future__ import annotations

import dataclasses
import os
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xsd2json_spark.engine.validate import VERDICT_SCHEMA, ValidationEngine, verdict_passed
from xsd2json_spark.sources import fsutil
from xsd2json_spark.spec.constraints import Drift

MANIFEST_SCHEMA = (
    "run_id string, bucket int, status string, n_violations long, n_rows long"
)
DRIFT_BUCKET = -1  # reserved lineage bucket for the single global drift pass


@contextmanager
def _dynamic_partition_overwrite(spark):
    key = "spark.sql.sources.partitionOverwriteMode"
    old = spark.conf.get(key, "static")
    spark.conf.set(key, "dynamic")
    try:
        yield
    finally:
        spark.conf.set(key, old)


@dataclass
class ResumableRunner:
    engine: ValidationEngine
    audit_dir: str
    run_id: str
    n_buckets: int = 16
    bucket_column: Optional[str] = None
    #: path to an ALREADY bucket-partitioned copy of the input (directory
    #: layout __bucket=N/); skips the staging write — the Iceberg
    #: bucket-partitioned-table fast path.
    staged_input_path: Optional[str] = None

    def _bucket_expr(self):
        col = self.bucket_column or (self.engine.spec.key_columns or ["*"])[0]
        return F.pmod(F.abs(F.xxhash64(F.col(col))), F.lit(self.n_buckets)).cast("int")

    @property
    def _manifest_path(self):
        return os.path.join(self.audit_dir, "manifest")

    @property
    def _staging_path(self):
        return self.staged_input_path or os.path.join(self.audit_dir, "staging")

    def completed_buckets(self) -> "set[int]":
        spark = self.engine.spark
        try:
            m = spark.read.parquet(self._manifest_path)
        except Exception:
            return set()
        rows = (
            m.filter((F.col("run_id") == self.run_id) & (F.col("status") == "complete"))
            .select("bucket")
            .collect()
        )
        return {r["bucket"] for r in rows if r["bucket"] != DRIFT_BUCKET}

    def drift_done(self) -> bool:
        spark = self.engine.spark
        try:
            m = spark.read.parquet(self._manifest_path)
        except Exception:
            return False
        return (
            m.filter(
                (F.col("run_id") == self.run_id)
                & (F.col("status") == "complete")
                & (F.col("bucket") == DRIFT_BUCKET)
            ).limit(1).count()
            > 0
        )

    # ------------------------------------------------------------------

    def _ensure_staged(self, df: DataFrame) -> None:
        """ONE scan of the input: write it partitioned by lineage bucket.
        Reused on resume ONLY for the same run_id: the parquet _SUCCESS
        marker proves the staging job committed (a crash mid-write leaves
        no marker and re-stages), and a ``_staging_meta.json`` stamp
        binds the staged copy to its run_id — a NEW run_id against the
        same audit_dir re-stages from the live input instead of silently
        validating a stale copy of data from a previous run."""
        if self.staged_input_path:
            return
        spark = self.engine.spark
        import json

        stamp_path = os.path.join(self._staging_path, "_staging_meta.json")
        if fsutil.exists(spark, os.path.join(self._staging_path, "_SUCCESS")):
            try:
                stamp = json.loads(fsutil.read_text(spark, stamp_path))
            except Exception:
                stamp = {}
            if stamp.get("run_id") == self.run_id:
                return
        (
            df.withColumn("__bucket", self._bucket_expr())
            .repartition("__bucket")
            .write.mode("overwrite")
            .partitionBy("__bucket")
            .parquet(self._staging_path)
        )
        fsutil.write_text(spark, stamp_path, json.dumps({"run_id": self.run_id}))

    def _staged(self) -> DataFrame:
        return self.engine.spark.read.parquet(self._staging_path)

    def _bucket_engine(self) -> ValidationEngine:
        """Engine for per-bucket passes: drift constraints stripped (they
        are evaluated once, globally — see module docstring)."""
        spec = self.engine.spec
        no_drift = tuple(c for c in spec.constraints if not isinstance(c, Drift))
        if len(no_drift) == len(spec.constraints):
            return self.engine
        return ValidationEngine(
            self.engine.spark,
            dataclasses.replace(spec, constraints=no_drift),
            dims=self.engine.dims,
            baselines=self.engine.baselines,
            config=self.engine.config,
        )

    def run(
        self,
        df: DataFrame,
        fail_after_bucket: Optional[int] = None,
        fail_before_manifest: Optional[int] = None,
    ) -> "set[int]":
        """Validate every not-yet-complete bucket; returns the set of
        buckets processed in THIS invocation. ``fail_after_bucket``
        simulates a crash after a bucket fully commits;
        ``fail_before_manifest`` simulates the nastier crash AFTER the
        bucket's data write but BEFORE its manifest row (the resumed run
        must overwrite, not duplicate)."""
        spark = self.engine.spark
        done = self.completed_buckets()
        self._ensure_staged(df)
        staged = self._staged()
        eng = self._bucket_engine()
        processed: set[int] = set()
        for b in range(self.n_buckets):
            if b in done:
                continue
            # partition-pruned read: only __bucket=b files are scanned
            part = staged.filter(F.col("__bucket") == b).drop("__bucket")
            res = eng.run(part)
            # verdicts are tiny (O(#constraints x #partitions)): collect
            # once, derive the manifest metrics from them — no count()
            # jobs over the bucket data.
            verd_rows = res.verdicts.collect()
            # with spec.partition_by, evaluated_count is per partition_key,
            # so the bucket's row count is the SUM over partition keys per
            # constraint (max over constraints, not max over rows)
            per_constraint: dict = {}
            for r in verd_rows:
                if r["evaluated_count"] is not None:
                    per_constraint[r["constraint_id"]] = (
                        per_constraint.get(r["constraint_id"], 0) + r["evaluated_count"]
                    )
            n_rows = max(per_constraint.values()) if per_constraint else part.count()
            n_viol = sum(r["violation_count"] or 0 for r in verd_rows)
            verd_tuples = [
                (r["partition_key"], r["constraint_id"], r["violation_count"],
                 r["evaluated_count"], r["passed"])
                for r in verd_rows
            ]
            verd = spark.createDataFrame(verd_tuples, schema=VERDICT_SCHEMA).withColumn(
                "bucket", F.lit(b)
            )
            viol = res.violations.withColumn("bucket", F.lit(b))
            with _dynamic_partition_overwrite(spark):
                # overwrite ONLY bucket=b: re-processing after a crash
                # between this write and the manifest append is idempotent
                viol.write.mode("overwrite").partitionBy("bucket").parquet(
                    os.path.join(self.audit_dir, "violations")
                )
                verd.write.mode("overwrite").partitionBy("bucket").parquet(
                    os.path.join(self.audit_dir, "verdicts")
                )
            res.unpersist()
            if fail_before_manifest is not None and b >= fail_before_manifest:
                raise RuntimeError(f"simulated crash before manifest of bucket {b}")
            manifest_row = spark.createDataFrame(
                [(self.run_id, b, "complete", n_viol, n_rows)], schema=MANIFEST_SCHEMA
            )
            manifest_row.write.mode("append").parquet(self._manifest_path)
            processed.add(b)
            if fail_after_bucket is not None and b >= fail_after_bucket:
                raise RuntimeError(f"simulated crash after bucket {b}")
        self._run_global_drift()
        return processed

    def _run_global_drift(self) -> None:
        """Drift constraints evaluate ONCE over the full staged input
        (identical to a single-shot run), recorded under bucket=-1."""
        drifts = [c for c in self.engine.spec.constraints if isinstance(c, Drift)]
        if not drifts or self.drift_done():
            return
        from xsd2json_spark.engine.drift import drift_verdicts

        spark = self.engine.spark
        full = self._staged().drop("__bucket")
        rows = [r for c in drifts for r in drift_verdicts(full, c, self.engine.baselines)]
        verd = spark.createDataFrame(rows, schema=VERDICT_SCHEMA).withColumn(
            "bucket", F.lit(DRIFT_BUCKET)
        )
        with _dynamic_partition_overwrite(spark):
            verd.write.mode("overwrite").partitionBy("bucket").parquet(
                os.path.join(self.audit_dir, "verdicts")
            )
        n_viol = sum(r[2] or 0 for r in rows)
        manifest_row = spark.createDataFrame(
            [(self.run_id, DRIFT_BUCKET, "complete", n_viol, None)], schema=MANIFEST_SCHEMA
        )
        manifest_row.write.mode("append").parquet(self._manifest_path)

    # ------------------------------------------------------------------

    def global_verdicts(self) -> DataFrame:
        """Fold per-bucket verdict rows back into global verdicts —
        the same AC merge discipline as the engine's partial aggregates.
        Drift rows (bucket=-1) are already global; the groupBy is a
        no-op for them."""
        spark = self.engine.spark
        v = spark.read.parquet(os.path.join(self.audit_dir, "verdicts"))
        return (
            v.groupBy("partition_key", "constraint_id")
            .agg(
                F.sum("violation_count").alias("violation_count"),
                F.sum("evaluated_count").alias("evaluated_count"),
            )
            .withColumn("passed", verdict_passed(self.engine.spec))
        )

    def global_violations(self) -> DataFrame:
        return self.engine.spark.read.parquet(os.path.join(self.audit_dir, "violations")).drop("bucket")
