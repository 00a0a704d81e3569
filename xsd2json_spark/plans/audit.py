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

Split rule: a check runs per bucket only when no group it judges can
span two buckets. Row-level checks and foreign keys judge each row
alone; unique, cardinality and functional-dependency checks qualify
when their columns, group or determinants contain the bucket column
(rows with a NULL bucket value all hash to one bucket). The rest —
those checks keyed off other columns, quantiles and drift — run in ONE
global pass: a plain engine run over the whole staged input after the
data buckets, committed like a bucket under the reserved lineage unit
``-1``. So summing the units' verdicts equals a single-shot run.

Storage: parquet directories by default; an Iceberg catalog table works
by passing format="iceberg" when the runtime has the Iceberg jars (this
sandbox does not — the layout is identical either way:
  <audit_dir>/staging/__bucket=N/   bucket-partitioned input copy
  <audit_dir>/manifest/             run_id, bucket, status, metrics
  <audit_dir>/verdicts/bucket=N/
  <audit_dir>/violations/bucket=N/
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xsd2json_spark.engine.validate import (
    VERDICT_COLUMNS, VERDICT_SCHEMA, ValidationEngine, ValidationResult, verdict_passed,
)
from xsd2json_spark.sources import fsutil
from xsd2json_spark.spec.constraints import Cardinality, Drift, FunctionalDependency, Quantile, Unique

MANIFEST_SCHEMA = (
    "run_id string, bucket int, status string, n_violations long, n_rows long"
)
GLOBAL_BUCKET = -1  # reserved lineage unit of the one global pass


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

    @property
    def _bucket_col(self) -> str:
        return self.bucket_column or (self.engine.spec.key_columns or ["*"])[0]

    def _bucket_expr(self):
        return F.pmod(F.abs(F.xxhash64(F.col(self._bucket_col))), F.lit(self.n_buckets)).cast("int")

    def _per_bucket(self, c) -> bool:
        """The split rule (module docstring): True iff no group ``c``
        judges can span two buckets."""
        if isinstance(c, (Drift, Quantile)):
            return False
        for kind, cols in ((Unique, "columns"), (Cardinality, "group_by"), (FunctionalDependency, "determinants")):
            if isinstance(c, kind):
                return self._bucket_col in getattr(c, cols)
        return True

    @property
    def _manifest_path(self):
        return os.path.join(self.audit_dir, "manifest")

    @property
    def _staging_path(self):
        return self.staged_input_path or os.path.join(self.audit_dir, "staging")

    def _done(self) -> "set[int]":
        """Every completed lineage unit of this run, GLOBAL_BUCKET included."""
        try:
            m = self.engine.spark.read.parquet(self._manifest_path)
        except Exception:
            return set()
        rows = m.filter((F.col("run_id") == self.run_id) & (F.col("status") == "complete")).select("bucket")
        return {r["bucket"] for r in rows.collect()}

    def completed_buckets(self) -> "set[int]":
        return self._done() - {GLOBAL_BUCKET}

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

    def run(
        self,
        df: DataFrame,
        fail_after_bucket: Optional[int] = None,
        fail_before_manifest: Optional[int] = None,
    ) -> "set[int]":
        """Validate every not-yet-complete bucket, then the global pass
        if it is not complete; returns the set of buckets processed in
        THIS invocation. ``fail_after_bucket`` simulates a crash after a
        bucket fully commits; ``fail_before_manifest`` simulates the
        nastier crash AFTER the bucket's data write but BEFORE its
        manifest row (the resumed run must overwrite, not duplicate)."""
        e, spec = self.engine, self.engine.spec
        global_cs = [c for c in spec.constraints if not self._per_bucket(c)]
        bucket_eng, global_eng = e, None
        if global_cs:
            def sub(cs):
                return ValidationEngine(
                    e.spark, spec.with_constraints(cs), dims=e.dims, baselines=e.baselines, config=e.config
                )

            bucket_eng = sub([c for c in spec.constraints if self._per_bucket(c)])
            global_eng = sub(global_cs)
        done = self._done()
        self._ensure_staged(df)
        staged = self._staged()
        processed: set[int] = set()
        for b in range(self.n_buckets):
            if b in done:
                continue
            # partition-pruned read: only __bucket=b files are scanned
            part = staged.filter(F.col("__bucket") == b).drop("__bucket")
            crash = fail_before_manifest is not None and b >= fail_before_manifest
            self._commit(b, bucket_eng.run(part), part, crash)
            processed.add(b)
            if fail_after_bucket is not None and b >= fail_after_bucket:
                raise RuntimeError(f"simulated crash after bucket {b}")
        if global_eng is not None and GLOBAL_BUCKET not in done:
            self._commit(GLOBAL_BUCKET, global_eng.run(staged.drop("__bucket")))
        return processed

    def _commit(
        self, unit: int, res: ValidationResult, part: Optional[DataFrame] = None, crash: bool = False
    ) -> None:
        """Write one lineage unit's verdicts and violations over
        ``bucket=unit`` (dynamic partition overwrite: re-processing
        after a crash between this write and the manifest append is
        idempotent), then append its manifest row. Verdicts are tiny
        (O(#constraints x #partitions)): collect once and derive the
        manifest metrics from them — no count() jobs over the data. The
        global unit (``part`` None) records no row count."""
        spark = self.engine.spark
        verd_rows = [tuple(r[c] for c in VERDICT_COLUMNS) for r in res.verdicts.collect()]
        n_rows = None
        if part is not None:
            # with spec.partition_by, evaluated_count is per partition_key,
            # so the bucket's row count is the SUM over partition keys per
            # constraint (max over constraints, not max over rows)
            per_constraint: dict = {}
            for _pk, cid, _vc, ec, _ok in verd_rows:
                if ec is not None:
                    per_constraint[cid] = per_constraint.get(cid, 0) + ec
            n_rows = max(per_constraint.values()) if per_constraint else part.count()
        n_viol = sum(r[2] or 0 for r in verd_rows)
        verd = spark.createDataFrame(verd_rows, schema=VERDICT_SCHEMA)
        with _dynamic_partition_overwrite(spark):
            for name, out in (("violations", res.violations), ("verdicts", verd)):
                out.withColumn("bucket", F.lit(unit)).write.mode("overwrite").partitionBy("bucket").parquet(
                    os.path.join(self.audit_dir, name)
                )
        res.unpersist()
        if crash:
            raise RuntimeError(f"simulated crash before manifest of bucket {unit}")
        manifest_row = spark.createDataFrame(
            [(self.run_id, unit, "complete", n_viol, n_rows)], schema=MANIFEST_SCHEMA
        )
        manifest_row.write.mode("append").parquet(self._manifest_path)

    # ------------------------------------------------------------------

    def global_verdicts(self) -> DataFrame:
        """Fold the units' verdict rows back into global verdicts — the
        same AC merge discipline as the engine's partial aggregates. By
        the split rule no group spans two units, so the sum is exact."""
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
