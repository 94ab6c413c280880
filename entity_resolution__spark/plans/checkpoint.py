"""Per-stage snapshot checkpointing with lineage + metrics (north_rule).

The reference checkpoints every stage as a CSV file
(/root/reference — every `to_csv` in SURVEY.md §2.1); here each stage is
a committed snapshot table a re-run resumes from. On a production
cluster the backend is Iceberg (`df.writeTo(cat.db.stage).createOrReplace()`
— atomic snapshot commits, time travel); this container has no Iceberg
runtime jars, so StageStore implements the same contract on parquet +
atomic manifest files: write data to a temp dir, fsync a JSON manifest
carrying {stage, snapshot_id, fingerprint, lineage, metrics,
per-partition row counts}, rename into place. A stage whose fingerprint
(hash of params + input snapshot ids) matches the last committed
manifest is NOT recomputed — that is the resume path, and it is what the
kill-and-rerun tests exercise.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import time
import uuid
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession



def fingerprint(params: dict[str, Any]) -> str:
    return hashlib.sha256(
        json.dumps(params, sort_keys=True, default=str).encode()
    ).hexdigest()[:16]


class _StageStoreContract:
    """Shared resume-or-compute logic over any snapshot backend: a
    backend provides manifest()/read()/commit(); this mixin provides the
    fingerprint gate both backends must agree on (so the kill-and-rerun
    tests run identically against parquet+manifests and Iceberg)."""

    def is_current(self, stage: str, fp: str) -> bool:
        m = self.manifest(stage)
        return bool(m and m.get("fingerprint") == fp and m.get("committed"))

    def stage(
        self,
        spark: SparkSession,
        name: str,
        params: dict[str, Any],
        compute,
        lineage: list[str] | None = None,
    ) -> DataFrame:
        """Resume-or-compute: reuse the committed snapshot when the
        fingerprint matches, else run `compute()` and commit.

        The fingerprint folds in the CURRENT committed snapshot id of
        every lineage stage (round-3 review: it previously hashed
        params only, so a direct caller whose upstream recomputed got a
        stale resume — pipeline.py had to fold lineage in by hand; the
        module contract says 'params + input snapshot ids', and now
        stage() enforces it for every caller)."""
        fp = fingerprint(
            {
                **params,
                "__lineage_snapshots": {
                    dep: (self.manifest(dep) or {}).get("snapshot_id")
                    for dep in (lineage or [])
                },
            }
        )
        if self.is_current(name, fp):
            return self.read(spark, name)
        df = compute()
        return self.commit(df, name, fp, lineage=lineage)


@dataclass
class StageStore(_StageStoreContract):
    root: str
    run_id: str = field(default_factory=lambda: uuid.uuid4().hex[:8])

    def _dir(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def _manifest_path(self, stage: str) -> str:
        return os.path.join(self._dir(stage), "manifest.json")

    def manifest(self, stage: str) -> dict | None:
        p = self._manifest_path(stage)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def read(self, spark: SparkSession, stage: str) -> DataFrame:
        m = self.manifest(stage)
        if not m:
            raise FileNotFoundError(f"no committed snapshot for stage {stage}")
        return spark.read.parquet(os.path.join(self._dir(stage), m["snapshot_id"]))

    def commit(
        self,
        df: DataFrame,
        stage: str,
        fp: str,
        lineage: list[str] | None = None,
        extra_metrics: dict | None = None,
    ) -> DataFrame:
        """Materialize df as the stage's new snapshot; returns the
        re-read DataFrame (cuts lineage like an Iceberg round-trip)."""
        t0 = time.monotonic()
        stage_dir = self._dir(stage)
        snap_id = f"snap-{self.run_id}-{uuid.uuid4().hex[:8]}"
        data_dir = os.path.join(stage_dir, snap_id)
        os.makedirs(stage_dir, exist_ok=True)
        df.write.mode("overwrite").parquet(data_dir)
        spark = df.sparkSession
        out = spark.read.parquet(data_dir)
        # per-partition lineage/metrics from the parquet FOOTERS (one
        # file per write task): driver-side metadata reads only — the
        # previous groupBy(spark_partition_id).count() re-scanned the
        # whole snapshot on every stage boundary (round-3 review), ~2×
        # checkpoint I/O. On Iceberg these numbers come from the
        # manifest for free.
        import pyarrow.parquet as pq

        per_part = []
        for i, fn in enumerate(
            sorted(f for f in os.listdir(data_dir) if f.endswith(".parquet"))
        ):
            meta = pq.ParquetFile(os.path.join(data_dir, fn)).metadata
            per_part.append(
                {"partition_id": i, "file": fn, "rows": int(meta.num_rows)}
            )
        manifest = {
            "stage": stage,
            "snapshot_id": snap_id,
            "fingerprint": fp,
            "run_id": self.run_id,
            "committed": True,
            "lineage": lineage or [],
            "metrics": {
                "rows_out": sum(p["rows"] for p in per_part),
                "wall_ms": int((time.monotonic() - t0) * 1000),
                **(extra_metrics or {}),
            },
            "partitions": per_part,
        }
        tmp = self._manifest_path(stage) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=2)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._manifest_path(stage))
        # GC older snapshots: keep the current one plus the most recent
        # OTHER snapshot, by mtime — a lexicographic sort over random
        # uuids kept an arbitrary snapshot as "previous" (round-3 review)
        others = sorted(
            (d for d in os.listdir(stage_dir)
             if d.startswith("snap-") and d != snap_id),
            key=lambda d: os.path.getmtime(os.path.join(stage_dir, d)),
        )
        for d in others[:-1]:
            shutil.rmtree(os.path.join(stage_dir, d), ignore_errors=True)
        return out

    def commit_bucketed(
        self,
        df: DataFrame,
        stage: str,
        fp: str,
        n_buckets: int,
        bucket_cols: list[str],
        sort_cols: list[str] | None = None,
        lineage: list[str] | None = None,
    ) -> DataFrame:
        """Commit a stage snapshot BUCKETED by its downstream join key.

        The big-pipeline lever plain parquet snapshots can't offer: two
        stages bucketed by the same key with the same bucket count
        sort-merge-join with NO Exchange on either side — the shuffle is
        paid once at write time and every downstream consumer (re-join
        after resume, incremental delta merge, next round's pass over
        the same key) reads co-located buckets. At 100 TB that converts
        a per-query full shuffle of the fact table into a one-time cost.

        Spark only persists bucketing through the catalog, so this path
        writes an EXTERNAL table (data under the store root, metadata in
        the session catalog). The default in-memory catalog loses table
        metadata across sessions — on a real deployment the catalog is
        Hive/Glue/Iceberg and the bucket spec survives; here the
        manifest records the spec, and a fresh session falls back to
        read() semantics (plain parquet at the same path, one re-shuffle
        to recover co-location). Tests pin the no-Exchange plan within
        a session (tests/test_checkpoint_backends.py).
        """
        t0 = time.monotonic()
        stage_dir = self._dir(stage)
        snap_id = f"snap-{self.run_id}-{uuid.uuid4().hex[:8]}"
        data_dir = os.path.join(stage_dir, snap_id)
        os.makedirs(stage_dir, exist_ok=True)
        spark = df.sparkSession
        # sanitize the SQL identifier (round-6 ADVICE: a stage name with
        # a dot/space broke DROP TABLE/saveAsTable — only '-' was mapped).
        # The sanitizing is many-to-one ('s.x' and 's_x' both give 's_x'),
        # so a short hash of the raw name keeps two such stages of one
        # run from dropping each other's table.
        safe = re.sub(r"[^A-Za-z0-9_]", "_", f"{stage}_{self.run_id}")
        tag = hashlib.sha256(stage.encode()).hexdigest()[:8]
        table = f"er_stage_{safe}_{tag}"
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        w = df.write.mode("overwrite").option("path", data_dir).bucketBy(
            n_buckets, *bucket_cols
        )
        if sort_cols:
            w = w.sortBy(*sort_cols)
        w.saveAsTable(table)
        out = spark.table(table)
        # rows from the parquet footers, same as commit() — the old
        # out.count() re-scanned the snapshot it had just written
        import pyarrow.parquet as pq

        rows_out = sum(
            int(pq.ParquetFile(os.path.join(data_dir, fn)).metadata.num_rows)
            for fn in os.listdir(data_dir)
            if fn.endswith(".parquet")
        )
        manifest = {
            "stage": stage,
            "snapshot_id": snap_id,
            "fingerprint": fp,
            "run_id": self.run_id,
            "committed": True,
            "lineage": lineage or [],
            "bucket_spec": {
                "table": table,
                "n_buckets": n_buckets,
                "bucket_cols": bucket_cols,
                "sort_cols": sort_cols or [],
            },
            "metrics": {
                "rows_out": rows_out,
                "wall_ms": int((time.monotonic() - t0) * 1000),
            },
        }
        tmp = self._manifest_path(stage) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=2)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._manifest_path(stage))
        # same snapshot GC as commit(): keep current + most recent other
        # (round-6 ADVICE: repeated bucketed recommits leaked disk)
        others = sorted(
            (d for d in os.listdir(stage_dir)
             if d.startswith("snap-") and d != snap_id),
            key=lambda d: os.path.getmtime(os.path.join(stage_dir, d)),
        )
        for d in others[:-1]:
            shutil.rmtree(os.path.join(stage_dir, d), ignore_errors=True)
        return out

    def read_bucketed(self, spark: SparkSession, stage: str) -> DataFrame:
        """Catalog-backed read of a bucketed snapshot (bucket-aware plan
        within the committing session / a shared metastore); falls back
        to the plain parquet files when the catalog no longer knows the
        table (fresh in-memory catalog after restart)."""
        m = self.manifest(stage)
        if not m or "bucket_spec" not in m:
            return self.read(spark, stage)
        table = m["bucket_spec"]["table"]
        if spark.catalog.tableExists(table):
            return spark.table(table)
        return spark.read.parquet(
            os.path.join(self._dir(stage), m["snapshot_id"])
        )


@dataclass
class IcebergStageStore(_StageStoreContract):
    """The same stage contract on a real Iceberg catalog (north_rule:
    'checkpointing each stage to Iceberg'): each stage is an Iceberg
    table, commit() is an atomic createOrReplace (one Iceberg snapshot),
    and the {fingerprint, lineage, metrics} manifest rides in table
    properties so resume needs no side files. Per-partition row counts
    come from the `.files` metadata table — the numbers StageStore reads
    from parquet footers, Iceberg keeps in its manifests.

    Requires the iceberg-spark runtime jars and a configured catalog
    (e.g. spark.sql.catalog.<name>=org.apache.iceberg.spark.SparkCatalog
    + type=hadoop + warehouse=<path> — settable at runtime, catalogs are
    lazily resolved). Where the jars are absent every operation raises
    at first catalog touch; tests/test_pipeline.py's contract test skips
    in that case (this container ships no Iceberg jars — the parquet
    StageStore remains the default backend)."""

    spark: SparkSession
    catalog: str
    namespace: str = "er_stages"
    run_id: str = field(default_factory=lambda: uuid.uuid4().hex[:8])

    PROP = "er.stage.manifest"

    def __post_init__(self) -> None:
        self.spark.sql(
            f"CREATE NAMESPACE IF NOT EXISTS {self.catalog}.{self.namespace}"
        )

    def _table(self, stage: str) -> str:
        return f"{self.catalog}.{self.namespace}.{stage}"

    def manifest(self, stage: str) -> dict | None:
        from pyspark.errors import AnalysisException

        try:
            rows = self.spark.sql(
                f"SHOW TBLPROPERTIES {self._table(stage)}"
            ).collect()
        except AnalysisException:  # table (or stage) does not exist yet
            # Only table-resolution errors mean "no snapshot"; a
            # misconfigured catalog or connectivity failure must
            # propagate, not silently route stage() into recompute
            # (round-4 ADVICE).
            return None
        props = {r["key"]: r["value"] for r in rows}
        raw = props.get(self.PROP)
        return json.loads(raw) if raw else None

    def read(self, spark: SparkSession, stage: str) -> DataFrame:
        m = self.manifest(stage)
        if not m:
            raise FileNotFoundError(f"no committed snapshot for stage {stage}")
        return spark.table(self._table(stage))

    def commit(
        self,
        df: DataFrame,
        stage: str,
        fp: str,
        lineage: list[str] | None = None,
        extra_metrics: dict | None = None,
    ) -> DataFrame:
        t0 = time.monotonic()
        table = self._table(stage)
        df.writeTo(table).using("iceberg").createOrReplace()
        spark = df.sparkSession
        snap = spark.sql(
            f"SELECT snapshot_id FROM {table}.snapshots "
            "ORDER BY committed_at DESC LIMIT 1"
        ).collect()
        snap_id = str(snap[0]["snapshot_id"]) if snap else "unknown"
        per_part = [
            {
                "partition_id": i,
                "file": os.path.basename(r["file_path"]),
                "rows": int(r["record_count"]),
            }
            for i, r in enumerate(
                spark.sql(
                    f"SELECT file_path, record_count FROM {table}.files "
                    "ORDER BY file_path"
                ).collect()
            )
        ]
        manifest = {
            "stage": stage,
            "snapshot_id": snap_id,
            "fingerprint": fp,
            "run_id": self.run_id,
            "committed": True,
            "lineage": lineage or [],
            "metrics": {
                "rows_out": sum(p["rows"] for p in per_part),
                "wall_ms": int((time.monotonic() - t0) * 1000),
                **(extra_metrics or {}),
            },
            "partitions": per_part,
        }
        # Spark SQL (non-ANSI) string literals interpret backslash
        # escapes, so json.dumps output containing \" or \uXXXX would be
        # corrupted on round-trip (round-4 ADVICE): escape backslashes
        # FIRST, then quotes.
        blob = json.dumps(manifest).replace("\\", "\\\\").replace("'", "''")
        spark.sql(
            f"ALTER TABLE {table} SET TBLPROPERTIES ('{self.PROP}' = '{blob}')"
        )
        return spark.table(table)
