"""Stage checkpointing + per-partition lineage manifest (north rule:
"every stage writes per-partition lineage + counters ... so the job
resumes from the last committed checkpoint").

Spark-native analog of the reference's phase files + S3 staging
(/root/reference/src/main.rs:411-429 binary IR layout;
/root/reference/python/orchestration.py:90-157 upload_and_clean /
re-run-from-phase): each named stage persists its output as a table and
appends a manifest record {run fingerprint, stage, per-partition row
counts, wall_ms, committed_at}. On re-run with the same fingerprint the
stage is served from the committed checkpoint instead of recomputed.

Table format: parquet directories by default; `table_format="iceberg"`
switches the write/read pair to `df.writeTo(catalog.table)` /
`spark.table(...)` (no Iceberg runtime jars ship in this container, so
that branch is exercised by a unit test that asserts the writeTo plan is
constructed and skips cleanly when the catalog is absent).

Stage tables are namespaced BY FINGERPRINT (base_dir/<fingerprint>/
<stage>): two runs with different configs sharing a base_dir can never
serve each other's bytes — a manifest row is only ever paired with a
table directory that the same fingerprint wrote.
"""

from __future__ import annotations

import json
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class CheckpointManager:
    """fingerprint: a stable hash of (pipeline config, input identity);
    stages with a committed manifest row under the same fingerprint are
    resumed, not recomputed."""

    def __init__(self, spark: SparkSession, base_dir: str | None,
                 fingerprint: str, table_format: str = "parquet",
                 catalog: str | None = None):
        self.spark = spark
        self.base_dir = Path(base_dir) if base_dir else None
        self.fingerprint = fingerprint
        self.table_format = table_format
        self.catalog = catalog  # e.g. "lakehouse.dedup" for Iceberg
        self._manifest_path = (self.base_dir / "_manifest.jsonl"
                               if self.base_dir else None)

    # ---- manifest ----

    def _stage_path(self, stage: str) -> Path:
        return self.base_dir / self.fingerprint / stage

    def _manifest_rows(self) -> list[dict]:
        if not self._manifest_path or not self._manifest_path.exists():
            return []
        with open(self._manifest_path) as f:
            return [json.loads(line) for line in f if line.strip()]

    def committed(self, stage: str) -> bool:
        """A stage resumes only if its manifest row exists under this
        fingerprint AND its table is still on disk (a deleted table must
        recompute, not fail downstream). Tables live under
        base_dir/<fingerprint>/ so a later run with a different config
        can never overwrite the bytes this fingerprint committed."""
        has_row = any(
            r["stage"] == stage and r["fingerprint"] == self.fingerprint
            for r in self._manifest_rows())
        return has_row and self._stage_path(stage).exists()

    def _append_manifest(self, record: dict) -> None:
        self.base_dir.mkdir(parents=True, exist_ok=True)
        with open(self._manifest_path, "a") as f:
            f.write(json.dumps(record) + "\n")

    # ---- stage execution ----

    def stage(self, name: str, build, partition_cols: list[str] | None = None) -> DataFrame:
        """Run (or resume) one pipeline stage.

        build: () -> DataFrame. With no base_dir, checkpointing is off and
        the DataFrame flows through lazily (single-job execution).
        """
        if self.base_dir is None:
            return build()
        path = str(self._stage_path(name))
        if self.committed(name):
            return self._read(name, path)
        t0 = time.time()
        df = build()
        self._write(df, name, path, partition_cols)
        out = self._read(name, path)
        # per-partition lineage counters (north rule): rows per output file
        per_part = [
            {"partition": r["p"], "rows": r["rows"]}
            for r in (out.groupBy(F.spark_partition_id().alias("p"))
                      .agg(F.count(F.lit(1)).alias("rows")).collect())
        ]
        self._append_manifest({
            "fingerprint": self.fingerprint,
            "stage": name,
            "rows_out": sum(p["rows"] for p in per_part),
            "partitions": per_part,
            "wall_ms": int((time.time() - t0) * 1000),
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        })
        return out

    def rows_out(self, stage: str) -> int | None:
        """Committed row count of a stage from its manifest record, or
        None when the stage isn't committed (or checkpointing is off).
        A local JSONL read of the lineage counters stage() recorded —
        no Spark job."""
        if self.base_dir is None or not self.committed(stage):
            return None
        for r in reversed(self._manifest_rows()):
            if r["stage"] == stage and r["fingerprint"] == self.fingerprint:
                return r.get("rows_out")
        return None

    def table(self, stage: str) -> DataFrame:
        """Read a COMMITTED stage table (no recompute path) — the
        queryable-checkpoint surface other jobs build on (e.g.
        operators/incremental.py dedups a new batch against a prior
        run's `sigs`/`shingles` tables without touching its inputs).
        Raises if the stage was never committed under this fingerprint.
        """
        if not self.committed(stage):
            raise FileNotFoundError(
                f"stage '{stage}' not committed under fingerprint "
                f"{self.fingerprint} in {self.base_dir}")
        return self._read(stage, str(self._stage_path(stage)))

    # ---- format seam (parquet today, Iceberg on a real cluster) ----

    def _table_ident(self, name: str) -> str:
        """Iceberg table identifier: <catalog>.<stage>_<fingerprint>.
        The fingerprint suffix mirrors the parquet path namespacing —
        an Iceberg catalog shared across runs gets the same isolation."""
        return f"{self.catalog}.{name}_{self.fingerprint}"

    def _write(self, df: DataFrame, name: str, path: str,
               partition_cols: list[str] | None) -> None:
        if self.table_format == "iceberg":
            w = df.writeTo(self._table_ident(name)).using("iceberg")
            if partition_cols:
                w = w.partitionedBy(*[F.col(c) for c in partition_cols])
            w.createOrReplace()
            return
        writer = df.write.mode("overwrite")
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        writer.parquet(path)

    def _read(self, name: str, path: str) -> DataFrame:
        if self.table_format == "iceberg":
            return self.spark.table(self._table_ident(name))
        return self.spark.read.parquet(path)
