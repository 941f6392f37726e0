"""Per-stage lineage + metrics and resumable checkpointed pipelines.

The reference tracks progress with per-stage wall-clock timers and
byte/row counters (SURVEY.md §2.6 S5: parser.ml:457-465, join.ml:20,127,
sorting.ml:246-261) and makes every preprocessing stage restartable by
materializing its output column directory.  The Spark-first equivalent:

- ``partition_stats(df)`` — per-partition row counts in one distributed
  aggregation (``spark_partition_id()``), the skew diagnostic the north
  rule asks to track per stage;
- ``Pipeline`` — named stages checkpointed to ``<base>/<stage>`` parquet
  (Iceberg table when a catalog is configured — see ``osm_spark.io``);
  a re-run reuses any stage whose checkpoint is complete, so every
  stage is resumable; each stage writes one JSON record under
  ``lineage/`` with its input stages (the lineage DAG edge list),
  row count, partition histogram, bytes written, and wall time.

The side files (lineage records, ``_schema.json``, the ``_SUCCESS``
check and byte counts) go through ``osm_spark.sources.ranges``, the one
``pyarrow.fs`` layer, so they work the same on local paths, ``file:``
and ``s3a://`` URIs; a bare path is the local disk (the lineage log is
one immutable file per record — object stores have no append).

At 100 TB the only extra cost per stage is one count-style aggregation
over data Spark already materializes for the checkpoint.
"""

from __future__ import annotations

import json
import re
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osm_spark.sources import ranges as R


def partition_stats(df: DataFrame) -> list[dict]:
    """[{partition, rows}] for the DataFrame's current partitioning.
    Empty partitions emit no aggregation row — pair with
    ``df.rdd.getNumPartitions()`` for the true partition count."""
    rows = (
        df.groupBy(F.spark_partition_id().alias("partition"))
        .agg(F.count("*").alias("rows"))
        .collect()
    )
    return [{"partition": r.partition, "rows": r.rows} for r in rows]


class Pipeline:
    """Resumable checkpointed stage runner with lineage logging."""

    def __init__(self, spark: SparkSession, base_dir: str, name: str = "pipeline"):
        self.spark = spark
        self.base_dir = base_dir.rstrip("/")
        self.name = name
        self._log_dir = f"{self.base_dir}/lineage"
        self._log_seq = 0

    def _log(self, rec: dict):
        """One immutable file per record under ``lineage/``: O(1) per
        append and atomic per record on any filesystem, so pipelines
        sharing ``base_dir`` never lose each other's records.  Names are
        ``<ns-timestamp>-<seq>-<stage>.json``: listing order is append
        order."""
        rec = {"pipeline": self.name, "ts": round(time.time(), 3), **rec}
        self._log_seq += 1
        safe = re.sub(r"[^A-Za-z0-9_.-]", "_", str(rec.get("stage", "")))[:64]
        fname = f"{time.time_ns():020d}-{self._log_seq:04d}-{safe}.json"
        R.write_text(f"{self._log_dir}/{fname}", json.dumps(rec))

    def lineage(self) -> list[dict]:
        """All lineage records in append order, one per file under
        ``lineage/``."""
        return [json.loads(R.read_text(f"{self._log_dir}/{n}"))
                for n in R.list_names(self._log_dir) if n.endswith(".json")]

    def stage(self, name: str, fn, inputs: list[str] | tuple[str, ...] = (),
              partition_by: list[str] | None = None) -> DataFrame:
        """Run (or resume) one stage.

        ``fn() -> DataFrame`` is only invoked when the stage's checkpoint
        is missing or incomplete; otherwise the checkpoint is read back —
        which also cuts lineage for iterative callers.  ``inputs`` names
        upstream stages (the lineage DAG edges).
        """
        out = f"{self.base_dir}/{name}"
        if R.exists(f"{out}/_SUCCESS"):
            self._log({"stage": name, "inputs": list(inputs), "resumed": True,
                       "bytes": R.tree_bytes(out)})
            schema = None
            if R.exists(f"{out}/_schema.json"):
                from pyspark.sql.types import StructType
                schema = StructType.fromJson(
                    json.loads(R.read_text(f"{out}/_schema.json")))
            return self._read_back(out, schema)
        t0 = time.time()
        df = fn()
        schema = df.schema
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(out)
        if partition_by:
            # pin the producer's schema for resumed reads too — first
            # run and resume must return identical column types/order
            R.write_text(f"{out}/_schema.json",
                         json.dumps(schema.jsonValue()))
        back = self._read_back(out, schema if partition_by else None)
        pstats = partition_stats(back)
        n_rows = sum(p["rows"] for p in pstats)
        rows_max = max((p["rows"] for p in pstats), default=0)
        # true partition count (empty partitions emit no stats row —
        # all-keys-in-one-partition skew must not read as balanced)
        n_parts = max(back.rdd.getNumPartitions(), 1)
        self._log({
            "stage": name, "inputs": list(inputs), "resumed": False,
            "rows": n_rows, "partitions": n_parts,
            "rows_max_partition": rows_max,
            "skew": round(rows_max * n_parts / n_rows, 3) if n_rows else 0.0,
            "bytes": R.tree_bytes(out),
            "wall_s": round(time.time() - t0, 3),
            "partition_rows": pstats,
        })
        return back

    def _read_back(self, out: str, schema) -> DataFrame:
        """Read a checkpoint back; with ``schema`` (partitioned writes)
        the producer's column types and order are pinned, overriding
        partition-column type inference (a string '20250101' day column
        must not come back as a bigint at the end of the schema)."""
        r = self.spark.read
        if schema is not None:
            r = r.schema(schema)
        return r.parquet(out)
