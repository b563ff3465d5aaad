"""Per-partition lineage + idempotent resume (north_rule: "every stage
checkpoints per-partition lineage (snapshot id, partition hash, row
counts) so the job resumes idempotently").

Model
-----
Work is bucketed by a stable hash of a key column (doc_id by default) —
the unit of restart. A stage run:

  1. reads the lineage log on the driver (pyarrow, no Spark job) and
     collects buckets already COMPLETE for (stage, snapshot_id); they are
     skipped by a narrow JVM predicate on the bucket column — no shuffle;
  2. transforms + writes the remaining buckets with **dynamic partition
     overwrite**, so a re-run of a bucket that crashed mid-write replaces
     its partial files instead of duplicating them — this is the stage's
     one Spark job;
  3. counts what actually landed (read-back, not the in-flight DF: the
     footer row counts of the files under each ``_bucket=<b>``
     directory, summed on the driver) and only then appends lineage
     rows — crash before the append leaves the bucket incomplete and
     step 1 redoes it on the next run.

The log itself is an append-only parquet directory (≙ an Iceberg table
on a real cluster; appends are new files, so concurrent stages never
rewrite each other). Each append is one uniquely named file, written
under a hidden name and renamed into place, so a reader sees all of an
append or none of it. snapshot_id names the source version (Iceberg
snapshot at scale; any caller-provided tag here) so re-ingesting a new
snapshot never confuses resume state.
"""

from __future__ import annotations

import os
import time
import uuid
from collections.abc import Callable

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

BUCKET_COL = "_bucket"

LINEAGE_SCHEMA = T.StructType([
    T.StructField("stage", T.StringType()),
    T.StructField("snapshot_id", T.StringType()),
    T.StructField(BUCKET_COL, T.IntegerType()),
    T.StructField("row_count", T.LongType()),
    T.StructField("status", T.StringType()),
    T.StructField("wall_sec", T.DoubleType()),
    T.StructField("ts", T.DoubleType()),
])


_ARROW_SCHEMA = to_arrow_schema(LINEAGE_SCHEMA)


def _visible_files(directory: str) -> list[str]:
    """Files of ``directory`` that Spark's reader would see: hidden and
    ``_``-prefixed names (temp files, ``.crc``, ``_SUCCESS``) are skipped."""
    if not os.path.isdir(directory):
        return []
    return [os.path.join(directory, f) for f in sorted(os.listdir(directory))
            if not f.startswith((".", "_"))]


class LineageLog:
    def __init__(self, path: str):
        self.path = path

    def read(self, spark: SparkSession) -> DataFrame:
        if not os.path.isdir(self.path):
            return spark.createDataFrame([], schema=LINEAGE_SCHEMA)
        return spark.read.schema(LINEAGE_SCHEMA).parquet(self.path)

    def completed_buckets(self, spark: SparkSession, stage: str, snapshot_id: str) -> list[int]:
        """Buckets with a COMPLETE row for (stage, snapshot_id), read on
        the driver; ``spark`` is unused and kept for the call shape."""
        files = _visible_files(self.path)
        if not files:
            return []
        done = ds.dataset(files, schema=_ARROW_SCHEMA, format="parquet").to_table(
            columns=[BUCKET_COL],
            filter=(ds.field("stage") == stage) & (ds.field("snapshot_id") == snapshot_id)
            & (ds.field("status") == "COMPLETE"))
        return sorted(set(done.column(BUCKET_COL).to_pylist()))

    def append(self, rows: list[dict]) -> None:
        """Add ``rows`` as one new parquet file, written under a hidden
        temp name and renamed into place: readers see all of it or none."""
        os.makedirs(self.path, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(self.path, f".{name}.tmp")
        pq.write_table(pa.Table.from_pylist(rows, schema=_ARROW_SCHEMA), tmp)
        os.replace(tmp, os.path.join(self.path, name))


def _landed_rows(out_dir: str, buckets: list[int]) -> dict[int, int]:
    """Rows on disk per bucket: the parquet footer ``num_rows`` of every
    file under ``_bucket=<b>``, which is what Spark's reader would count
    for those partitions."""
    return {b: sum(pq.read_metadata(f).num_rows
                   for f in _visible_files(os.path.join(out_dir, f"{BUCKET_COL}={b}")))
            for b in buckets}


def bucket_of(key_col: str, n_buckets: int) -> F.Column:
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("int")


def run_stage(
    spark: SparkSession,
    *,
    stage: str,
    snapshot_id: str,
    source: DataFrame,
    transform: Callable[[DataFrame], DataFrame],
    out_dir: str,
    lineage: LineageLog,
    key_col: str = "doc_id",
    n_buckets: int = 32,
    max_buckets_per_run: int | None = None,
) -> dict:
    """Run (or resume) one checkpointed stage; returns a summary dict.

    ``transform`` must preserve ``key_col`` (output rows keep their
    bucket assignment). ``max_buckets_per_run`` bounds one invocation —
    the throttle used by the failure-injection tests and, at scale, by
    budgeted backfills.
    """
    t0 = time.time()
    done = set(lineage.completed_buckets(spark, stage, snapshot_id))
    all_buckets = set(range(n_buckets))
    todo = sorted(all_buckets - done)
    if max_buckets_per_run is not None:
        todo = todo[:max_buckets_per_run]
    if not todo:
        return {"stage": stage, "processed_buckets": 0, "skipped_buckets": len(done),
                "rows": 0, "complete": True}

    src = source.withColumn(BUCKET_COL, bucket_of(key_col, n_buckets))
    src = src.filter(F.col(BUCKET_COL).isin(todo))
    out = transform(src.drop(BUCKET_COL)) \
        .withColumn(BUCKET_COL, bucket_of(key_col, n_buckets))

    # dynamic overwrite: only the partitions present in `out` are replaced —
    # a half-written bucket from a crashed run is healed, finished buckets
    # from prior runs are untouched
    from ..sources.entity_store import INTERMEDIATE_CODEC

    out.write.mode("overwrite") \
        .option("partitionOverwriteMode", "dynamic") \
        .option("compression", INTERMEDIATE_CODEC) \
        .partitionBy(BUCKET_COL).parquet(out_dir)

    counts = _landed_rows(out_dir, todo)
    wall = time.time() - t0
    now = time.time()
    lineage.append([
        {"stage": stage, "snapshot_id": snapshot_id, BUCKET_COL: b,
         "row_count": counts[b], "status": "COMPLETE",
         "wall_sec": round(wall, 3), "ts": now}
        for b in todo
    ])
    remaining = all_buckets - set(done) - set(todo)
    return {"stage": stage, "processed_buckets": len(todo),
            "skipped_buckets": len(done), "rows": int(sum(counts.values())),
            "complete": not remaining}


def run_stage_from_table(
    spark: SparkSession,
    *,
    stage: str,
    table,
    transform: Callable[[DataFrame], DataFrame],
    out_dir: str,
    lineage: LineageLog,
    version: int | None = None,
    **kw,
) -> dict:
    """run_stage over a :class:`~..sources.snapshot_store.SnapshotTable`
    source: the lineage snapshot_id IS the source's manifest snapshot_id,
    closing the north-rule loop ("per-partition lineage (Iceberg snapshot
    id, partition hash, row counts)") with a real table version instead
    of a caller tag. Re-runs against the same snapshot skip completed
    buckets; a new commit to the source changes the snapshot id, so every
    bucket re-processes against the new data — resume state can never
    leak across data versions."""
    v = table.current_version() if version is None else version
    if v is None:
        raise ValueError(f"source table {table.path} has no snapshots")
    sid = table._manifest(v)["snapshot_id"]
    return run_stage(spark, stage=stage, snapshot_id=sid,
                     source=table.read(version=v), transform=transform,
                     out_dir=out_dir, lineage=lineage, **kw)


def stage_metrics(spark: SparkSession, lineage: LineageLog) -> DataFrame:
    """Operational rollup: per (stage, snapshot) bucket/row totals."""
    return (
        lineage.read(spark)
        .groupBy("stage", "snapshot_id")
        .agg(F.countDistinct(BUCKET_COL).alias("n_buckets"),
             F.sum("row_count").alias("total_rows"),
             F.max("ts").alias("last_update"))
    )
