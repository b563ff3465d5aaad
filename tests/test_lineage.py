"""Lineage + idempotent resume (north_rule checkpoint contract)."""

import os

import pyspark.sql.functions as F
import pytest

from dxf_postgis_converter_spark.functions.decode import decode_documents
from dxf_postgis_converter_spark.plans.lineage import (
    BUCKET_COL,
    LINEAGE_SCHEMA,
    LineageLog,
    run_stage,
    stage_metrics,
)

N_BUCKETS = 8


def _transform(df):
    return decode_documents(df).select(
        "doc_id", "span_offset", "handle", "layer", "entity_type", "geom_type")


@pytest.fixture()
def dirs(tmp_path):
    return str(tmp_path / "out"), LineageLog(str(tmp_path / "lineage"))


def test_single_shot_complete(spark, docs_df, dirs):
    out_dir, log = dirs
    s = run_stage(spark, stage="decode", snapshot_id="v1", source=docs_df,
                  transform=_transform, out_dir=out_dir, lineage=log,
                  n_buckets=N_BUCKETS)
    assert s["complete"] and s["processed_buckets"] == N_BUCKETS
    expected = _transform(docs_df).count()
    assert spark.read.parquet(out_dir).count() == expected
    assert s["rows"] == expected


def test_resume_after_partial_run(spark, docs_df, dirs):
    out_dir, log = dirs
    s1 = run_stage(spark, stage="decode", snapshot_id="v1", source=docs_df,
                   transform=_transform, out_dir=out_dir, lineage=log,
                   n_buckets=N_BUCKETS, max_buckets_per_run=3)
    assert not s1["complete"] and s1["processed_buckets"] == 3
    s2 = run_stage(spark, stage="decode", snapshot_id="v1", source=docs_df,
                   transform=_transform, out_dir=out_dir, lineage=log,
                   n_buckets=N_BUCKETS)
    assert s2["complete"] and s2["skipped_buckets"] == 3
    assert s2["processed_buckets"] == N_BUCKETS - 3
    # output identical to a single-shot run: no missing rows, no duplicates
    got = spark.read.parquet(out_dir).drop(BUCKET_COL)
    expected = _transform(docs_df)
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0


def test_rerun_is_noop(spark, docs_df, dirs):
    out_dir, log = dirs
    run_stage(spark, stage="decode", snapshot_id="v1", source=docs_df,
              transform=_transform, out_dir=out_dir, lineage=log, n_buckets=N_BUCKETS)
    n1 = spark.read.parquet(out_dir).count()
    s = run_stage(spark, stage="decode", snapshot_id="v1", source=docs_df,
                  transform=_transform, out_dir=out_dir, lineage=log, n_buckets=N_BUCKETS)
    assert s["processed_buckets"] == 0 and s["skipped_buckets"] == N_BUCKETS
    assert spark.read.parquet(out_dir).count() == n1


def test_crash_heals_partial_bucket(spark, docs_df, dirs):
    """Simulate a crash AFTER data landed but BEFORE lineage was appended:
    run bucket 0's write manually with no lineage row, then run the stage —
    it must overwrite (not duplicate) that bucket."""
    out_dir, log = dirs
    from dxf_postgis_converter_spark.plans.lineage import bucket_of
    partial = _transform(docs_df).withColumn(BUCKET_COL, bucket_of("doc_id", N_BUCKETS)) \
        .filter(F.col(BUCKET_COL) == 0).limit(5)  # half-written bucket
    partial.write.mode("overwrite").option("partitionOverwriteMode", "dynamic") \
        .partitionBy(BUCKET_COL).parquet(out_dir)
    s = run_stage(spark, stage="decode", snapshot_id="v1", source=docs_df,
                  transform=_transform, out_dir=out_dir, lineage=log, n_buckets=N_BUCKETS)
    assert s["complete"]
    got = spark.read.parquet(out_dir).drop(BUCKET_COL)
    expected = _transform(docs_df)
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0


def test_new_snapshot_not_confused(spark, docs_df, dirs):
    out_dir, log = dirs
    run_stage(spark, stage="decode", snapshot_id="v1", source=docs_df,
              transform=_transform, out_dir=out_dir, lineage=log, n_buckets=N_BUCKETS)
    s = run_stage(spark, stage="decode", snapshot_id="v2", source=docs_df,
                  transform=_transform, out_dir=out_dir, lineage=log, n_buckets=N_BUCKETS)
    assert s["processed_buckets"] == N_BUCKETS  # v2 resumes nothing from v1
    m = {(r.stage, r.snapshot_id): r for r in stage_metrics(spark, log).collect()}
    assert m[("decode", "v1")].n_buckets == N_BUCKETS
    assert m[("decode", "v2")].n_buckets == N_BUCKETS
    assert m[("decode", "v1")].total_rows == m[("decode", "v2")].total_rows


def test_failed_stage_records_nothing(spark, docs_df, dirs):
    """A stage that dies mid-run must leave no COMPLETE lineage rows, so
    the next run redoes all of it."""
    out_dir, log = dirs
    with pytest.raises(Exception):
        run_stage(spark, stage="decode", snapshot_id="v1", source=docs_df,
                  transform=lambda df: df.select("no_such_column"),
                  out_dir=out_dir, lineage=log, n_buckets=N_BUCKETS)
    assert log.completed_buckets(spark, "decode", "v1") == []
    s = run_stage(spark, stage="decode", snapshot_id="v1", source=docs_df,
                  transform=_transform, out_dir=out_dir, lineage=log,
                  n_buckets=N_BUCKETS)
    assert s["complete"] and s["processed_buckets"] == N_BUCKETS


def test_run_stage_from_snapshot_table(spark, docs_df, dirs, tmp_path):
    """Lineage keyed by REAL snapshot ids: same snapshot resumes (all
    buckets skipped), a new commit to the source re-processes everything
    under a distinct snapshot id — resume state never leaks across data
    versions."""
    from dxf_postgis_converter_spark.plans.lineage import (
        run_stage_from_table,
    )
    from dxf_postgis_converter_spark.sources.snapshot_store import (
        SnapshotTable,
    )

    out_dir, log = dirs
    src = SnapshotTable(spark, str(tmp_path / "docs_tbl"))
    src.append(docs_df.limit(20))

    s1 = run_stage_from_table(spark, stage="decode", table=src,
                              transform=_transform, out_dir=out_dir,
                              lineage=log, n_buckets=N_BUCKETS)
    assert s1["complete"] and s1["processed_buckets"] == N_BUCKETS

    # same snapshot → pure resume, nothing re-processed
    s2 = run_stage_from_table(spark, stage="decode", table=src,
                              transform=_transform, out_dir=out_dir,
                              lineage=log, n_buckets=N_BUCKETS)
    assert s2["processed_buckets"] == 0 and s2["skipped_buckets"] == N_BUCKETS

    # new commit = new snapshot id → full re-process, old state intact
    src.append(docs_df.limit(30).subtract(docs_df.limit(20)))
    s3 = run_stage_from_table(spark, stage="decode", table=src,
                              transform=_transform, out_dir=out_dir,
                              lineage=log, n_buckets=N_BUCKETS)
    assert s3["processed_buckets"] == N_BUCKETS

    sids = {r.snapshot_id for r in stage_metrics(spark, log).collect()}
    assert sids == {src._manifest(0)["snapshot_id"],
                    src._manifest(1)["snapshot_id"]}
    # the final out_dir state reflects the NEW snapshot's full input
    n_out = spark.read.parquet(out_dir).select("doc_id").distinct().count()
    assert n_out == 30


def _row(snapshot_id, bucket, rows):
    return {"stage": "decode", "snapshot_id": snapshot_id, BUCKET_COL: bucket,
            "row_count": rows, "status": "COMPLETE", "wall_sec": 1.0, "ts": 1.0}


def _jobs_in_group(spark, group, action):
    """Run ``action`` under a job group; return how many Spark jobs it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "lineage job-count probe")
    try:
        action()
    finally:
        sc.setJobGroup(None, None)
    # job starts reach the status store through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_run_stage_is_one_spark_job(spark, docs_df, dirs):
    """The transform and its write are the stage's only Spark job: the
    log read, the landed count and the log append all run on the driver.
    A full resume runs no job at all."""
    out_dir, log = dirs
    docs_df.count()  # the cached fixture is materialised outside the probe

    def stage():
        return run_stage(spark, stage="decode", snapshot_id="v1", source=docs_df,
                         transform=_transform, out_dir=out_dir, lineage=log,
                         n_buckets=N_BUCKETS)

    assert _jobs_in_group(spark, "lineage-jc-full", stage) == 1
    assert _jobs_in_group(spark, "lineage-jc-resume", stage) == 0
    assert stage()["skipped_buckets"] == N_BUCKETS


def test_landed_counts_match_spark_read_back(spark, docs_df, dirs):
    """The lineage row counts, summed from parquet footers on the driver,
    equal Spark's count of the same partitions."""
    out_dir, log = dirs
    s = run_stage(spark, stage="decode", snapshot_id="v1", source=docs_df,
                  transform=_transform, out_dir=out_dir, lineage=log,
                  n_buckets=N_BUCKETS, max_buckets_per_run=3)
    spark_counts = {r[BUCKET_COL]: r["count"] for r in
                    spark.read.parquet(out_dir).groupBy(BUCKET_COL).count().collect()}
    logged = {r[BUCKET_COL]: r.row_count for r in log.read(spark).collect()}
    assert logged == {b: spark_counts.get(b, 0) for b in range(3)}
    assert s["rows"] == sum(spark_counts.values())


def test_log_mixes_spark_and_driver_written_files(spark, tmp_path):
    """A log holding a part file from the Spark writer of earlier releases
    and one appended on the driver reads as one log, by both readers."""
    log = LineageLog(str(tmp_path / "lineage"))
    spark.createDataFrame([_row("v1", 0, 10), _row("v1", 1, 20)], schema=LINEAGE_SCHEMA) \
        .coalesce(1).write.mode("append").parquet(log.path)
    log.append([_row("v1", 2, 30)])
    assert log.completed_buckets(spark, "decode", "v1") == [0, 1, 2]
    (m,) = stage_metrics(spark, log).collect()
    assert (m.stage, m.snapshot_id, m.n_buckets, m.total_rows) == ("decode", "v1", 3, 60)


def test_log_ignores_temp_file_left_by_crash(spark, tmp_path, monkeypatch):
    """An append that dies between its write and its rename leaves a
    hidden temp file; neither reader may count it."""
    log = LineageLog(str(tmp_path / "lineage"))

    def crash(src, dst):
        raise OSError("crash before rename")

    monkeypatch.setattr(os, "replace", crash)
    with pytest.raises(OSError):
        log.append([_row("v1", 0, 10)])
    monkeypatch.undo()
    assert [f for f in os.listdir(log.path) if f.startswith(".") and f.endswith(".tmp")]
    assert log.completed_buckets(spark, "decode", "v1") == []
    assert stage_metrics(spark, log).collect() == []

    log.append([_row("v1", 1, 20)])
    assert log.completed_buckets(spark, "decode", "v1") == [1]
    (m,) = stage_metrics(spark, log).collect()
    assert (m.n_buckets, m.total_rows) == (1, 20)
