"""Spark-job budgets of the silver and gold paths: probe and
metadata-only jobs that must not come back.

Jobs are counted with the ``job_task_counts`` fixture: every job started
while the measured call runs, whichever code starts it.
"""

from __future__ import annotations

import pytest

from serverless_etl_aws_spark.pipeline.atomic import AtomicPartitionedTable
from serverless_etl_aws_spark.pipeline.export import WarehouseExporter

#: Spark's default ``spark.sql.sources.parallelPartitionDiscovery.threshold``.
LISTING_THRESHOLD = 32


def test_gold_read_over_threshold_starts_no_listing_job(
    spark, tmp_path, job_task_counts,
):
    """40 values written by two commits of 20: building the read starts
    no job. The scan has one root per live snapshot, which the driver
    lists (one root per value, 40 > 32, made Spark list them with a job
    of one task per path), and the manifest's schema, so no footer job
    infers one."""
    table = AtomicPartitionedTable(spark, str(tmp_path / "gold"), "day")
    for first in (0, 20):
        table.commit_overwrite_partitions(spark.createDataFrame(
            [(f"d{i:02d}", i) for i in range(first, first + 20)],
            "day string, v long",
        ))
    assert len(table.current_partition_paths()) > LISTING_THRESHOLD
    assert job_task_counts(table.read) == []


def test_commit_and_read_back_run_the_jobs_of_one_plain_write(
    spark, tmp_path, job_task_counts,
):
    """A commit runs exactly the jobs of one plain write of its frame:
    its keys ride the write, no listing follows it, and building the
    read of the committed table starts no job."""
    df = spark.range(0, 1000, 1, 4).selectExpr(
        "CAST(id % 40 AS STRING) AS day", "id AS v"
    )
    plain = job_task_counts(
        lambda: df.write.parquet(str(tmp_path / "plain"))
    )
    table = AtomicPartitionedTable(spark, str(tmp_path / "gold"), "day")
    committed = job_task_counts(
        lambda: (table.commit_overwrite_partitions(df), table.read())
    )
    assert committed == plain, (committed, plain)


@pytest.mark.parametrize("fmt", ["parquet", "csv"])
def test_export_starts_no_job_after_its_write(
    spark, tmp_path, fmt, job_task_counts,
):
    """An export runs exactly the jobs of writing its frame: the row
    count rides the write, and nothing is read back afterwards."""
    df = spark.range(0, 1000, 1, 4).selectExpr("id", "id % 5 AS k")
    df = df.groupBy("k").count()
    plain = job_task_counts(
        lambda: df.write.option("header", "true").format(fmt).save(
            str(tmp_path / "plain")
        ),
    )
    exp = WarehouseExporter(str(tmp_path / "exports"), fmt=fmt)
    exported = job_task_counts(lambda: exp.export(df, "t"))
    assert len(exported) == len(plain), (exported, plain)


def test_ingest_runs_the_jobs_of_a_plain_partitioned_write(
    spark, tmp_path, job_task_counts,
):
    """One bronze file through the taxi job's ingest runs exactly the
    jobs of one batch write of the cleaned frame under the same layout
    rule (one hash exchange on the partition column): no job probes the
    batch's partitioning first, and no second exchange follows."""
    import datetime as dt

    from pyspark.sql import functions as F

    from serverless_etl_aws_spark import schemas
    from serverless_etl_aws_spark.pipeline.taxi_job import (
        TaxiBronzeToSilver, TaxiJobConfig, clean_taxi,
    )

    bronze = str(tmp_path / "bronze")
    base = dt.datetime(2024, 3, 1, 8)
    rows = [
        (
            1, base + dt.timedelta(minutes=i),
            base + dt.timedelta(minutes=i + 12), 1.0, 2.0, 1.0, "N",
            100, 200, i % 6 + 1, 10.0, 0.5, 0.5, 2.0, 0.0, 0.3, 13.3,
            2.5, 0.0,
        )
        for i in range(600)
    ]
    spark.createDataFrame(rows, schemas.NYC_TAXI).coalesce(1).write.parquet(
        bronze
    )
    job = TaxiBronzeToSilver(spark, TaxiJobConfig(
        bronze_dir=bronze, silver_dir=str(tmp_path / "silver"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        watermark_path=str(tmp_path / "wm.json"),
    ))
    ingest = job_task_counts(job.run_available)
    cleaned = clean_taxi(spark.read.schema(schemas.NYC_TAXI).parquet(bronze))
    plain = job_task_counts(
        lambda: cleaned.withColumn("ingest_batch", F.lit(0))
        .repartition(F.col("payment_type"))
        .write.partitionBy("ingest_batch", "payment_type")
        .parquet(str(tmp_path / "plain"))
    )
    assert len(ingest) == len(plain), (ingest, plain)
