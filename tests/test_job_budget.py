"""Spark-job budgets of the gold path: metadata-only jobs that must not
come back.

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
    """40 partitions written by two commits of 20: read() passes two
    snapshot roots, so building the DataFrame lists them on the driver.
    One root per partition (40 > 32) made Spark list them with a job of
    one task per path."""
    table = AtomicPartitionedTable(spark, str(tmp_path / "gold"), "day")
    for first in (0, 20):
        table.commit_overwrite_partitions(spark.createDataFrame(
            [(f"d{i:02d}", i) for i in range(first, first + 20)],
            "day string, v long",
        ))
    assert len(table.current_partition_paths()) > LISTING_THRESHOLD
    tasks = job_task_counts(table.read)
    # the listing job runs one task per path and starts only above the
    # threshold; what may run is the one-task footer-inference job
    assert all(n <= LISTING_THRESHOLD for n in tasks), tasks
    assert len(tasks) <= 1, tasks


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
