"""The reference's bronze→silver job, rebuilt end-to-end Spark-native.

Reference dataflow (src/glue_scripts/bronze_to_silver.py): Lambda-RPC file
discovery (:71-73) → multi-file parquet scan (:45) → identity transform
slot (:46) → ``mode("append").partitionBy("payment_type")`` silver write
(:84-85) → per-file Lambda-RPC mark-processed (:87-89) → ``job.commit()``
in ``finally`` (:100-104).

This module is the same pipeline with the control plane folded into the
engine (SURVEY.md §7 step 4):

- discovery + processed-state = streaming file-source checkpoint
  (exactly-once, commit only after the write — both reference bugs fixed);
- the transform slot is filled with real cleaning (the reference leaves a
  placeholder comment ``## Other Tranformation Operations`` at :46);
- the monthly watermark gate (fetch_raw_data.py:134-138) guards re-ingest
  at the orchestration level.

Scale notes (100 TB): ``payment_type`` has ~6 values — a bounded-cardinality
partition key (good). The transform does not repartition: the ingest write
(pipeline/ingest.py) hash-repartitions every batch on ``payment_type``, so
each Hive partition is written by one task per batch (no small-files
explosion of 1000 tasks × 6 partitions), with ``maxRecordsPerFile`` capping
file size.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schemas
from .ingest import IncrementalIngest, IngestResult
from .report import RunReport
from .watermark import WatermarkStore


def clean_taxi(df: DataFrame) -> DataFrame:
    """The transform the reference's placeholder slot promises
    (bronze_to_silver.py:46): basic validity filters + derived columns."""
    return (
        df.filter(
            (F.col("trip_distance") >= 0)
            & (F.col("total_amount") >= 0)
            & F.col("tpep_pickup_datetime").isNotNull()
            & (F.col("tpep_dropoff_datetime") >= F.col("tpep_pickup_datetime"))
        )
        .withColumn(
            "trip_minutes",
            # NTZ → µs since epoch (NTZ has no double cast in Spark 4)
            (
                F.unix_micros(F.col("tpep_dropoff_datetime").cast("timestamp"))
                - F.unix_micros(F.col("tpep_pickup_datetime").cast("timestamp"))
            )
            / 60_000_000.0,
        )
        .withColumn(
            "pickup_date", F.to_date("tpep_pickup_datetime")
        )
    )


@dataclass
class TaxiJobConfig:
    bronze_dir: str          # landing dir (reference: bronze bucket nyc_taxi/)
    silver_dir: str          # cleaned zone (reference: silver cleaned/)
    checkpoint_dir: str
    watermark_path: str
    max_files_per_trigger: int | None = None


class TaxiBronzeToSilver:
    """Reference job `nytaxi_bronze_to_silver` (terraform/main.tf:493-514),
    engine edition."""

    def __init__(
        self, spark: SparkSession, cfg: TaxiJobConfig,
        reporter: RunReport | None = None,
    ) -> None:
        self.spark = spark
        self.cfg = cfg
        self.reporter = reporter or RunReport()
        self.watermark = WatermarkStore(cfg.watermark_path)
        self._ingest = IncrementalIngest(
            spark,
            bronze_dir=cfg.bronze_dir,
            silver_dir=cfg.silver_dir,
            checkpoint_dir=cfg.checkpoint_dir,
            schema=schemas.NYC_TAXI,
            partition_by="payment_type",
            transform=clean_taxi,
            max_files_per_trigger=cfg.max_files_per_trigger,
            reporter=self.reporter,
        )

    def run_month(self, year_month: str) -> IngestResult | None:
        """Orchestrated run: watermark gate (reference:
        fetch_raw_data.py:134-138) → incremental ingest → watermark commit
        (only on success — reference commits in ``finally``, we don't)."""
        if self.watermark.should_skip(year_month):
            self.reporter.notify(
                "skip", f"{year_month} already processed (watermark gate)"
            )
            return None
        result = self._ingest.run_once()
        self.watermark.update_last_processed(year_month)
        return result

    def run_available(self) -> IngestResult:
        """Unsupervised incremental run (no month gate): drain whatever is
        in bronze exactly once."""
        return self._ingest.run_once()
