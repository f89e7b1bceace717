"""User-facing engine facade — the single entry point a user of the
reference pipeline switches to.

Reference usage → engine usage:

- Glue job params (``getResolvedOptions`` of source/target buckets,
  bronze_to_silver.py:62) → :class:`Engine` constructor (zone root).
- ``spark.read.parquet(paths)`` scan (bronze_to_silver.py:45) →
  ``engine.table(name)``.
- Ad-hoc "analysis" queries (README.md:4's promised warehouse layer) →
  ``engine.sql(query)`` over registered zone tables.
- Monthly ingest orchestration (fetch_raw_data.py:114-169) →
  ``engine.taxi_job(...)`` / ``engine.ingest(...)``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from . import catalog, schemas
from .pipeline.ingest import MAX_RECORDS_PER_FILE
from .pipeline.report import RunReport
from .pipeline.taxi_job import TaxiBronzeToSilver, TaxiJobConfig
from .session import get_spark, tune_for_session


class Engine:
    """One SparkSession + a zone root (directory or s3a:// prefix)."""

    def __init__(
        self, spark: SparkSession | None = None, zone_root: str = ".",
    ) -> None:
        self.spark = tune_for_session(spark or get_spark())
        self.zone_root = zone_root
        self.reporter = RunReport()
        self._registered = False

    # -- query surface ----------------------------------------------------
    def table(self, name: str) -> DataFrame:
        """Schema-validated scan of a zone table."""
        return catalog.load_table(self.spark, self.zone_root, name)

    def register_all(self) -> None:
        """Expose every known table as a SQL view."""
        catalog.register_views(self.spark, self.zone_root)
        self._registered = True

    def sql(self, query: str) -> DataFrame:
        """SQL entry point (same Catalyst pipeline as ``table()`` chains —
        SURVEY.md §3 EP3: exactly one lifecycle to maintain)."""
        if not self._registered:
            self.register_all()
        return self.spark.sql(query)

    def explain(
        self, query: str, mode: str = "formatted",
        allow_side_effects: bool = False,
    ) -> str:
        """Physical-plan introspection — the tuning surface every claim
        in ARCHITECTURE.md is verified against. ``query`` is either a
        registry key (the named operator's plan over this zone) or a SQL
        string; ``mode`` is any Spark explain mode (``simple``,
        ``extended``, ``codegen``, ``cost``, ``formatted``). Returns the
        plan text so callers can assert on it (the same string
        tests/test_plans.py pins).

        A key declared ``Query.build == "side_effects"`` executes real
        work at DataFrame-build time (streaming runs, commit/vacuum
        cycles, scratch staging, an embedded Derby write) — explaining it
        means RUNNING it. Such keys are refused unless
        ``allow_side_effects=True``, so "show me the plan" can never
        silently execute a pipeline. ``build == "compute"`` keys also run
        jobs at build time (iterative loops, eager checkpoints, bounded
        collects) but mutate nothing — they are allowed, just not
        instant."""
        from .queries import build_registry

        registry = build_registry()
        if query in registry:
            if (registry[query].build == "side_effects"
                    and not allow_side_effects):
                raise ValueError(
                    f"registry key {query!r} executes real work at "
                    f"DataFrame-build time (staging/streaming/commits); "
                    f"explaining it runs the whole pipeline. Pass "
                    f"allow_side_effects=True (CLI: --allow-side-effects) "
                    f"to accept that."
                )
            df = registry[query].fn(self.spark, self.zone_root)
        else:
            df = self.sql(query)
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), mode
        )

    # -- pipeline surface -------------------------------------------------
    def taxi_job(
        self,
        bronze_dir: str,
        silver_dir: str,
        state_dir: str | None = None,
        watermark_path: str | None = None,
    ) -> TaxiBronzeToSilver:
        """The reference's bronze→silver pipeline, ready to run.

        ``state_dir`` is a STATE ROOT, not the raw checkpoint location:
        the streaming checkpoint goes to ``<state_dir>/checkpoint`` and
        the watermark file to ``<state_dir>/watermark.json`` (unless
        ``watermark_path`` overrides it). To reuse an existing raw
        checkpoint path, construct :class:`TaxiJobConfig` directly —
        pointing ``state_dir`` at an old checkpoint would start a fresh
        file-source log and re-ingest everything. (The parameter was
        renamed from ``checkpoint_dir``, which promised exactly that
        wrong thing.)"""
        state_root = state_dir or os.path.join(silver_dir, "_state")
        return TaxiBronzeToSilver(
            self.spark,
            TaxiJobConfig(
                bronze_dir=bronze_dir,
                silver_dir=silver_dir,
                checkpoint_dir=os.path.join(state_root, "checkpoint"),
                watermark_path=watermark_path
                or os.path.join(state_root, "watermark.json"),
            ),
            reporter=self.reporter,
        )

    def write_partitioned(
        self, df: DataFrame, path: str, partition_by: str,
    ) -> None:
        """Partitioned append sink (reference: bronze_to_silver.py:84-85)
        with the ingest's layout rule: one hash exchange on the partition
        column, so each partition value is written by one task."""
        (
            df.repartition(partition_by)
            .write.mode("append")
            .option("maxRecordsPerFile", MAX_RECORDS_PER_FILE)
            .partitionBy(partition_by)
            .parquet(path)
        )

    @property
    def tables(self) -> list[str]:
        return sorted(schemas.TABLES)
