"""Incremental exactly-once ingest: bronze files → partitioned silver.

Replaces the reference's discovery/commit loop — paginated S3 listing with
``ProcessingStatus`` object tags (reference:
src/lambda_functions/s3_operations.py:13-56) driven by Glue→Lambda RPC
(src/glue_scripts/bronze_to_silver.py:71-73, :87-89) — with Spark's
Structured Streaming **file source + checkpoint**:

- ``readStream`` over the bronze directory tracks seen files in the
  checkpoint's file-source log → each file processed exactly once across
  runs (the reference's tag-skip semantics, without a tag store).
- ``Trigger.AvailableNow`` drains everything currently present, then stops
  → batch-incremental scheduling, like the reference's EventBridge-batched
  Glue trigger (terraform/main.tf:551-568) but engine-owned.
- The checkpoint commits only after the sink write succeeds, and the sink
  write itself is idempotent per batch (batch-id-keyed dynamic partition
  overwrite) — fixing two reference bugs (SURVEY.md §4 item 4):
  ``job.commit()`` in ``finally`` (bronze_to_silver.py:100-104 — commits
  even on failure) and the crash window between write (:85) and
  mark-processed (:87-89) that double-appends on retry.

Scale notes (100 TB): file-source listing is incremental
(``maxFilesPerTrigger`` bounds batch size); the silver write is
Hive-partitioned on a bounded-cardinality column (the reference's
``payment_type`` choice at bronze_to_silver.py:85 — scale-sane, ~6 values)
and capped at :data:`MAX_RECORDS_PER_FILE` rows per file.

Layout rule: a partitioned batch is hash-repartitioned on its partition
column right before the write (as ``Engine.write_partitioned`` does), so
each partition value is written by exactly one task per batch.
"""

from __future__ import annotations

import os
import urllib.parse
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .report import RunReport

#: ``maxRecordsPerFile`` of every partitioned sink (silver ingest,
#: ``Engine.write_partitioned``, the ``sink_partitioned`` key).
MAX_RECORDS_PER_FILE = 1_000_000

#: Upper bound on partition values carried through the silver write's
#: Observation (mirrors PartitionedRollup's default cap). Past it the
#: hook falls back to its own capped distinct (and its loud failure).
#: Honest limitation: the slice bounds only the listener→caller payload —
#: the collect_set itself still materializes the full distinct set in the
#: aggregation buffers before the cap applies, so a grossly misconfigured
#: partition column (an id, a timestamp) can pressure memory before the
#: fallback fires. The observation is therefore opt-in (hooks that accept
#: ``touched`` and ``touched_col``), and the bounded-by-construction path
#: remains the hook's own ``distinct().limit(cap+1)``.
_TOUCHED_OBS_CAP = 10_000


def seen_source_files(checkpoint_dir: str) -> set[str]:
    """Absolute paths of every file the streaming file source recorded
    in ``<checkpoint>/sources/0`` (the engine's replacement for the
    reference's tag-based bookkeeping). :class:`IncrementalIngest`
    counts it; ``ActionDispatcher.get_unprocessed`` diffs bronze against
    it.

    The log is a Spark-internal format: one JSON entry per line, and
    every 10 batches a ``.compact`` file that REPEATS all prior entries —
    hence the set. Per-batch ``inputFiles()`` cannot replace this read:
    ``foreachBatch`` hands each micro-batch over as a ``LogicalRDD``,
    whose ``inputFiles()`` is always empty. Local-filesystem checkpoints
    only (``os.listdir``); for object-store checkpoints this would need
    the Hadoop FS API — ingest correctness itself never depends on it."""
    src_dir = os.path.join(checkpoint_dir, "sources", "0")
    seen: set[str] = set()
    if not os.path.isdir(src_dir):
        return seen
    import json

    for log in os.listdir(src_dir):
        p = os.path.join(src_dir, log)
        if not os.path.isfile(p) or log.startswith("."):
            continue
        with open(p, errors="ignore") as f:
            for line in f:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                try:
                    path = json.loads(line).get("path", "")
                except json.JSONDecodeError:
                    continue
                # the log holds URIs: a space or ``%`` in a name is
                # percent-encoded there
                path = urllib.parse.unquote(urllib.parse.urlparse(path).path)
                if path:
                    seen.add(os.path.abspath(path))
    return seen


@dataclass
class IngestResult:
    files_processed: int
    rows_ingested: int
    batches: int


class IncrementalIngest:
    """One bronze→silver ingest pipeline with exactly-once file semantics."""

    def __init__(
        self,
        spark: SparkSession,
        bronze_dir: str,
        silver_dir: str,
        checkpoint_dir: str,
        schema: StructType,
        partition_by: str | None = None,
        transform=None,
        max_files_per_trigger: int | None = None,
        reporter: RunReport | None = None,
        post_batch=None,
    ) -> None:
        from .cloud import validate_checkpoint_dir

        self.spark = spark
        self.bronze_dir = bronze_dir
        self.silver_dir = silver_dir
        # fail at CONSTRUCTION, not first batch: a checkpoint on a raw
        # object store tears the streaming commit log on crash — the
        # cloud-posture guard (pipeline/cloud.py) rejects it before any
        # state exists to corrupt
        self.checkpoint_dir = validate_checkpoint_dir(checkpoint_dir)
        self.schema = schema
        self.partition_by = partition_by
        self.transform = transform or (lambda df: df)
        self.max_files_per_trigger = max_files_per_trigger
        self.reporter = reporter or RunReport()
        # called after each batch's silver write with the transformed batch
        # DataFrame — downstream maintenance hook (e.g. gold rollup refresh,
        # pipeline/rollup.py). Runs before the checkpoint commit, so a crash
        # mid-hook replays the batch and the hook idempotently again.
        # Hooks that also accept ``touched`` and ``touched_col`` (rollup's
        # refresh_for_batch) receive the batch's distinct values of
        # ``touched_col`` (this ingest's partition column) from the silver
        # write's own Observation — zero extra jobs. The column travels
        # with the values: a hook keyed on another column must recount.
        self.post_batch = post_batch
        self._post_batch_takes_touched = False
        if post_batch is not None and partition_by:
            import inspect

            try:
                params = inspect.signature(post_batch).parameters
                # Opt-in by NAME only: a hook with some other second
                # parameter (e.g. ``def hook(df, log=print)``) must keep
                # its one-arg call contract, not crash on an unexpected
                # keyword.
                self._post_batch_takes_touched = {
                    "touched", "touched_col"
                } <= params.keys() or any(
                    p.kind is inspect.Parameter.VAR_KEYWORD
                    for p in params.values()
                )
            except (TypeError, ValueError):
                pass

    def run_once(self) -> IngestResult:
        """Drain all currently-available bronze files exactly once.

        A re-run with the same checkpoint processes only files that arrived
        since the last run (0 if none) — parity with the reference's
        tag-skip discovery (s3_operations.py:30-33), minus the tag store.
        """
        reader = self.spark.readStream.schema(self.schema)
        if self.max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", self.max_files_per_trigger)
        stream = reader.format("parquet").load(self.bronze_dir)
        stream = self.transform(stream)

        counts = {"files": 0, "rows": 0, "batches": 0}

        def write_batch(batch_df: DataFrame, batch_id: int) -> None:
            # foreachBatch is at-least-once: a crash after the write but
            # before the checkpoint commit replays this batch_id. Keying
            # the write on an ``ingest_batch`` partition with DYNAMIC
            # overwrite makes the replay idempotent — the retried batch
            # overwrites exactly its own partition and nothing else. This
            # closes the reference's double-append window between the
            # silver write (bronze_to_silver.py:85) and mark-processed
            # (:87-89) end-to-end, not just across runs.
            from pyspark.sql import Observation
            from pyspark.sql import functions as F

            # Row count rides along with the write via the Observation API
            # — a separate ``batch_df.count()`` would re-read the whole
            # batch from bronze a second time. When the maintenance hook
            # wants the batch's touched partitions, those ride along too
            # (sorted collect_set — bounded by contract: a partition
            # column is low-cardinality; the slice caps the transfer and
            # _TOUCHED_OBS_CAP overflow falls back to the hook's own
            # capped-distinct path, which fails loudly past its limit).
            obs = Observation()
            metrics = [F.count(F.lit(1)).alias("rows")]
            if self._post_batch_takes_touched:
                # cap+1 slice of ONE collect_set: length > cap doubles as
                # the overflow signal (a second size(collect_set) would
                # build the whole distinct set twice per batch).
                # collect_set DROPS nulls, so the NULL partition
                # (__HIVE_DEFAULT_PARTITION__) is tracked by a separate
                # cheap count and re-added to the touched list — without
                # it a null-date batch would never refresh its gold slice.
                pcol = F.col(self.partition_by)
                metrics.append(
                    F.slice(
                        F.sort_array(F.collect_set(pcol)),
                        1,
                        _TOUCHED_OBS_CAP + 1,
                    ).alias("touched")
                )
                metrics.append(
                    F.sum(pcol.isNull().cast("long")).alias("n_null_part")
                )
            staged = batch_df.withColumn("ingest_batch", F.lit(batch_id))
            if self.partition_by:
                staged = staged.repartition(F.col(self.partition_by))
            out = (
                staged.observe(obs, *metrics)
                .write.mode("overwrite")
                # UPPERCASE by design: Spark resolves this option with a
                # default-locale toUpperCase before Enumeration.withName,
                # so under a tr_TR JVM "dynamic" becomes "DYNAMİC"
                # (dotted İ) and the write dies with NoSuchElementException
                # (26th axis). An already-uppercase value is a no-op under
                # every locale's casing rules.
                .option("partitionOverwriteMode", "DYNAMIC")
                .option("maxRecordsPerFile", MAX_RECORDS_PER_FILE)
            )
            cols = ["ingest_batch"] + (
                [self.partition_by] if self.partition_by else []
            )
            out.partitionBy(*cols).parquet(self.silver_dir)
            if self.post_batch is not None:
                if self._post_batch_takes_touched:
                    got = obs.get
                    touched = list(got["touched"])
                    if (got["n_null_part"] or 0) > 0:
                        touched.append(None)
                    if len(touched) > _TOUCHED_OBS_CAP:
                        touched = None  # overflow: let the hook recount
                    self.post_batch(
                        batch_df, touched=touched, touched_col=self.partition_by
                    )
                else:
                    self.post_batch(batch_df)
            counts["rows"] += int(obs.get["rows"])
            counts["batches"] += 1

        before = seen_source_files(self.checkpoint_dir)
        query = (
            stream.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        try:
            query.awaitTermination()
        except Exception:
            query.stop()
            self.reporter.notify(
                "ingest FAILED", f"bronze={self.bronze_dir}"
            )
            raise
        counts["files"] = len(seen_source_files(self.checkpoint_dir) - before)
        self.reporter.notify(
            "ingest ok",
            f"files={counts['files']} rows={counts['rows']} batches={counts['batches']}",
        )
        return IngestResult(counts["files"], counts["rows"], counts["batches"])
