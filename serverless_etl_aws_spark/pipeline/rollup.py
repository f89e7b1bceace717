"""Incremental silver→gold rollup — the reference's declared-but-unbuilt
milestone (reference: README.md:108-111 "Aggregate taxi data … Build Silver
to Gold ETL"; the gold bucket exists with no writer, terraform/main.tf:362-365).

Maintenance strategy: **partition-scoped recompute**. Each ingest batch
knows which gold partitions (e.g. event days) it touched; those partitions
are recomputed from silver and committed to gold through the
manifest-pointer table (pipeline/atomic.py). Properties:

- Correct under replay (recompute is idempotent — same input, same output).
- Crash-atomic: the commit point is one manifest rename; a kill mid-write
  leaves the previous complete gold state, never a half-replaced partition.
- Incremental: work is O(touched partitions), not O(gold).
- No state beyond the lake itself (no OLAP-cube deltas to reconcile).

At 100 TB this is the standard pattern for late-arriving data too: a late
row lands in silver, its day partition is recomputed, gold converges.
Alternatives (delta-merge aggregation, streaming update-mode sinks) trade
this simplicity for lower recompute cost — worth it only when a single
partition's recompute exceeds the batch SLA.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .atomic import AtomicPartitionedTable, FaultHook, partition_predicate


class PartitionedRollup:
    """Keep a gold aggregate table in sync with silver, one partition at
    a time.

    ``aggregate`` maps a silver DataFrame to the gold shape; it must
    include ``partition_col`` in its output (the gold partition key).
    """

    def __init__(
        self,
        spark: SparkSession,
        silver_dir: str,
        gold_dir: str,
        partition_col: str,
        aggregate: Callable[[DataFrame], DataFrame],
        max_touched_partitions: int = 10_000,
    ) -> None:
        self.spark = spark
        self.silver_dir = silver_dir
        self.gold_dir = gold_dir
        self.partition_col = partition_col
        self.aggregate = aggregate
        self.max_touched_partitions = max_touched_partitions
        #: Gold storage: manifest-pointer commits (pipeline/atomic.py), so
        #: a crash mid-refresh/upsert can never lose a partition — readers
        #: see the previous complete snapshot until the new manifest's
        #: atomic rename, and a replay just publishes the next snapshot.
        self.table = AtomicPartitionedTable(spark, gold_dir, partition_col)

    def refresh_partitions(
        self, values: list, fault: FaultHook | None = None
    ) -> int:
        """Recompute the given gold partitions from silver and atomically
        replace exactly those (snapshot + manifest commit).

        The recomputed slice is aggregate rows, not fact rows: at most
        ``max_touched_partitions`` values × the aggregate's group
        cardinality. :meth:`_write_gold` sizes the commit's write tasks,
        and so its files, by the touched-value count."""
        if not values:
            return 0
        silver = self.spark.read.parquet(self.silver_dir)
        gold = self.aggregate(
            silver.filter(
                partition_predicate(F.col(self.partition_col), values)
            )
        )
        self._write_gold(gold, values, fault)
        return len(values)

    def _write_gold(
        self,
        gold: DataFrame,
        touched_values: list,
        fault: FaultHook | None = None,
    ) -> None:
        """Crash-atomically replace the touched gold partitions (snapshot
        + manifest rename, see AtomicPartitionedTable). A commit writes
        one file per write task, so the coalesce to one task per 32
        touched values bounds the files: a month's refresh writes one
        file, not one per post-shuffle task of the aggregate, and a wide
        backfill (10k values) still writes in parallel. The touched
        values are handed to the commit as its ``replaced`` set, so a
        refresh whose recompute yields NO rows for a touched partition
        (every silver row for that day was deleted) empties the gold
        partition instead of leaving it stale."""
        self.table.commit_overwrite_partitions(
            gold.coalesce(max(1, len(touched_values) // 32)),
            fault=fault,
            replaced=touched_values,
        )

    def _capped_touched(
        self, op: str, df: DataFrame, touched: list | None = None
    ) -> list:
        """The distinct ``partition_col`` values of ``df`` (or the
        caller's ``touched``), at most ``max_touched_partitions`` of them.
        A partition column is by contract low-cardinality (days, payment
        types); a misconfigured high-cardinality column (an id, a
        timestamp) fails loudly HERE rather than OOM the driver — the
        limit+1 fetch never collects more than one value over the cap."""
        if touched is None:
            touched = [
                r[0]
                for r in df.select(self.partition_col)
                .distinct()
                .limit(self.max_touched_partitions + 1)
                .collect()
            ]
        if len(touched) > self.max_touched_partitions:
            raise ValueError(
                f"{op}: more than {self.max_touched_partitions} distinct "
                f"{self.partition_col!r} values — {self.partition_col!r} "
                f"does not look like a partition column; pick a "
                f"low-cardinality column or raise max_touched_partitions"
            )
        return touched

    def refresh_for_batch(
        self,
        batch_df: DataFrame,
        touched: list | None = None,
        touched_col: str | None = None,
    ) -> int:
        """Refresh the partitions a just-ingested batch touches (call from
        the ingest's foreachBatch, after the silver write).

        ``touched`` lets the caller hand over the batch's distinct
        partition values when it already knows them — IncrementalIngest
        rides a ``collect_set`` on its silver-write Observation, saving a
        whole re-read-the-batch Spark job per micro-batch. ``touched_col``
        names the column those values belong to (None: this rollup's
        ``partition_col``). When they are absent, or belong to another
        column (an ingest partitioned by ``event_type`` feeding a rollup
        on ``event_date``), they are computed here with a capped distinct.
        Either path is bounded by ``max_touched_partitions``."""
        if touched_col not in (None, self.partition_col):
            touched = None
        return self.refresh_partitions(
            self._capped_touched("refresh_for_batch", batch_df, touched)
        )

    def upsert(
        self,
        delta_gold: DataFrame,
        merge: Callable[[DataFrame], DataFrame],
        fault: FaultHook | None = None,
    ) -> int:
        """MERGE-shaped gold maintenance: combine a *delta* gold aggregate
        into the existing gold rows by key, rewriting only the partitions
        the delta touches (read-merge-commit through the atomic manifest
        table — partition-level rather than row-level commit granularity,
        but crash-atomic: a kill anywhere before the manifest rename
        leaves gold at the previous complete snapshot, and replaying the
        delta converges to the same merged state).

        Complements :meth:`refresh_partitions`: recompute reads SILVER for
        the touched partitions (cost ∝ silver slice — right when silver is
        cheap to re-scan or late data is a large share), while upsert reads
        only the GOLD slice plus the delta (cost ∝ aggregate rows — right
        when a few late rows land in big, already-built partitions, the
        100 TB norm). Both are idempotent only per their inputs: replaying
        the same delta twice double-counts, so drive upsert from an
        exactly-once batch source (IncrementalIngest's foreachBatch).

        ``merge`` receives ``existing_slice ∪ delta`` and must re-combine
        rows by key (e.g. group-by-key summing additive partials). Partials
        stored in gold must be mergeable EXACTLY — keep sums as decimals
        and round only at read, else merged partials drift from a
        from-scratch recompute in the last cent.

        Returns the number of partitions rewritten."""
        # Materialize the delta once (it is aggregate-sized): both the
        # touched-partition collect and the merged write consume it, and
        # without the checkpoint the full upstream aggregation would
        # execute twice.
        delta_gold = delta_gold.localCheckpoint(eager=True)
        touched = self._capped_touched("upsert", delta_gold)
        if not touched:
            return 0
        if self.table.exists():
            # No read-before-overwrite barrier needed: the merged plan
            # reads the CURRENT snapshot's files while the commit writes
            # a NEW snapshot dir — the manifest flip happens only after
            # the write completes, so the scan and the commit never touch
            # the same files (snapshot isolation from the atomic table).
            existing = self.read_gold().filter(
                partition_predicate(F.col(self.partition_col), touched)
            )
            both = existing.unionByName(delta_gold)
        else:
            both = delta_gold
        self._write_gold(merge(both), touched, fault)
        return len(touched)

    def read_gold(self, empty_schema=None) -> DataFrame:
        """Current gold state. ``empty_schema`` makes a gold table that
        was never built (zero input batches — a legitimate incremental
        no-op run) read as an empty DataFrame of that schema instead of
        raising; see AtomicPartitionedTable.read."""
        return self.table.read(empty_schema=empty_schema)
