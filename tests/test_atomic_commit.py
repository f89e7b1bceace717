"""Crash-atomicity of the manifest-pointer commit protocol
(pipeline/atomic.py) and of the two mutating sinks built on it
(PartitionedRollup.upsert / stream_cdc's keyed state merge).

The core property under test (VERDICT r4 action #2): a kill at ANY point
before the manifest rename must leave the table at the previous complete
snapshot — never a half-replaced partition — and replaying the failed
commit must converge to exactly the state a crash-free run produces.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from serverless_etl_aws_spark.pipeline.atomic import AtomicPartitionedTable


class Boom(RuntimeError):
    pass


def crash_at(stage: str):
    """Fault hook that simulates a kill at the named protocol stage."""

    def hook(s: str) -> None:
        if s == stage:
            raise Boom(f"injected crash at {s}")

    return hook


def snapshot(table) -> dict:
    return {
        (r["day"], r["k"]): r["v"] for r in table.read().collect()
    }


@pytest.fixture()
def table(spark, tmp_path):
    return AtomicPartitionedTable(spark, str(tmp_path / "tbl"), "day")


def df_of(spark, rows):
    return spark.createDataFrame(rows, "day string, k string, v long")


def per_value_rows(spark, table, version=None) -> list[tuple]:
    """The reference read: each live key's rows, read on their own from
    the snapshot dir that owns the key (a row belongs to the key its
    value renders to), as sorted ``(k, v, day)`` tuples."""
    rows = []
    for key, path in table.current_partition_paths(version).items():
        rows += [
            (r["k"], r["v"], r["day"])
            for r in spark.read.parquet(path).collect()
            if table.partition_dir_name(r["day"]) == key
        ]
    return sorted(rows, key=repr)


def read_rows(df) -> list[tuple]:
    """``df``'s rows as sorted ``(k, v, day)`` tuples."""
    return sorted(((r["k"], r["v"], r["day"]) for r in df.collect()), key=repr)


class TestAtomicTable:
    def test_commit_read_roundtrip_across_snapshots(self, spark, table):
        """Partitions committed in different snapshots read back as one
        table; a later commit replaces only the partitions it carries."""
        table.commit_overwrite_partitions(
            df_of(spark, [("d1", "a", 1), ("d2", "b", 2)])
        )
        table.commit_overwrite_partitions(df_of(spark, [("d2", "b", 20)]))
        assert snapshot(table) == {("d1", "a"): 1, ("d2", "b"): 20}
        # d1 is still served from snapshot 1, d2 from snapshot 2
        paths = table.current_partition_paths()
        assert "/snap=1/" in paths["day=d1"]
        assert "/snap=2/" in paths["day=d2"]

    def test_crash_before_publish_preserves_old_state_and_replay_converges(
        self, spark, table
    ):
        """Kill between data materialization and manifest publish: readers
        must still see the pre-commit state; replaying the same commit
        must land the new state exactly once."""
        table.commit_overwrite_partitions(
            df_of(spark, [("d1", "a", 1), ("d2", "b", 2)])
        )
        with pytest.raises(Boom):
            table.commit_overwrite_partitions(
                df_of(spark, [("d1", "a", 100)]), fault=crash_at("staged")
            )
        # crash-atomic: the staged snapshot is invisible
        assert table.current_version() == 1
        assert snapshot(table) == {("d1", "a"): 1, ("d2", "b"): 2}
        # replay: same logical commit, next snapshot number, exact state
        table.commit_overwrite_partitions(df_of(spark, [("d1", "a", 100)]))
        assert snapshot(table) == {("d1", "a"): 100, ("d2", "b"): 2}
        # the orphan from the crashed attempt was not reused
        assert "/snap=3/" in table.current_partition_paths()["day=d1"]

    def test_crash_after_publish_is_already_committed(self, spark, table):
        """A kill after the manifest rename is a completed commit — the
        new state is fully visible on restart."""
        table.commit_overwrite_partitions(df_of(spark, [("d1", "a", 1)]))
        with pytest.raises(Boom):
            table.commit_overwrite_partitions(
                df_of(spark, [("d1", "a", 7)]), fault=crash_at("published")
            )
        assert snapshot(table) == {("d1", "a"): 7}

    def test_null_partition_round_trips(self, spark, table):
        """The hive default-partition dir for NULL values must survive
        the manifest round trip (commit → list → manifest → basePath
        read)."""
        table.commit_overwrite_partitions(
            df_of(spark, [(None, "a", 1), ("d1", "b", 2)])
        )
        table.commit_overwrite_partitions(df_of(spark, [(None, "a", 10)]))
        assert snapshot(table) == {(None, "a"): 10, ("d1", "b"): 2}

    def test_vacuum_reaps_orphans_and_old_snapshots_only(self, spark, table):
        """vacuum removes crashed-commit orphans and superseded snapshot
        dirs but never a live one; the table reads identically after."""
        table.commit_overwrite_partitions(
            df_of(spark, [("d1", "a", 1), ("d2", "b", 2)])
        )
        with pytest.raises(Boom):  # orphan snap=2
            table.commit_overwrite_partitions(
                df_of(spark, [("d1", "a", 5)]), fault=crash_at("staged")
            )
        table.commit_overwrite_partitions(df_of(spark, [("d1", "a", 9)]))
        before = snapshot(table)
        removed = table.vacuum(grace_seconds=0)  # test owns the table exclusively
        # snap=2 (orphan) gone; snap=1 still live (owns d2), snap=3 live
        assert removed == 1
        data_root = os.path.join(table.root, "data")
        assert sorted(os.listdir(data_root)) == ["snap=1", "snap=3"]
        assert snapshot(table) == before
        # only the current manifest remains (version 2: versions count
        # PUBLISHED commits, so the crashed snap=2 attempt took no number)
        manifests = [
            n for n in os.listdir(os.path.join(table.root, "_manifests"))
            if n.startswith("manifest-")
        ]
        assert manifests == ["manifest-2.json"]

    def test_empty_table_read_raises_cleanly(self, table):
        with pytest.raises(FileNotFoundError, match="no committed snapshot"):
            table.read()


class TestMutatingSinksCrashAtomic:
    def test_rollup_upsert_crash_then_replay_reaches_oracle_state(
        self, spark, tmp_path
    ):
        """The VERDICT r4 'done' criterion: kill the gold upsert between
        materialize and commit (injected fault), then replay the SAME
        delta — the final gold must equal the crash-free merge, with no
        double-count from the failed attempt."""
        from serverless_etl_aws_spark.pipeline.rollup import PartitionedRollup

        agg = lambda df: df.groupBy("day", "kind").agg(  # noqa: E731
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("total")
        )
        roll = PartitionedRollup(
            spark,
            silver_dir=str(tmp_path / "silver"),
            gold_dir=str(tmp_path / "gold"),
            partition_col="day",
            aggregate=agg,
        )
        initial = spark.createDataFrame(
            [("d1", "a", 10), ("d1", "a", 5), ("d2", "b", 7)],
            "day string, kind string, v long",
        )
        roll.table.commit_overwrite_partitions(agg(initial))

        def delta():
            return agg(
                spark.createDataFrame(
                    [("d1", "a", 3)], "day string, kind string, v long"
                )
            )

        def merge(both):
            return both.groupBy("day", "kind").agg(
                F.sum("n").alias("n"), F.sum("total").alias("total")
            )

        with pytest.raises(Boom):
            roll.upsert(delta(), merge, fault=crash_at("staged"))
        # crash-atomic: gold is byte-for-byte the pre-upsert state
        rows = {
            (r["day"], r["kind"]): (r["n"], r["total"])
            for r in roll.read_gold().collect()
        }
        assert rows == {("d1", "a"): (2, 15), ("d2", "b"): (1, 7)}
        # replay the delta (the exactly-once batch source re-delivers it)
        roll.upsert(delta(), merge)
        rows = {
            (r["day"], r["kind"]): (r["n"], r["total"])
            for r in roll.read_gold().collect()
        }
        # oracle: from-scratch aggregate over initial + delta — applied
        # exactly once despite the crashed first attempt
        assert rows == {("d1", "a"): (3, 18), ("d2", "b"): (1, 7)}

    def test_cdc_style_versioned_merge_crash_then_replay(self, spark, tmp_path):
        """stream_cdc's merge shape against the atomic table: a batch
        crash before the manifest flip leaves the prior state; replaying
        the batch (what the streaming checkpoint does for an uncommitted
        AvailableNow batch) converges because the merge is
        version-resolved (latest (ts, id) wins, deletes persist)."""
        from pyspark.sql.window import Window

        table = AtomicPartitionedTable(spark, str(tmp_path / "state"), "bucket")
        ver = (F.desc("ver"), F.desc("id"))
        w = Window.partitionBy("key").orderBy(*ver)

        def apply_batch(rows, fault=None):
            incoming = spark.createDataFrame(
                rows, "key long, op string, val string, ver long, id long"
            ).withColumn("bucket", F.col("key") % 4)
            if table.exists():
                merged_src = table.read().unionByName(incoming)
            else:
                merged_src = incoming
            merged = (
                merged_src.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1).drop("rn")
            )
            table.commit_overwrite_partitions(merged, fault=fault)

        apply_batch([(1, "u", "a", 1, 1), (2, "u", "b", 1, 2)])
        batch2 = [(1, "u", "a2", 2, 3), (2, "d", None, 2, 4), (5, "u", "e", 1, 5)]
        with pytest.raises(Boom):
            apply_batch(batch2, fault=crash_at("staged"))
        live = {
            r["key"]: r["val"]
            for r in table.read().filter(F.col("op") != "d").collect()
        }
        assert live == {1: "a", 2: "b"}  # batch 2 invisible
        apply_batch(batch2)  # checkpoint replays the uncommitted batch
        live = {
            r["key"]: r["val"]
            for r in table.read().filter(F.col("op") != "d").collect()
        }
        assert live == {1: "a2", 5: "e"}  # upsert applied, delete applied
        # and replaying it AGAIN (duplicate delivery) changes nothing:
        # version resolution makes the merge idempotent
        apply_batch(batch2)
        live = {
            r["key"]: r["val"]
            for r in table.read().filter(F.col("op") != "d").collect()
        }
        assert live == {1: "a2", 5: "e"}


def test_concurrent_publish_merges_against_the_winner(spark, tmp_path):
    """A writer that loses the publish race must NOT silently publish a
    stale-numbered manifest (the lost-update bug a fixed-at-stage-time
    version number would cause): the version is chosen at publish time,
    and a lost rename re-reads the winner's mapping and retries — so the
    slow writer's partitions land ON TOP of the winner's state,
    partition-level last-writer-wins."""
    from serverless_etl_aws_spark.pipeline.atomic import CommitConflict

    table = AtomicPartitionedTable(spark, str(tmp_path / "tbl"), "day")
    table.commit_overwrite_partitions(
        df_of(spark, [("d1", "a", 1), ("d2", "b", 2)])
    )

    # rival wins version 2 with a d2 update while B's publish attempt is
    # in flight: force B's FIRST rename to lose, then let it through
    real_write = table._write_file_atomic
    state = {"failed": False}
    rival = json.dumps({
        "version": 2, "snapshot": 1, "partition_col": "day",
        "partitions": {"day=d1": 1, "day=d2": 1}, "snapshots": {"1": 2},
        "schema": df_of(spark, []).schema.jsonValue(),
    })

    def racing_write(rel_dir, name, text):
        if not state["failed"] and name.startswith("manifest-"):
            state["failed"] = True
            real_write(rel_dir, name, rival)  # the rival publishes first
            raise CommitConflict("injected lost rename")
        return real_write(rel_dir, name, text)

    table._write_file_atomic = racing_write
    try:
        table.commit_overwrite_partitions(df_of(spark, [("d1", "a", 99)]))
    finally:
        table._write_file_atomic = real_write
    # B retried, merged against the winner's mapping, published v3
    assert table.current_version() == 3
    assert snapshot(table) == {("d1", "a"): 99, ("d2", "b"): 2}


def test_publish_retries_exhaust_loudly(spark, tmp_path):
    """If every publish attempt loses its rename, the commit fails with a
    named conflict error instead of looping forever or succeeding
    silently."""
    from serverless_etl_aws_spark.pipeline.atomic import CommitConflict

    table = AtomicPartitionedTable(spark, str(tmp_path / "tbl"), "day")
    table.commit_overwrite_partitions(df_of(spark, [("d1", "a", 1)]))
    real_write = table._write_file_atomic

    def always_lose(rel_dir, name, text):
        if name.startswith("manifest-"):
            raise CommitConflict("injected")
        return real_write(rel_dir, name, text)

    table._write_file_atomic = always_lose
    try:
        with pytest.raises(CommitConflict, match="lost the publish race"):
            table.commit_overwrite_partitions(df_of(spark, [("d1", "a", 2)]))
    finally:
        table._write_file_atomic = real_write
    assert snapshot(table) == {("d1", "a"): 1}  # state untouched


def test_replaced_rejects_unrenderable_value_types(spark, tmp_path):
    """bool/float partition values don't round-trip Python str() vs
    Spark's dir rendering ('True' vs 'true') — replaced must refuse them
    loudly rather than silently popping nothing."""
    table = AtomicPartitionedTable(spark, str(tmp_path / "tbl"), "day")
    with pytest.raises(TypeError, match="only None/int/str"):
        table.partition_dir_name(True)
    with pytest.raises(TypeError, match="only None/int/str"):
        table.partition_dir_name(1.5)


def test_time_travel_read_reconstructs_history(spark, tmp_path):
    """Manifests are immutable and snapshots append-only, so read(version)
    reconstructs any un-vacuumed historical state exactly; vacuum expires
    history loudly, never silently serving the wrong version."""
    table = AtomicPartitionedTable(spark, str(tmp_path / "tbl"), "day")
    table.commit_overwrite_partitions(
        df_of(spark, [("d1", "a", 1), ("d2", "b", 2)])
    )
    table.commit_overwrite_partitions(df_of(spark, [("d1", "a", 10)]))
    table.commit_overwrite_partitions(df_of(spark, [("d2", "b", 20)]))
    assert {
        (r["day"], r["k"]): r["v"] for r in table.read(version=1).collect()
    } == {("d1", "a"): 1, ("d2", "b"): 2}
    assert {
        (r["day"], r["k"]): r["v"] for r in table.read(version=2).collect()
    } == {("d1", "a"): 10, ("d2", "b"): 2}
    assert snapshot(table) == {("d1", "a"): 10, ("d2", "b"): 20}
    table.vacuum(grace_seconds=0)  # exclusive access: no concurrent writers
    assert snapshot(table) == {("d1", "a"): 10, ("d2", "b"): 20}
    with pytest.raises(FileNotFoundError, match="expired by vacuum"):
        table.read(version=1)


def test_many_commits_soak_matches_replay_and_survives_vacuum(spark, tmp_path):
    """30 round-robin commits across 4 partitions: the table must equal a
    driver-side replay of the same overwrite sequence at every 10th
    commit, and vacuum at the end must keep exactly the live snapshots
    while preserving state."""
    table = AtomicPartitionedTable(spark, str(tmp_path / "tbl"), "day")
    expected: dict[tuple, int] = {}
    for n in range(1, 31):
        day = f"d{n % 4}"
        rows = [(day, "a", n), (day, "b", n * 10)]
        table.commit_overwrite_partitions(df_of(spark, rows))
        for d, k, v in rows:
            expected[(d, k)] = v
        if n % 10 == 0:
            assert snapshot(table) == expected, f"diverged at commit {n}"
    assert table.current_version() == 30
    table.vacuum(grace_seconds=0)  # exclusive access: no concurrent writers
    assert snapshot(table) == expected
    # live snapshots = the last writer of each of the 4 partitions
    data_dirs = sorted(os.listdir(os.path.join(table.root, "data")))
    assert data_dirs == ["snap=27", "snap=28", "snap=29", "snap=30"]


def test_replaced_empties_a_partition_crash_atomically(spark, tmp_path):
    """A commit that owns a partition via ``replaced`` but writes no
    rows for it must DROP the partition — and the drop must be exactly
    as crash-atomic as the writes (a kill before the publish leaves the
    partition fully alive)."""
    table = AtomicPartitionedTable(spark, str(tmp_path / "tbl"), "day")
    table.commit_overwrite_partitions(
        df_of(spark, [("d1", "a", 1), ("d2", "b", 2)])
    )
    empty = df_of(spark, []).limit(0)
    # crash first: d1 must survive untouched
    with pytest.raises(Boom):
        table.commit_overwrite_partitions(
            empty, fault=crash_at("staged"), replaced=["d1"]
        )
    assert snapshot(table) == {("d1", "a"): 1, ("d2", "b"): 2}
    # replay: the drop lands
    table.commit_overwrite_partitions(empty, replaced=["d1"])
    assert snapshot(table) == {("d2", "b"): 2}
    assert "day=d1" not in table.current_partition_paths()


def test_replaced_handles_null_and_escaped_values(spark, tmp_path):
    """replaced values round-trip through hive dir-name escaping: NULL
    maps to the default partition, and a value with a reserved char
    (':') matches the dir Spark actually wrote."""
    table = AtomicPartitionedTable(spark, str(tmp_path / "tbl"), "day")
    table.commit_overwrite_partitions(
        df_of(spark, [(None, "a", 1), ("x:y", "b", 2), ("d3", "c", 3)])
    )
    assert table.partition_dir_name("x:y") in table.current_partition_paths()
    empty = df_of(spark, []).limit(0)
    table.commit_overwrite_partitions(empty, replaced=[None, "x:y"])
    assert snapshot(table) == {("d3", "c"): 3}


def test_true_concurrent_writers_converge(spark, tmp_path):
    """Two real threads interleaving commits to disjoint partitions of
    the same table: every commit must survive (no lost updates), the
    version count must equal the commit count, and the final state must
    equal the sequential replay — whatever rename races occurred."""
    import threading
    import traceback

    table = AtomicPartitionedTable(spark, str(tmp_path / "tbl"), "day")
    errors = []

    def writer(day: str, n: int):
        try:
            for v in range(1, n + 1):
                table.commit_overwrite_partitions(
                    df_of(spark, [(day, "a", v)])
                )
        except Exception as exc:  # noqa: BLE001 — surfaced to the assert
            errors.append("".join(traceback.format_exception(exc)))

    t1 = threading.Thread(target=writer, args=("d1", 5))
    t2 = threading.Thread(target=writer, args=("d2", 5))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errors, errors
    assert table.current_version() == 10  # every publish took a version
    assert snapshot(table) == {("d1", "a"): 5, ("d2", "a"): 5}


@pytest.mark.parametrize("seed", [7, 23, 91])
def test_random_walk_matches_dict_model(spark, tmp_path, seed):
    """Model-based soak: a seeded random walk of commits, crashed
    commits, partition-owning empties, and vacuums must keep the table
    equal to a plain dict model applying the same logical operations —
    whatever interleaving of orphans and snapshot reuse occurred."""
    import random

    rng = random.Random(seed)
    table = AtomicPartitionedTable(
        spark, str(tmp_path / f"tbl{seed}"), "day"
    )
    model: dict[tuple, int] = {}
    days = ["d0", "d1", "d2", None]
    for step in range(12):
        op = rng.choice(["commit", "commit", "crash", "empty", "vacuum"])
        if op == "vacuum":
            if table.exists():
                table.vacuum(grace_seconds=0)  # walk is single-writer
            continue
        touched = rng.sample(days, rng.randint(1, 2))
        rows = [(d, "k", step * 10 + i) for i, d in enumerate(touched)]
        if op == "commit":
            table.commit_overwrite_partitions(df_of(spark, rows))
            for d, k, v in rows:
                model[(d, k)] = v
        elif op == "crash":
            with pytest.raises(Boom):
                table.commit_overwrite_partitions(
                    df_of(spark, rows), fault=crash_at("staged")
                )
            # model unchanged: the staged snapshot must stay invisible
        elif op == "empty":
            if not table.exists():
                continue
            table.commit_overwrite_partitions(
                df_of(spark, []).limit(0), replaced=touched
            )
            for d in touched:
                model.pop((d, "k"), None)
        if table.exists():
            try:
                got = snapshot(table)
            except FileNotFoundError as exc:
                assert "is empty" in str(exc)  # all partitions dropped
                got = {}
        else:
            got = {}
        assert got == model, f"diverged at step {step} after {op}"


# ---------------------------------------------------------------------------
# round 6: writer-safe vacuum, reserved-name guards, FS capability probe,
# high-contention soak
# ---------------------------------------------------------------------------

def test_vacuum_grace_protects_inflight_writers(spark, tmp_path):
    """vacuum must NOT reap a freshly staged snapshot or a live
    reservation marker (an in-flight commit between stage and publish is
    indistinguishable from a crashed orphan by reference counting alone
    — deleting it would publish a manifest pointing at deleted files).
    The age guard: default grace keeps young orphans; grace_seconds=0
    (exclusive access) reaps them."""
    table = AtomicPartitionedTable(spark, str(tmp_path / "tbl"), "day")
    table.commit_overwrite_partitions(df_of(spark, [("d1", "a", 1)]))
    # writer A: staged its snapshot (crash leaves the orphan snap dir)
    with pytest.raises(Boom):
        table.commit_overwrite_partitions(
            df_of(spark, [("d1", "a", 5)]), fault=crash_at("staged")
        )
    # writer B: only reserved its snapshot number so far
    reserved = table._reserve_snapshot()
    marker = os.path.join(
        table.root, "data", f"{table.RESERVE_PREFIX}{reserved}"
    )
    data_root = os.path.join(table.root, "data")
    assert os.path.exists(marker)
    assert "snap=2" in os.listdir(data_root)  # the staged orphan
    # default grace: both survive — vacuum sees them as possibly in-flight
    assert table.vacuum() == 0
    assert os.path.exists(marker)
    assert "snap=2" in os.listdir(data_root)
    # the reservation still guards its number: a new commit skips it
    table.commit_overwrite_partitions(df_of(spark, [("d2", "b", 2)]))
    assert f"/snap={reserved + 1}/" in (
        table.current_partition_paths()["day=d2"]
    )
    # exclusive-access vacuum reaps the orphan AND the stale marker
    assert table.vacuum(grace_seconds=0) == 1
    assert not os.path.exists(marker)
    assert "snap=2" not in os.listdir(data_root)
    assert snapshot(table) == {("d1", "a"): 1, ("d2", "b"): 2}


def test_reserved_snap_names_rejected(spark, tmp_path):
    """The snapshot layout reserves 'snap': as a partition column it
    collides with partition discovery; as a data column it would be
    silently dropped by read(). Both must fail loudly."""
    with pytest.raises(ValueError, match="reserved"):
        AtomicPartitionedTable(spark, str(tmp_path / "tbl"), "snap")
    table = AtomicPartitionedTable(spark, str(tmp_path / "tbl2"), "day")
    df = spark.createDataFrame(
        [("d1", 3, 1)], "day string, snap int, v long"
    )
    with pytest.raises(ValueError, match="reserved"):
        table.commit_overwrite_partitions(df)
    assert not table.exists()  # nothing published


def test_unsafe_scheme_refused_before_any_commit(spark, tmp_path):
    """A scheme not known to provide atomic rename (raw object store)
    must be refused BEFORE anything is published — unless the deployment
    explicitly opts in (atomic-rename layer in front)."""
    from serverless_etl_aws_spark.pipeline.atomic import (
        UnsafeFilesystemError,
    )

    class S3LikeTable(AtomicPartitionedTable):
        def _scheme(self) -> str:
            return "s3a"

    table = S3LikeTable(spark, str(tmp_path / "tbl"), "day")
    with pytest.raises(UnsafeFilesystemError, match="atomic rename"):
        table.commit_overwrite_partitions(df_of(spark, [("d1", "a", 1)]))
    assert not table.exists()
    assert not os.path.exists(os.path.join(table.root, "_manifests"))
    # opt-in: deployment fronts the store with an atomic-rename layer
    trusted = S3LikeTable(
        spark, str(tmp_path / "tbl"), "day", trust_atomic_rename=True
    )
    trusted.commit_overwrite_partitions(df_of(spark, [("d1", "a", 1)]))
    assert snapshot(trusted) == {("d1", "a"): 1}


def test_uppercase_scheme_normalized(spark, tmp_path):
    """_scheme() lowercases (ADVICE r8): an uppercase-scheme URI must
    resolve to the same allowlist entry as its canonical form, both on
    the safe side (HDFS→hdfs would pass) and the refusal side
    (S3A→s3a refused, not 'unknown scheme')."""
    table = AtomicPartitionedTable(
        spark, "HDFS://nn:8020/tbl", "day"
    )
    assert table._scheme() == "hdfs"
    upper_s3 = AtomicPartitionedTable(spark, "S3A://bkt/tbl", "day")
    assert upper_s3._scheme() == "s3a"


def test_overwriting_rename_fs_refused(spark, tmp_path):
    """An FS whose rename ONTO an existing destination succeeds
    (overwrite semantics — the raw-S3 copy+delete shape) breaks the
    manifest version race: two writers would both 'win' and one commit
    would be silently lost. The behavioral probe must catch it before
    the first publish."""
    from serverless_etl_aws_spark.pipeline.atomic import (
        UnsafeFilesystemError,
    )

    class OverwritingRenameTable(AtomicPartitionedTable):
        def _rename(self, src, dst) -> bool:  # a lying filesystem
            fs = self._fs()
            if fs.exists(dst):
                fs.delete(dst, False)
            return bool(fs.rename(src, dst))

    table = OverwritingRenameTable(spark, str(tmp_path / "tbl"), "day")
    with pytest.raises(UnsafeFilesystemError, match="OVERWRITES"):
        table.commit_overwrite_partitions(df_of(spark, [("d1", "a", 1)]))
    assert not table.exists()
    # and no manifest was ever published (probe runs pre-commit)
    mdir = os.path.join(table.root, "_manifests")
    assert not os.path.exists(mdir) or all(
        not n.startswith("manifest-") for n in os.listdir(mdir)
    )


def test_eight_writer_contention_soak(spark, tmp_path):
    """8 true concurrent writers × 3 commits each over OVERLAPPING
    partitions (each writer touches its own day plus a shared hot day):
    every publish must take a unique version (no lost updates / ABA on
    snapshot numbers), retry exhaustion must stay loud (surfaced, not
    swallowed), each exclusive partition must hold its writer's last
    value, and the shared partition must hold the last value of
    whichever writer published last — never a torn or stale mix."""
    import threading
    import traceback

    from serverless_etl_aws_spark.pipeline.atomic import CommitConflict

    table = AtomicPartitionedTable(spark, str(tmp_path / "tbl"), "day")
    n_writers, n_commits = 8, 3
    errors: list = []
    published = []  # one append per successful publish
    lock = threading.Lock()

    def writer(w: int):
        try:
            for c in range(1, n_commits + 1):
                v = w * 100 + c
                rows = [(f"d{w}", "a", v), ("shared", f"w{w}", v)]
                for _replay in range(6):  # documented recovery: replay
                    try:
                        table.commit_overwrite_partitions(
                            df_of(spark, rows)
                        )
                        break
                    except CommitConflict:
                        continue
                else:
                    raise RuntimeError(f"writer {w} exhausted replays")
                with lock:
                    published.append((w, c))
        except Exception as exc:  # noqa: BLE001 — surfaced to the assert
            errors.append("".join(traceback.format_exception(exc)))

    threads = [
        threading.Thread(target=writer, args=(w,))
        for w in range(n_writers)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert len(published) == n_writers * n_commits
    # every publish took a unique version — nothing lost, no ABA
    assert table.current_version() == len(published)
    state = snapshot(table)
    for w in range(n_writers):
        assert state[(f"d{w}", "a")] == w * 100 + n_commits
    # shared partition: exactly one writer's final commit owns it whole
    shared = {k: v for (d, k), v in state.items() if d == "shared"}
    owners = {int(k[1:]) for k in shared}
    assert len(owners) == 1, f"torn shared partition: {shared}"
    (owner,) = owners
    assert shared == {f"w{owner}": owner * 100 + n_commits}
    # manifest integrity after the storm: every referenced snapshot dir
    # exists, and an exclusive vacuum keeps the state intact
    for p in table.current_partition_paths().values():
        assert os.path.exists(p), p
    table.vacuum(grace_seconds=0)
    assert snapshot(table) == state


def test_vacuum_runs_live_against_concurrent_writers(spark, tmp_path):
    """The ADVICE-flagged race, exercised for real: vacuum loops with the
    DEFAULT grace period while 4 writer threads commit — any vacuum pass
    that deleted a staged-but-unpublished snapshot or a live reservation
    marker would surface as a publish pointing at deleted files (read
    error) or a lost update. Every commit must survive and the final
    state must equal each writer's last value."""
    import threading

    from serverless_etl_aws_spark.pipeline.atomic import CommitConflict

    table = AtomicPartitionedTable(spark, str(tmp_path / "tbl"), "day")
    table.commit_overwrite_partitions(df_of(spark, [("seed", "a", 0)]))
    n_writers, n_commits = 4, 3
    errors: list = []
    stop = threading.Event()

    def writer(w: int):
        try:
            for c in range(1, n_commits + 1):
                for _replay in range(6):
                    try:
                        table.commit_overwrite_partitions(
                            df_of(spark, [(f"d{w}", "a", w * 100 + c)])
                        )
                        break
                    except CommitConflict:
                        continue
                else:
                    raise RuntimeError(f"writer {w} exhausted replays")
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    def vacuumer():
        try:
            while not stop.is_set():
                table.vacuum()  # DEFAULT grace: must be writer-safe
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [
        threading.Thread(target=writer, args=(w,)) for w in range(n_writers)
    ]
    vt = threading.Thread(target=vacuumer)
    vt.start()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    stop.set()
    vt.join()
    assert not errors, errors
    state = snapshot(table)
    for w in range(n_writers):
        assert state[(f"d{w}", "a")] == w * 100 + n_commits
    assert state[("seed", "a")] == 0
    # exclusive vacuum afterwards still leaves the same state
    table.vacuum(grace_seconds=0)
    assert snapshot(table) == state


def test_read_empty_schema_for_never_built_and_emptied_tables(
    spark, tmp_path
):
    """read(empty_schema=...) returns a TYPED empty DataFrame for both
    empty states — never committed, and committed-then-fully-dropped —
    while the bare read() keeps raising, and time travel is never
    silently empty (round 9: a zero-input pipeline run is a state, not
    an error)."""
    from pyspark.sql import functions as F

    from serverless_etl_aws_spark.pipeline.atomic import (
        AtomicPartitionedTable,
    )

    table = AtomicPartitionedTable(spark, str(tmp_path / "tbl"), "p")
    schema = "k bigint, v double, p string"

    # never committed: bare read raises, empty_schema read is typed-empty
    with pytest.raises(FileNotFoundError, match="no committed snapshot"):
        table.read()
    out = table.read(empty_schema=schema)
    assert out.count() == 0
    assert [f.simpleString() for f in out.schema.fields] == [
        "k:bigint", "v:double", "p:string",
    ]

    # commit data, then drop the only partition: "empty" state
    df = spark.createDataFrame([(1, 2.0, "a")], schema)
    table.commit_overwrite_partitions(df)
    assert table.read().count() == 1
    table.commit_overwrite_partitions(
        spark.createDataFrame([], schema), replaced=["a"]
    )
    with pytest.raises(FileNotFoundError, match="every partition dropped"):
        table.read()
    assert table.read(empty_schema=schema).count() == 0
    # time travel never silently empties: version + empty_schema raises
    with pytest.raises(FileNotFoundError):
        table.read(version=99, empty_schema=schema)


def test_simsearch_empty_corpus_vs_stale_probe(spark):
    """brute_force_topk distinguishes the two zero-probe cases: an
    EMPTY corpus returns an empty (vec_id, cosine) relation; a stale
    probe id against a NON-empty corpus still fails loud (round 9)."""
    from serverless_etl_aws_spark.operators.simsearch import (
        brute_force_topk,
    )

    schema = "vec_id bigint, embedding array<float>"
    empty = spark.createDataFrame([], schema)
    out = brute_force_topk(empty, probe_vec_id=0, k=5)
    assert out.count() == 0
    assert out.columns == ["vec_id", "cosine"]

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.5, 0.5])], schema
    )
    with pytest.raises(ValueError, match="probe vec_id 99 not found"):
        brute_force_topk(corpus, probe_vec_id=99, k=5)


def test_publish_primitive_put_if_absent_under_true_race(spark, tmp_path):
    """The commit point must be PUT-if-absent under TRUE CONCURRENCY,
    not just sequentially. Hadoop's local rename is check-then-act
    (exists(dst) then POSIX rename(2), which overwrites) — under load,
    two of 24 racing publishes intermittently both 'won' the same
    manifest version and one commit was silently lost (caught by the
    8-writer soak, r14). The primitive now publishes via link(2) on
    file:; this pins the property deterministically: N threads racing
    the SAME manifest name → exactly one winner, everyone else gets a
    loud CommitConflict, and the winner's content is intact (never a
    torn or second-writer overwrite)."""
    import json
    import threading

    from serverless_etl_aws_spark.pipeline.atomic import CommitConflict

    table = AtomicPartitionedTable(spark, str(tmp_path / "tbl"), "day")
    # materialize the manifest dir the way a real commit would
    table._fs().mkdirs(table._jpath(table.MANIFEST_DIR))

    n = 16
    outcomes: list = [None] * n
    barrier = threading.Barrier(n)

    def racer(i: int) -> None:
        payload = json.dumps({"writer": i, "pad": "x" * 256})
        barrier.wait()
        try:
            table._write_file_atomic(
                table.MANIFEST_DIR, "manifest-999.json", payload
            )
            outcomes[i] = "won"
        except CommitConflict:
            outcomes[i] = "conflict"

    threads = [threading.Thread(target=racer, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    assert outcomes.count("won") == 1, outcomes
    assert outcomes.count("conflict") == n - 1
    # winner's content round-trips whole (no torn write, no overwrite)
    text = table._read_small_file(
        table._jpath(table.MANIFEST_DIR, "manifest-999.json")
    )
    doc = json.loads(text)
    assert doc["pad"] == "x" * 256
    assert outcomes[doc["writer"]] == "won"
    # no temp litter beyond the crc sidecar of the published file
    litter = [
        name
        for name in table._list_names(table.MANIFEST_DIR)
        if name.startswith(".tmp-")
    ]
    assert litter == [], litter


# ----------------------------------------------------------------------
# Scan roots: read() passes one root per live snapshot
# ----------------------------------------------------------------------
def _day(n: int) -> str:
    return f"2024-01-{n:02d}"


def _commit_days(spark, table, days, v=1, **kw):
    table.commit_overwrite_partitions(
        df_of(spark, [(d and _day(d), f"k{d}", v) for d in days]), **kw
    )


def _fully_live(spark, table):
    _commit_days(spark, table, [1, 2, 3])
    return None, 1


def _partly_superseded(spark, table):
    _commit_days(spark, table, [1, 2, 3])
    _commit_days(spark, table, [2], v=20)
    return None, 2  # snap=1 (days 1 and 3) and snap=2


def _partition_dropped(spark, table):
    _commit_days(spark, table, [1, 2])
    table.commit_overwrite_partitions(
        df_of(spark, []), replaced=[_day(2)]
    )
    return None, 1  # snap=1 keeps only day 1; snap=2 wrote nothing


def _null_partition(spark, table):
    _commit_days(spark, table, [None, 1])
    _commit_days(spark, table, [None], v=10)
    return None, 2  # snap=1 (day 1) and snap=2 (the NULL key)


def _crashed_orphan(spark, table):
    _commit_days(spark, table, [1, 2])
    with pytest.raises(Boom):  # orphan snap=2, never published
        _commit_days(spark, table, [1, 3], v=5, fault=crash_at("staged"))
    return None, 1


def _after_vacuum(spark, table):
    _crashed_orphan(spark, table)
    _commit_days(spark, table, [1], v=9)
    table.vacuum(grace_seconds=0)  # the test owns the table exclusively
    return None, 2  # snap=1 (day 2) and snap=3


def _time_travel(spark, table):
    _commit_days(spark, table, [1, 2])
    _commit_days(spark, table, [2], v=20)
    _commit_days(spark, table, [1, 3], v=30)
    return 2, 2  # as of v2: snap=1 (day 1) and snap=2


def _escaped_keys(spark, table):
    """Keys Hive escaping changes, in a snapshot a later commit partly
    supersedes: its read filter must map each live key back to the value
    it names."""
    values = ["x:y", "a%b", "p/q", "t\tab", "é=1", None, "d1"]
    table.commit_overwrite_partitions(
        df_of(spark, [(d, f"k{i}", 1) for i, d in enumerate(values)])
    )
    table.commit_overwrite_partitions(df_of(spark, [("d1", "k6", 2)]))
    return None, 2  # snap=1 (all but d1) and snap=2


@pytest.mark.parametrize("build", [
    _fully_live, _partly_superseded, _partition_dropped, _null_partition,
    _crashed_orphan, _after_vacuum, _time_travel, _escaped_keys,
], ids=lambda f: f.__name__.lstrip("_"))
def test_rows_layout_read_equals_per_value_read(spark, tmp_path, build):
    """read() is one parquet scan with one root per live snapshot, given
    the manifest's schema, so the partition column keeps its written
    type. Its rows equal each live key's rows read on their own from the
    snapshot that owns the key."""
    import re

    table = AtomicPartitionedTable(spark, str(tmp_path / "tbl"), "day")
    version, want_roots = build(spark, table)
    got = table.read(version=version)
    assert got.dtypes == [("k", "string"), ("v", "bigint"), ("day", "string")]
    assert read_rows(got) == per_value_rows(spark, table, version)
    assert len(set(table.current_partition_paths(version).values())) == (
        want_roots
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1, plan
    assert re.search(r"InMemoryFileIndex\((\d+) paths\)", plan).group(1) == (
        str(want_roots)
    ), plan


@pytest.mark.parametrize("field", ["snapshots", "schema"])
def test_manifest_without_a_required_field_is_refused(spark, tmp_path, field):
    """A manifest without ``snapshots`` or ``schema`` (a table that
    stored one directory per value) makes read() and a commit raise
    ManifestFormatError naming the table and the version; the table is
    never misread and no manifest is published."""
    import re

    from serverless_etl_aws_spark.pipeline.atomic import ManifestFormatError

    table = AtomicPartitionedTable(spark, str(tmp_path / "tbl"), "day")
    _commit_days(spark, table, [1, 2])
    doc = json.loads(table._read_small_file(
        table._jpath(table.MANIFEST_DIR, "manifest-1.json")
    ))
    del doc[field]
    doc["version"] = 2
    table._write_file_atomic(
        table.MANIFEST_DIR, "manifest-2.json", json.dumps(doc)
    )
    match = rf"{re.escape(table.root)}: manifest version 2 has no {field}"
    with pytest.raises(ManifestFormatError, match=match):
        table.read()
    with pytest.raises(ManifestFormatError, match=match):
        _commit_days(spark, table, [3])
    assert table.current_version() == 2


def test_late_reservation_skips_a_written_snapshot(spark, tmp_path):
    """A writer whose snapshot scan ran before a rival's ``snap=N`` write
    landed can win the ``.reserved-snap-N`` marker the rival released
    after that write. The reservation must treat the written ``snap=N``
    as taken and move on; writing into it failed with
    ``PATH_ALREADY_EXISTS`` (the concurrent-writer tests' flake)."""
    table = AtomicPartitionedTable(spark, str(tmp_path / "tbl"), "day")
    table.commit_overwrite_partitions(df_of(spark, [("d1", "a", 1)]))
    real_next = table._next_snapshot
    stale = iter([1])  # the scan that predates the rival's snap=1
    table._next_snapshot = lambda: next(stale, None) or real_next()
    table.commit_overwrite_partitions(df_of(spark, [("d2", "b", 2)]))
    assert snapshot(table) == {("d1", "a"): 1, ("d2", "b"): 2}
    assert sorted(os.listdir(os.path.join(table.root, "data"))) == [
        "snap=1", "snap=2",
    ]


def test_reservation_marker_create_is_exclusive_under_true_race(
    spark, tmp_path
):
    """A snapshot number is claimed by creating its marker, so exactly
    one of the threads racing one marker name may win. Hadoop's local
    ``create`` with overwrite=False is check-then-act and let two or more
    threads win some rounds; 40 rounds of 8 threads must each have one
    winner."""
    import threading

    table = AtomicPartitionedTable(spark, str(tmp_path / "tbl"), "day")
    n = 8
    for r in range(40):
        marker = table._jpath(table.DATA_DIR, f"{table.RESERVE_PREFIX}{r}")
        wins = []
        barrier = threading.Barrier(n)

        def racer():
            barrier.wait(timeout=60)
            try:
                table._create_exclusive(marker)
                wins.append(1)
            except Exception:  # noqa: BLE001 — a lost race
                pass

        threads = [threading.Thread(target=racer) for _ in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
        assert len(wins) == 1, f"round {r}: {len(wins)} winners"


def test_manifest_snapshots_carry_forward_only_live_snapshots(spark, tmp_path):
    """Each manifest records how many keys every still-live snapshot
    wrote; a fully superseded snapshot's entry is dropped."""
    import json

    table = AtomicPartitionedTable(spark, str(tmp_path / "tbl"), "day")

    def recorded() -> dict:
        v = table.current_version()
        return json.loads(table._read_small_file(
            table._jpath(table.MANIFEST_DIR, f"manifest-{v}.json")
        ))["snapshots"]

    _commit_days(spark, table, [1, 2, 3])
    assert recorded() == {"1": 3}
    _commit_days(spark, table, [3, 4])
    assert recorded() == {"1": 3, "2": 2}
    _commit_days(spark, table, [1, 2])
    assert recorded() == {"2": 2, "3": 2}
