"""Crash-atomic commits for partitioned state tables.

The engine's two mutating sinks (``stream_cdc`` keyed state, gold rollup
``upsert``/``refresh``) are read-modify-write: they read the current state
slice, merge, and replace it. Plain dynamic partition overwrite deletes
and rewrites the touched partition directories in place, so a crash
between the read barrier and write completion can lose a partition — the
exact failure mode the reference's exactly-once state discipline exists to
prevent (reference: src/s3_operations.py:40-56 commits processed-state
only after the write lands).

:class:`AtomicPartitionedTable` closes that hole with a manifest-pointer
commit protocol (the Iceberg/Delta idea, reduced to its minimum):

- Data files live in immutable snapshot directories
  ``<root>/data/snap=N/part-*.parquet``. A snapshot only ever holds the
  rows written by commit ``N``; it is never mutated. A commit writes its
  frame sorted within each write task by ``partition_col`` and NOT
  ``partitionBy`` it: one file per write task (at most
  ``MAX_RECORDS_PER_FILE`` rows each), not one directory per value, and
  each file's footer min/max on the column still prunes by value.
- The table's current state is the highest-numbered COMPLETE manifest
  ``<root>/_manifests/manifest-N.json``. It maps each live partition key
  (``partition_dir_name``: ``<pcol>=<Hive-escaped value>``) to the
  snapshot that owns it (``partitions``), records how many keys each
  still-live snapshot wrote (``snapshots``, ``{"N": k}``) and the schema
  of the last committed frame (``schema``). A commit takes its keys from
  an ``Observation`` riding its write (the set of values cast to string,
  plus a NULL flag), never from a listing, and carries forward the
  entries of every snapshot that still owns a live key; entries of
  fully superseded snapshots are dropped.
- A commit writes its snapshot data fully, then publishes the new
  manifest by writing a temp file and atomically PUT-if-absent-ing it
  to its final never-before-used name: ``link(2)`` on local
  filesystems (Hadoop's local rename is check-then-act and silently
  overwrites under a true race — see ``_write_file_atomic``), HDFS's
  NameNode-atomic rename elsewhere. The publish IS the commit point:
  a kill at any earlier moment leaves only invisible orphan files and
  the previous manifest fully intact, and a kill after leaves the new
  state fully published. There is no window in which a reader can
  observe a half-replaced partition, and a racing writer for the same
  version loses with a loud CommitConflict, never a silent overwrite.
- Replaying a failed commit just writes the next snapshot number; orphan
  snapshots are ignored by readers and reaped by :meth:`vacuum`.

Readers reconstruct the table with one parquet scan over the
``data/snap=N`` root of every live snapshot, given the manifest's schema
(so no footer-inference job runs) and ``basePath=<root>/data`` (so the
``snap`` column is recovered from the path, then dropped). A snapshot a
later commit partly superseded adds ``snap = N AND CAST(pcol AS STRING)
IN (its live keys)`` (with an ``isNull`` arm for the NULL key) to the
scan's filter. The roots number the live snapshots, not the values, so
Spark lists them on the driver unless more than
``parallelPartitionDiscovery.threshold`` (32) snapshots are live.

A manifest without ``snapshots`` or ``schema`` (one from a table that
stored a directory per value) raises :class:`ManifestFormatError` on
read and commit: the table is refused, never misread.

All metadata I/O goes through the Hadoop FileSystem API so
the table can live on any supported scheme (file:, hdfs:, s3a: — with the
usual caveat that object stores need an atomic-rename layer or a
PUT-if-absent manifest variant, which this class isolates in
``_write_file_atomic``). That caveat is ENFORCED, not just documented:
:meth:`AtomicPartitionedTable.check_commit_safety` probes the filesystem
before the first commit and raises :class:`UnsafeFilesystemError` on a
scheme without atomic rename (unless the deployment opts in via
``trust_atomic_rename=True``) or on an FS whose rename overwrites an
existing destination.
"""

from __future__ import annotations

import json
import os
import time
import urllib.parse
import uuid
from collections import Counter
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .ingest import MAX_RECORDS_PER_FILE

#: Fault-injection hook: called with a stage name at the commit protocol's
#: observable points ("staged" = snapshot data fully written, manifest not
#: yet published; "published" = manifest renamed into place). Tests raise
#: from these to simulate a crash at the worst moment.
FaultHook = Callable[[str], None]


def partition_predicate(col: Column, values: list) -> Column:
    """Membership predicate that honors a NULL partition value:
    ``isin`` never matches NULL, so a value list containing ``None``
    (e.g. a null event date) must add an explicit ``isNull`` arm —
    otherwise the null-partition slice is silently excluded (from a
    rollup merge, or from a partly superseded snapshot's read) while
    the commit still replaces the NULL key."""
    non_null = [v for v in values if v is not None]
    pred = col.isin(non_null) if non_null else F.lit(False)
    if any(v is None for v in values):
        pred = pred | col.isNull()
    return pred


class UnsafeFilesystemError(RuntimeError):
    """The table's filesystem cannot provide the rename contract the
    manifest commit point relies on — committing would silently lose the
    exactly-once property instead of failing. Raised by the pre-commit
    capability probe, never after a commit has published."""


class ManifestFormatError(RuntimeError):
    """A published manifest lacks a field every manifest must carry
    (``partitions``, ``snapshots``, ``schema``), so the table's state
    cannot be read from it."""


class CommitConflict(RuntimeError):
    """A manifest publish lost its rename race. Raised to the caller only
    after MAX_PUBLISH_RETRIES failed attempts; internally it drives the
    optimistic retry loop."""


@dataclass
class Manifest:
    """One published manifest, parsed. Every field is empty for an
    empty table."""

    #: partition key (``partition_dir_name``) → owning snapshot
    partitions: dict[str, int] = field(default_factory=dict)
    #: live snapshot → keys it wrote
    snapshots: dict[int, int] = field(default_factory=dict)
    #: schema of the last committed frame (None for an empty table)
    schema: StructType | None = None


class AtomicPartitionedTable:
    """A partitioned parquet table whose partition-overwrite commits are
    crash-atomic via numbered snapshot dirs + an atomically-renamed
    manifest pointer."""

    DATA_DIR = "data"
    MANIFEST_DIR = "_manifests"
    MAX_PUBLISH_RETRIES = 10

    #: Filesystems whose rename-to-fresh-path is atomic AND whose rename
    #: onto an existing destination fails instead of overwriting — the two
    #: properties the manifest commit point is built on. Object stores
    #: (s3/s3a without an atomic-rename layer, raw gs) emulate rename as
    #: copy+delete and are NOT safe; deployments there must front the
    #: table with an atomic-rename layer (e.g. HBoss/consistent EMR FS)
    #: and opt in via ``trust_atomic_rename=True``.
    ATOMIC_RENAME_SCHEMES = frozenset({"file", "hdfs", "viewfs", "webhdfs"})

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        partition_col: str,
        trust_atomic_rename: bool = False,
    ) -> None:
        if partition_col == "snap":
            # the snapshot-dir layout reserves `snap=` path segments; a
            # user partition of the same name would collide with partition
            # discovery and be silently dropped by read()
            raise ValueError(
                "partition_col 'snap' is reserved by the snapshot layout "
                "(<root>/data/snap=N/...); rename the partition column"
            )
        self.spark = spark
        self.root = root.rstrip("/")
        self.partition_col = partition_col
        self.trust_atomic_rename = trust_atomic_rename
        self._commit_safety_checked = False

    # ------------------------------------------------------------------
    # Hadoop FS plumbing (scheme-portable: file:, hdfs:, s3a:)
    # ------------------------------------------------------------------
    def _jpath(self, *parts: str):
        jvm = self.spark._jvm
        return jvm.org.apache.hadoop.fs.Path("/".join((self.root, *parts)))

    def _fs(self):
        return self._jpath().getFileSystem(
            self.spark._jsc.hadoopConfiguration()
        )

    def _scheme(self) -> str:
        # Parsed from the root URI, NOT from an instantiated FileSystem:
        # the allowlist refusal must fire even when the scheme's FS
        # implementation isn't on the classpath (a driver without
        # hadoop-aws pointed at s3a:// should get the clear
        # UnsafeFilesystemError, not a ClassNotFoundException from
        # FileSystem.get). The FS object is only materialized later, for
        # schemes that pass the allowlist or are explicitly trusted.
        jvm = self.spark._jvm
        uri = jvm.org.apache.hadoop.fs.Path(self.root).toUri()
        scheme = uri.getScheme()
        if scheme is not None:
            # lowercased to match cloud.py's _scheme_of: an
            # uppercase-scheme URI ("HDFS://...") must hit the same
            # allowlist entry as its canonical form
            return str(scheme).lower()
        # No scheme on the path → whatever fs.defaultFS resolves to
        # (file: on a local deploy, hdfs: on a cluster).
        return str(self._fs().getUri().getScheme() or "file").lower()

    def _rename(self, src_jpath, dst_jpath) -> bool:
        """The raw FS rename — the commit primitive, isolated as a seam
        so the capability probe and tests exercise exactly the call the
        publish path uses (a test can subclass with a lying rename)."""
        return bool(self._fs().rename(src_jpath, dst_jpath))

    def check_commit_safety(self) -> None:
        """Fail loudly BEFORE any commit if this filesystem cannot honor
        the rename contract the manifest commit point is built on. Runs
        once per table handle (cached); called automatically by
        :meth:`commit_overwrite_partitions`.

        Two layered checks, because non-atomicity cannot be detected
        behaviorally (a non-atomic rename still *succeeds*):

        1. Scheme allowlist — rename-to-fresh-path atomicity is a known
           property of the FS implementation (POSIX/HDFS yes; object
           stores emulate rename as copy+delete — a reader or rival
           writer can observe the half-renamed state). Unknown schemes
           are rejected unless the caller passed
           ``trust_atomic_rename=True`` (deployments that front the
           store with an atomic-rename layer).
        2. Behavioral probe — rename ONTO AN EXISTING destination must
           fail, not overwrite: two writers racing the same manifest
           version both "win" on an overwriting FS, and the loser's
           commit is silently dropped. This is probed with two scratch
           files under ``_manifests/``. NOTE the probe is sequential,
           so it cannot detect a check-then-act rename that only
           overwrites under a true race (Hadoop's local FS) — which is
           why ``_write_file_atomic`` publishes via ``link(2)`` on
           ``file:`` instead of trusting rename at all.

        Raises :class:`UnsafeFilesystemError`; never mutates table state.
        """
        if self._commit_safety_checked:
            return
        scheme = self._scheme()
        if (
            scheme not in self.ATOMIC_RENAME_SCHEMES
            and not self.trust_atomic_rename
        ):
            raise UnsafeFilesystemError(
                f"filesystem scheme {scheme!r} is not known to provide "
                f"atomic rename-to-fresh-path; the manifest commit point "
                f"would not be crash-atomic (a kill mid-rename exposes "
                f"half-published state). Front the store with an "
                f"atomic-rename layer and pass trust_atomic_rename=True "
                f"to accept responsibility for that property."
            )
        fs = self._fs()
        tag = uuid.uuid4().hex
        a = self._jpath(self.MANIFEST_DIR, f".probe-{tag}-a")
        b = self._jpath(self.MANIFEST_DIR, f".probe-{tag}-b")
        for jp in (a, b):
            stream = fs.create(jp, False)
            stream.close()
        try:
            if self._rename(a, b):
                raise UnsafeFilesystemError(
                    f"filesystem scheme {scheme!r} OVERWRITES on rename "
                    f"to an existing destination; two writers racing a "
                    f"manifest version would both 'win' and one commit "
                    f"would be silently lost. This table cannot run "
                    f"safely here."
                )
        finally:
            fs.delete(a, False)
            fs.delete(b, False)
        self._commit_safety_checked = True

    def _read_small_file(self, jpath) -> str:
        jvm = self.spark._jvm
        fs = self._fs()
        stream = fs.open(jpath)
        try:
            out = jvm.java.io.ByteArrayOutputStream()
            jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, out, 4096)
            return out.toString("UTF-8")
        finally:
            stream.close()

    def _write_file_atomic(self, rel_dir: str, name: str, text: str) -> None:
        """Write ``text`` to ``<root>/<rel_dir>/<name>`` via temp file +
        atomic PUT-if-absent — the publish primitive. Fails loudly if the
        destination already exists (two writers racing the same commit
        number: exactly one wins).

        The publish step is scheme-dependent, because "fails if the
        destination exists" must hold under TRUE CONCURRENCY, not just
        sequentially:

        * ``file:`` — ``link(2)`` on the fully-written temp.  Hadoop's
          local rename (ChecksumFileSystem/RawLocalFileSystem) is
          CHECK-THEN-ACT: an ``exists(dst)`` test followed by POSIX
          ``rename(2)``, which silently overwrites — two racers can both
          pass the test and both "succeed", and the loser's manifest is
          silently replaced (a lost update; caught by the 8-writer soak
          under load, ~1-in-6 at 24 racing publishes).  ``link(2)`` is a
          kernel-atomic create: it raises EEXIST for exactly one racer.
        * everything else — Hadoop ``rename``, which HDFS implements
          atomically in the NameNode (fails if dst exists).  Object
          stores never reach here (check_commit_safety's allowlist).
        """
        fs = self._fs()
        tmp = self._jpath(rel_dir, f".tmp-{uuid.uuid4().hex}-{name}")
        final = self._jpath(rel_dir, name)
        stream = fs.create(tmp, False)
        try:
            stream.write(bytearray(text.encode("utf-8")))
        finally:
            stream.close()
        final_local = self._local_path(final)
        if final_local is not None:
            try:
                os.link(self._local_path(tmp), final_local)
            except FileExistsError:
                fs.delete(tmp, False)
                raise CommitConflict(
                    f"atomic commit conflict: {final} already exists "
                    f"(concurrent writer)"
                ) from None
            fs.delete(tmp, False)
            return
        if not self._rename(tmp, final):
            fs.delete(tmp, False)
            raise CommitConflict(
                f"atomic commit conflict: {final} already exists "
                f"(concurrent writer)"
            )

    def _local_path(self, jpath) -> str | None:
        """``jpath`` as an absolute local path on a ``file:`` table, where
        the kernel's atomic create primitives replace Hadoop's
        check-then-act ones; None on any other scheme, and under a
        relative local root (no stable cwd contract: single-process use
        only)."""
        if self._scheme() != "file":
            return None
        path = str(jpath.toUri().getPath())
        return path if os.path.isabs(path) else None

    def _create_exclusive(self, jpath) -> None:
        """Create the empty file ``jpath``, failing if it exists. Hadoop's
        local ``create`` with overwrite=False is check-then-act (an
        ``exists`` test, then a plain open): with 8 threads racing one
        path on a 4-vCPU host, 9 of 40 rounds had more than one winner.
        ``file:`` therefore uses ``O_CREAT | O_EXCL``; HDFS's create is
        NameNode-atomic."""
        local = self._local_path(jpath)
        if local is None:
            self._fs().create(jpath, False).close()
            return
        os.makedirs(os.path.dirname(local), exist_ok=True)
        os.close(os.open(local, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644))

    def _list_names(self, *parts: str) -> list[str]:
        fs = self._fs()
        jpath = self._jpath(*parts)
        if not fs.exists(jpath):
            return []
        return [st.getPath().getName() for st in fs.listStatus(jpath)]

    # ------------------------------------------------------------------
    # Manifest state
    # ------------------------------------------------------------------
    @staticmethod
    def _manifest_version(name: str) -> int | None:
        if not (name.startswith("manifest-") and name.endswith(".json")):
            return None
        try:
            return int(name[len("manifest-"):-len(".json")])
        except ValueError:
            return None

    def current_version(self) -> int:
        """Highest complete (fully-renamed) manifest number; 0 = empty
        table. Temp files never parse as a version, so a crashed publish
        is invisible here."""
        versions = [
            v
            for name in self._list_names(self.MANIFEST_DIR)
            if (v := self._manifest_version(name)) is not None
        ]
        return max(versions, default=0)

    def exists(self) -> bool:
        return self.current_version() > 0

    def _manifest(self, version: int | None = None) -> Manifest:
        """The manifest of ``version`` (default: current); an empty
        :class:`Manifest` for an empty table. The file comes from disk:
        one without a required field raises :class:`ManifestFormatError`."""
        v = self.current_version() if version is None else version
        if v == 0:
            return Manifest()
        if version is not None and not self._fs().exists(
            self._jpath(self.MANIFEST_DIR, f"manifest-{v}.json")
        ):
            raise FileNotFoundError(
                f"atomic table {self.root} has no manifest for version {v} "
                f"(never committed, or expired by vacuum)"
            )
        doc = json.loads(self._read_small_file(
            self._jpath(self.MANIFEST_DIR, f"manifest-{v}.json")
        ))
        missing = [
            k for k in ("partitions", "snapshots", "schema") if k not in doc
        ]
        if missing:
            raise ManifestFormatError(
                f"atomic table {self.root}: manifest version {v} has no "
                f"{' or '.join(missing)} (a table that stored one directory "
                f"per value); it cannot be read or committed to"
            )
        return Manifest(
            partitions={str(k): int(s) for k, s in doc["partitions"].items()},
            snapshots={int(s): int(k) for s, k in doc["snapshots"].items()},
            schema=StructType.fromJson(doc["schema"]),
        )

    def current_partition_paths(
        self, version: int | None = None
    ) -> dict[str, str]:
        """Live partition key → the snapshot dir (``.../snap=N/``) that
        holds its rows. For consumers that need file-level introspection,
        e.g. tests asserting untouched partitions were not rewritten.
        ``version`` pins a historical manifest (time travel)."""
        data = f"{self.root}/{self.DATA_DIR}"
        return {
            key: f"{data}/snap={snap}/"
            for key, snap in self._manifest(version).partitions.items()
        }

    def _key_value(self, key: str) -> str | None:
        """The value (as Spark casts it to string) a manifest key names:
        the inverse of :meth:`partition_dir_name`."""
        if key == self.partition_dir_name(None):
            return None
        return urllib.parse.unquote(key[len(self.partition_col) + 1:])

    # ------------------------------------------------------------------
    # Read / commit / vacuum
    # ------------------------------------------------------------------
    def read(
        self,
        version: int | None = None,
        empty_schema=None,
    ) -> DataFrame:
        """The live rows, ``partition_col`` last: one parquet scan over
        the live snapshots given the manifest's schema, so the column
        keeps the type it was written with and no footer-inference or
        listing job runs; a partly superseded snapshot is filtered to its
        live keys.

        ``version`` reads the table AS OF that commit (time travel):
        manifests are immutable and snapshots are append-only, so any
        un-vacuumed historical state reconstructs exactly. After
        :meth:`vacuum` only the current version remains readable.

        ``empty_schema`` (a StructType or DDL string): when given, a
        table with no live partitions — never committed, or every
        partition dropped — reads as an EMPTY DataFrame of that schema
        instead of raising, ``partition_col`` last as in every read. A
        pipeline whose incremental run saw zero input rows is a
        legitimate state, not an error; the caller supplies the schema
        because an empty table can't know it."""
        m = self._manifest(version)
        if not m.partitions and empty_schema is not None and version is None:
            empty = self.spark.createDataFrame([], empty_schema)
            if self.partition_col not in empty.columns:
                return empty
            return empty.select(
                *[c for c in empty.columns if c != self.partition_col],
                self.partition_col,
            )
        if not m.partitions:
            # distinguish "never committed" (schema unknowable — caller
            # bug) from "committed but currently empty" (every partition
            # dropped — a legitimate state a caller may want to handle)
            state = (
                "is empty (every partition dropped)"
                if self.exists() and version is None
                else "has no committed snapshot"
                + (f" at version {version}" if version is not None else "")
            )
            raise FileNotFoundError(f"atomic table {self.root} {state}")
        data = f"{self.root}/{self.DATA_DIR}"
        pcol = m.schema[self.partition_col]
        live = Counter(m.partitions.values())
        snaps = sorted(live)
        scan = (
            self.spark.read.option("basePath", data)
            .schema(StructType(
                [f for f in m.schema.fields if f.name != pcol.name] + [pcol]
            ))
            .parquet(*[f"{data}/snap={s}" for s in snaps])
        )
        partial = [s for s in snaps if m.snapshots.get(s) != live[s]]
        if partial:
            keep = F.col("snap").isin([s for s in snaps if s not in partial])
            key_str = F.col(self.partition_col).cast("string")
            for s in partial:
                keep = keep | (F.col("snap") == s) & partition_predicate(
                    key_str,
                    [
                        self._key_value(k)
                        for k, owner in m.partitions.items()
                        if owner == s
                    ],
                )
            scan = scan.filter(keep)
        return scan.drop("snap")

    RESERVE_PREFIX = ".reserved-snap-"

    def _next_snapshot(self) -> int:
        """Next snapshot number: above every manifest, every existing
        snapshot dir AND every reservation marker, so a replay after a
        crashed commit (orphan ``snap=N`` dir, no manifest) never reuses
        or mixes with the orphan's files."""
        ids = [self.current_version()]
        for name in self._list_names(self.DATA_DIR):
            if name.startswith("snap=") and name.split("=", 1)[1].isdigit():
                ids.append(int(name.split("=", 1)[1]))
            elif (
                name.startswith(self.RESERVE_PREFIX)
                and name[len(self.RESERVE_PREFIX):].isdigit()
            ):
                ids.append(int(name[len(self.RESERVE_PREFIX):]))
        return max(ids) + 1

    def _reserve_snapshot(self) -> int:
        """Claim a snapshot number exclusively by creating a hidden
        marker file (:meth:`_create_exclusive`; Spark's file sources skip
        dot-files, so the marker is invisible to readers).
        ``errorifexists`` on the data write alone is check-then-act: two
        racing writers could both pass the existence check and interleave
        task files INSIDE one snapshot dir, which would corrupt the
        snapshot without any error — the reservation closes that window.

        A won marker whose ``snap=N`` dir already exists does not count:
        a rival reserved N, wrote it and released the marker after this
        writer's :meth:`_next_snapshot` scan, so N is taken (writing on
        would fail with ``PATH_ALREADY_EXISTS``). The marker is dropped
        and the number rescanned."""
        fs = self._fs()
        last = "none"
        for _attempt in range(self.MAX_PUBLISH_RETRIES * 4):
            snap = self._next_snapshot()
            marker = self._jpath(
                self.DATA_DIR, f"{self.RESERVE_PREFIX}{snap}"
            )
            try:
                self._create_exclusive(marker)
            except Exception as exc:  # rival holds it — rescan
                last = str(exc)
                continue
            if not fs.exists(self._jpath(self.DATA_DIR, f"snap={snap}")):
                return snap
            fs.delete(marker, False)
            last = f"snap={snap} already written"
        raise CommitConflict(
            f"atomic commit on {self.root} could not reserve a snapshot "
            f"number (last error: {last})"
        )

    #: Characters Spark's ExternalCatalogUtils.escapePathName escapes in
    #: hive-style partition dir names (plus ASCII control chars).
    _HIVE_ESCAPED = set('"#%\'*/:=?\\\x7f{[]^')

    def partition_dir_name(self, value) -> str:
        """The manifest key of a partition value: the hive-style
        directory name a ``partitionBy`` write would give it. Mirrors
        Spark's escapePathName so ``replaced`` values round-trip for
        strings with special characters and for NULL.

        Only None, int, and str values are accepted: Python's str() of
        bool/float/datetime diverges from Spark's Cast-to-string
        rendering ('True' vs 'true', precision, timestamp format), which
        would make the manifest pop a silent no-op and leave the very
        stale partition ``replaced`` exists to prevent. Callers with
        such partition types must pre-render the value exactly as Spark
        casts it to string."""
        if value is None:
            return f"{self.partition_col}=__HIVE_DEFAULT_PARTITION__"
        if isinstance(value, bool) or not isinstance(value, (int, str)):
            raise TypeError(
                f"replaced value {value!r} ({type(value).__name__}): only "
                f"None/int/str round-trip Spark's partition-dir rendering "
                f"exactly; pass the directory's value string instead"
            )
        return self._key(str(value))

    def _key(self, text: str) -> str:
        """The manifest key of a value rendered as ``text``."""
        escaped = "".join(
            f"%{ord(c):02X}"
            if c in self._HIVE_ESCAPED or ord(c) < 0x20
            else c
            for c in text
        )
        return f"{self.partition_col}={escaped}"

    def _write_snapshot(self, df: DataFrame, path: str) -> list[str]:
        """Write ``df``'s rows into the snapshot dir ``path``, clustered
        by ``partition_col`` within each write task, and return the keys
        of the values written. The keys ride the write as an Observation:
        the set of values cast to string (Spark's rendering, the same
        ``Cast`` a ``partitionBy`` dir name uses) and a NULL flag, since
        ``collect_set`` drops NULLs."""
        obs = Observation()
        col = F.col(self.partition_col)
        (
            df.sortWithinPartitions(self.partition_col)
            .observe(
                obs,
                F.collect_set(col.cast("string")).alias("keys"),
                F.bool_or(col.isNull()).alias("has_null"),
            )
            .write.mode("errorifexists")
            .option("maxRecordsPerFile", MAX_RECORDS_PER_FILE)
            .parquet(path)
        )
        got = obs.get
        return [self._key(v) for v in got["keys"]] + (
            [self.partition_dir_name(None)] if got["has_null"] else []
        )

    def commit_overwrite_partitions(
        self,
        df: DataFrame,
        fault: FaultHook | None = None,
        replaced: list | None = None,
    ) -> int:
        """Atomically replace exactly the partitions present in ``df``
        (which must carry ``partition_col``); all other live partitions
        are untouched — their files are not even read.

        ``replaced`` names partition VALUES whose full contents this
        commit owns: any of them for which ``df`` produced no rows are
        DROPPED from the manifest (the only way to empty a partition —
        without it, a row-level delete that eliminates a partition's
        last row would silently keep serving the old files). The drop,
        like the overwrite, happens only at the manifest publish, so it
        is exactly as crash-atomic as the writes.

        ``df`` must not carry a column named ``snap``: the snapshot
        layout reserves it, partition discovery would recover a
        duplicate, and :meth:`read` drops it — the user column would be
        silently lost.

        Protocol: write ``df`` into a fresh ``snap=N`` dir (invisible to
        readers; N is unique — :meth:`_reserve_snapshot` claims it), then
        publish a manifest whose VERSION is chosen at publish time: read
        the current mapping, apply the drops and this snapshot's keys, and
        rename a temp file to ``manifest-<current+1>.json``. The
        rename-to-fresh-path is the atomic commit point; if a concurrent
        writer won that version number, the rename fails and the publish
        RETRIES against the winner's mapping (optimistic concurrency,
        partition-level last-writer-wins — the Iceberg commit loop).
        Choosing the version at publish time is what makes a slow writer
        safe: its base mapping and its manifest name are read in the same
        attempt, so it can never publish an older-numbered manifest that
        silently loses to a faster writer. A crash before the rename leaves
        the previous manifest with only orphan files on disk; a replay
        commits the same logical content under the next version. Returns
        the number of partitions (re)written."""
        if "snap" in df.columns:
            raise ValueError(
                "column name 'snap' is reserved by the snapshot layout "
                "(it would be dropped on read); rename it before commit"
            )
        self.check_commit_safety()
        snap = self._reserve_snapshot()
        written = self._write_snapshot(
            df, f"{self.root}/{self.DATA_DIR}/snap={snap}"
        )
        # the snap dir itself now guards the id; the reservation marker
        # has done its job (a crash before this point leaves it for
        # vacuum to reap)
        self._fs().delete(
            self._jpath(self.DATA_DIR, f"{self.RESERVE_PREFIX}{snap}"),
            False,
        )
        if fault is not None:
            fault("staged")
        for _attempt in range(self.MAX_PUBLISH_RETRIES):
            base_version = self.current_version()
            m = self._manifest(None)
            mapping = m.partitions
            if replaced is not None:
                for value in replaced:
                    mapping.pop(self.partition_dir_name(value), None)
            for name in written:
                mapping[name] = snap
            wrote = {**m.snapshots, snap: len(written)}
            live = set(mapping.values())
            version = base_version + 1
            manifest = {
                "version": version,
                "snapshot": snap,
                "partition_col": self.partition_col,
                "partitions": mapping,
                "snapshots": {
                    str(s): n for s, n in wrote.items() if s in live
                },
                "schema": df.schema.jsonValue(),
            }
            try:
                self._write_file_atomic(
                    self.MANIFEST_DIR,
                    f"manifest-{version}.json",
                    json.dumps(manifest, sort_keys=True),
                )
            except CommitConflict:
                continue  # a rival took this version; re-read and retry
            if fault is not None:
                fault("published")
            return len(written)
        raise CommitConflict(
            f"atomic commit on {self.root} lost the publish race "
            f"{self.MAX_PUBLISH_RETRIES} times (snapshot snap={snap} is "
            f"staged and will be retried or vacuumed)"
        )

    #: Default vacuum grace period (seconds). An unreferenced snapshot or
    #: reservation marker younger than this is treated as a possibly
    #: in-flight commit and kept (Iceberg's expire-snapshots threshold,
    #: reduced to its minimum). Sized so any realistic stage-to-publish
    #: window fits with wide margin.
    VACUUM_GRACE_SECONDS = 3600.0

    def vacuum(self, grace_seconds: float | None = None) -> int:
        """Delete snapshot dirs no current partition references, stale
        reservation markers, and all non-current manifests (time travel
        is not part of this table's contract; callers needing it skip
        vacuum). Safe against crashed commits: orphan snapshots are
        exactly the unreferenced ones.

        CONCURRENT-WRITER SAFETY: an in-flight commit that has staged its
        ``snap=N`` dir (or only created its ``.reserved-snap-N`` marker)
        but not yet published its manifest is indistinguishable from a
        crashed commit's orphan by reference-counting alone — deleting it
        would let the subsequent publish succeed while pointing at
        deleted files (data loss), and deleting a live reservation marker
        reopens the snapshot-number-reuse race the marker closes. The
        guard is age: anything younger than ``grace_seconds`` (default
        :data:`VACUUM_GRACE_SECONDS`) is kept. Pass ``grace_seconds=0``
        ONLY when the caller holds exclusive access to the table (no
        concurrent writers — e.g. a maintenance window, or tests).

        Not safe to run concurrently with a reader pinned to an old
        manifest. Returns the number of snapshot dirs removed."""
        grace = (
            self.VACUUM_GRACE_SECONDS if grace_seconds is None
            else grace_seconds
        )
        cutoff_ms = (time.time() - grace) * 1000.0
        fs = self._fs()
        current = self.current_version()
        live_snaps = set(self._manifest().partitions.values())
        removed = 0
        data_path = self._jpath(self.DATA_DIR)
        statuses = fs.listStatus(data_path) if fs.exists(data_path) else []
        for st in statuses:
            name = st.getPath().getName()
            if st.getModificationTime() > cutoff_ms:
                continue  # possibly an in-flight writer — keep
            if name.startswith(self.RESERVE_PREFIX):
                sid = name[len(self.RESERVE_PREFIX):]
                if sid.isdigit() and int(sid) not in live_snaps:
                    fs.delete(self._jpath(self.DATA_DIR, name), False)
                continue
            if not name.startswith("snap="):
                continue
            sid = name.split("=", 1)[1]
            if sid.isdigit() and int(sid) not in live_snaps:
                fs.delete(self._jpath(self.DATA_DIR, name), True)
                removed += 1
        man_path = self._jpath(self.MANIFEST_DIR)
        man_statuses = (
            fs.listStatus(man_path) if fs.exists(man_path) else []
        )
        for st in man_statuses:
            name = st.getPath().getName()
            v = self._manifest_version(name)
            is_scratch = name.startswith(".tmp-") or name.startswith(
                ".probe-"
            )
            # a young .tmp- may be an in-flight publish about to rename;
            # deleting it only costs the writer a retry, but the grace
            # guard keeps vacuum zero-interference under concurrency
            if is_scratch and st.getModificationTime() > cutoff_ms:
                continue
            if (v is not None and v < current) or is_scratch:
                fs.delete(self._jpath(self.MANIFEST_DIR, name), False)
        return removed
