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
  ``<root>/data/snap=N/<pcol>=<value>/part-*.parquet``. A snapshot only
  ever holds the partitions written by commit ``N``; it is never mutated.
- The table's current state is the highest-numbered COMPLETE manifest
  ``<root>/_manifests/manifest-N.json`` mapping each live partition
  directory name to the snapshot that owns it (``partitions``), plus how
  many partition dirs each still-live snapshot wrote (``snapshots``,
  ``{"N": k}``). A commit records its own snapshot's count and carries
  forward the entries of every snapshot that still owns a live
  partition; entries of fully superseded snapshots are dropped.
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

Readers reconstruct the table with one multi-path parquet scan using
``basePath=<root>/data`` so both the ``snap`` and user partition columns
are recovered by standard partition discovery — ``snap`` is dropped, and
partition pruning/pushdown still work on the discovered values. The scan
gets one root per live snapshot where it can: ``data/snap=N`` when every
partition dir snapshot N wrote is still live (its ``snapshots`` count
equals its live partitions), and per-partition paths only for a snapshot
a later commit partly superseded. Both cover the same leaf dirs, so rows
and inferred types do not depend on the choice; the number of roots does.
Spark lists more than ``parallelPartitionDiscovery.threshold`` (32) roots,
or more than 32 subdirs of one root, with a Spark job, so a table whose
commits each write at most 32 partitions (one month of days) is now
planned without one. A manifest written before ``snapshots`` existed has
no such field and reads with one path per partition, as it always did; a
commit on top of it records only its own snapshot's count, so the older
snapshots keep the per-partition read until they are superseded.

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
import uuid
from collections import Counter
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

#: Fault-injection hook: called with a stage name at the commit protocol's
#: observable points ("staged" = snapshot data fully written, manifest not
#: yet published; "published" = manifest renamed into place). Tests raise
#: from these to simulate a crash at the worst moment.
FaultHook = Callable[[str], None]


class UnsafeFilesystemError(RuntimeError):
    """The table's filesystem cannot provide the rename contract the
    manifest commit point relies on — committing would silently lose the
    exactly-once property instead of failing. Raised by the pre-commit
    capability probe, never after a commit has published."""


class CommitConflict(RuntimeError):
    """A manifest publish lost its rename race. Raised to the caller only
    after MAX_PUBLISH_RETRIES failed attempts; internally it drives the
    optimistic retry loop."""


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
        if self._scheme() == "file":
            tmp_local = str(tmp.toUri().getPath())
            final_local = str(final.toUri().getPath())
            if os.path.isabs(tmp_local) and os.path.isabs(final_local):
                try:
                    os.link(tmp_local, final_local)
                except FileExistsError:
                    fs.delete(tmp, False)
                    raise CommitConflict(
                        f"atomic commit conflict: {final} already exists "
                        f"(concurrent writer)"
                    ) from None
                fs.delete(tmp, False)
                return
            # relative local root (no stable cwd contract): fall through
            # to the rename path — single-process use only
        if not self._rename(tmp, final):
            fs.delete(tmp, False)
            raise CommitConflict(
                f"atomic commit conflict: {final} already exists "
                f"(concurrent writer)"
            )

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

    def _manifest(
        self, version: int | None = None
    ) -> tuple[dict[str, int], dict[int, int]]:
        """Partition-dir-name → owning-snapshot mapping for ``version``
        (default: current), and snapshot → partition dirs it wrote for
        every live snapshot (empty for a manifest written before that
        field existed: none of its snapshots reads as whole). Empty
        table → empty mappings."""
        v = self.current_version() if version is None else version
        if v == 0:
            return {}, {}
        if version is not None and not self._fs().exists(
            self._jpath(self.MANIFEST_DIR, f"manifest-{v}.json")
        ):
            raise FileNotFoundError(
                f"atomic table {self.root} has no manifest for version {v} "
                f"(never committed, or expired by vacuum)"
            )
        text = self._read_small_file(
            self._jpath(self.MANIFEST_DIR, f"manifest-{v}.json")
        )
        doc = json.loads(text)
        mapping = {str(k): int(s) for k, s in doc["partitions"].items()}
        wrote = {int(s): int(k) for s, k in doc.get("snapshots", {}).items()}
        return mapping, wrote

    def current_partition_paths(
        self, version: int | None = None
    ) -> dict[str, str]:
        """Live partition dir name → absolute data path (for consumers
        that need file-level introspection, e.g. tests asserting untouched
        partitions were not rewritten). ``version`` pins a historical
        manifest (time travel)."""
        return {
            name: f"{self.root}/{self.DATA_DIR}/snap={snap}/{name}"
            for name, snap in self._manifest(version)[0].items()
        }

    def scan_roots(self, version: int | None = None) -> list[str]:
        """The paths :meth:`read` hands to its one parquet scan: the
        snapshot dir of every snapshot whose written partitions are all
        still live, and the partition dirs of every other live snapshot
        (all of them, for a manifest without ``snapshots``)."""
        mapping, wrote = self._manifest(version)
        live = Counter(mapping.values())
        data = f"{self.root}/{self.DATA_DIR}"
        whole = {snap for snap, n in live.items() if wrote.get(snap) == n}
        return sorted(
            [f"{data}/snap={snap}" for snap in whole]
            + [
                f"{data}/snap={snap}/{name}"
                for name, snap in mapping.items()
                if snap not in whole
            ]
        )

    # ------------------------------------------------------------------
    # Read / commit / vacuum
    # ------------------------------------------------------------------
    def read(
        self,
        version: int | None = None,
        empty_schema=None,
    ) -> DataFrame:
        """One multi-path parquet scan of the live partitions, one root
        per live snapshot where it can (:meth:`scan_roots`). basePath
        recovers ``snap`` and the user partition column via standard
        partition discovery; ``snap`` is dropped.

        ``version`` reads the table AS OF that commit (time travel):
        manifests are immutable and snapshots are append-only, so any
        un-vacuumed historical state reconstructs exactly. After
        :meth:`vacuum` only the current version remains readable.

        ``empty_schema`` (a StructType or DDL string): when given, a
        table with no live partitions — never committed, or every
        partition dropped — reads as an EMPTY DataFrame of that schema
        instead of raising. A pipeline whose incremental run saw zero
        input rows is a legitimate state, not an error; the caller
        supplies the schema because an empty table can't know it."""
        paths = self.scan_roots(version)
        if not paths and empty_schema is not None and version is None:
            return self.spark.createDataFrame([], empty_schema)
        if not paths:
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
        return (
            self.spark.read.option("basePath", f"{self.root}/{self.DATA_DIR}")
            .parquet(*paths)
            .drop("snap")
        )

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
        """Claim a snapshot number exclusively by atomically creating a
        hidden marker file (``create`` with overwrite=False — atomic on
        HDFS; Spark's file sources skip dot-files, so the marker is
        invisible to readers). ``errorifexists`` on the data write alone
        is check-then-act: two racing writers could both pass the
        existence check and interleave task files INSIDE one snapshot
        dir, which would corrupt the snapshot without any error — the
        reservation closes that window."""
        fs = self._fs()
        last_exc: Exception | None = None
        for _attempt in range(self.MAX_PUBLISH_RETRIES * 4):
            snap = self._next_snapshot()
            marker = self._jpath(
                self.DATA_DIR, f"{self.RESERVE_PREFIX}{snap}"
            )
            try:
                stream = fs.create(marker, False)
                stream.close()
                return snap
            except Exception as exc:  # rival claimed it — rescan
                last_exc = exc
        raise CommitConflict(
            f"atomic commit on {self.root} could not reserve a snapshot "
            f"number (last error: {last_exc})"
        )

    #: Characters Spark's ExternalCatalogUtils.escapePathName escapes in
    #: hive-style partition dir names (plus ASCII control chars).
    _HIVE_ESCAPED = set('"#%\'*/:=?\\\x7f{[]^')

    def partition_dir_name(self, value) -> str:
        """The hive-style directory name Spark writes for a partition
        value — the key used in the manifest mapping. Mirrors Spark's
        escapePathName so ``replaced`` values round-trip for strings
        with special characters and for NULL.

        Only None, int, and str values are accepted: Python's str() of
        bool/float/datetime diverges from Spark's Cast-to-string
        rendering ('True' vs 'true', precision, timestamp format), which
        would make the manifest pop a silent no-op and leave the very
        stale partition ``replaced`` exists to prevent. Callers with
        such partition types must pre-render the value exactly as the
        written directory shows it."""
        if value is None:
            return f"{self.partition_col}=__HIVE_DEFAULT_PARTITION__"
        if isinstance(value, bool) or not isinstance(value, (int, str)):
            raise TypeError(
                f"replaced value {value!r} ({type(value).__name__}): only "
                f"None/int/str round-trip Spark's partition-dir rendering "
                f"exactly; pass the directory's value string instead"
            )
        escaped = "".join(
            f"%{ord(c):02X}"
            if c in self._HIVE_ESCAPED or ord(c) < 0x20
            else c
            for c in str(value)
        )
        return f"{self.partition_col}={escaped}"

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
        readers; N is unique — a racing writer that picks the same N
        fails the errorifexists data write), then publish a manifest
        whose VERSION is chosen at publish time: read the current
        mapping, apply the drops and this snapshot's dirs, and rename a
        temp file to ``manifest-<current+1>.json``. The rename-to-fresh-
        path is the atomic commit point; if a concurrent writer won that
        version number, the rename fails and the publish RETRIES against
        the winner's mapping (optimistic concurrency, partition-level
        last-writer-wins — the Iceberg commit loop). Choosing the
        version at publish time is what makes a slow writer safe: its
        base mapping and its manifest name are read in the same attempt,
        so it can never publish an older-numbered manifest that silently
        loses to a faster writer. A crash before the rename leaves the
        previous manifest with only orphan files on disk; a replay
        commits the same logical content under the next version. Returns
        the number of partitions (re)written."""
        if "snap" in df.columns:
            raise ValueError(
                "column name 'snap' is reserved by the snapshot layout "
                "(it would be dropped on read); rename it before commit"
            )
        self.check_commit_safety()
        snap = self._reserve_snapshot()
        snap_rel = f"{self.DATA_DIR}/snap={snap}"
        (
            df.write.mode("errorifexists")
            .partitionBy(self.partition_col)
            .parquet(f"{self.root}/{snap_rel}")
        )
        prefix = f"{self.partition_col}="
        written = [
            name
            for name in self._list_names(snap_rel)
            if name.startswith(prefix)
        ]
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
            mapping, wrote = self._manifest(None)
            if replaced is not None:
                for value in replaced:
                    mapping.pop(self.partition_dir_name(value), None)
            for name in written:
                mapping[name] = snap
            wrote = {**wrote, snap: len(written)}
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
        live_snaps = set(self._manifest()[0].values())
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
