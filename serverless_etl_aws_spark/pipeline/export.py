"""Gold→warehouse export — the reference's declared-but-unbuilt final
milestone (reference: README.md:4 "loads it into a data warehouse",
README.md:117-118 Redshift item; no loader was ever implemented there).

The engine-side equivalent of the warehouse COPY hand-off is a
**manifest export**: write the gold slice as parquet into a per-batch
export prefix and emit a manifest JSON enumerating every data file with
its byte size and the total row count — exactly the contract a
`COPY ... FROM manifest` warehouse load (or an external-table refresh)
consumes. The row count is the rows the write itself wrote, counted by
an ``Observation`` (``count(lit(1))``) riding that write, the way
``IncrementalIngest`` counts silver rows: the files are never read back.
Properties:

- Atomic hand-off: the manifest is written LAST, single-file; a loader
  that keys on manifests never sees a half-written batch.
- Idempotent: each export lands in a fresh ``batch_<n>/`` prefix; the
  loader tracks consumed manifests, so replaying an export is a no-op.
- Scale: the data files are written by executors (normal partitioned
  parquet write); only the file LISTING runs on the driver, which is
  O(files), not O(rows), and no Spark job runs after the write.

A direct ``write.jdbc`` path is also supported behind an injectable
writer callable so deployments with a warehouse JDBC driver on the
classpath can push directly; the container here has none, so tests
exercise the manifest path and a stub writer.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


class WarehouseExporter:
    """Export DataFrames to a warehouse staging area, one manifest per
    batch (Redshift/Snowflake COPY-manifest shape)."""

    def __init__(
        self,
        export_dir: str,
        fmt: str = "parquet",
        jdbc_writer: Callable[[DataFrame, str], None] | None = None,
    ) -> None:
        if fmt not in ("parquet", "csv"):
            raise ValueError(f"unsupported export format {fmt!r}")
        self.export_dir = export_dir
        self.fmt = fmt
        self.jdbc_writer = jdbc_writer

    @staticmethod
    def _batches(base: str) -> list[tuple[int, str]]:
        """``(n, dir name)`` of every ``batch_<n>`` dir under ``base``,
        batch order; a dir with a non-numeric suffix (``batch_tmp``) is
        not a batch."""
        return sorted(
            (int(d.split("_", 1)[1]), d)
            for d in os.listdir(base)
            if d.startswith("batch_") and d.split("_", 1)[1].isdigit()
        )

    def _next_batch_dir(self, table: str) -> tuple[str, int]:
        base = os.path.join(self.export_dir, table)
        os.makedirs(base, exist_ok=True)
        n = max((n for n, _d in self._batches(base)), default=-1) + 1
        return os.path.join(base, f"batch_{n}"), n

    def export(self, df: DataFrame, table: str) -> str:
        """Write ``df`` as a new export batch for ``table`` and return the
        manifest path. The manifest is written after the data files are
        fully committed (Spark's output committer renames them into place
        first), so its existence IS the completion signal."""
        batch_dir, n = self._next_batch_dir(table)
        data_dir = os.path.join(batch_dir, "data")
        # the row count rides the write as an Observation; reading the
        # files back to count them would cost a schema-inference job and
        # two count jobs
        obs = Observation()
        writer = (
            df.observe(obs, F.count(F.lit(1)).alias("rows"))
            .write.mode("errorifexists")
        )
        if self.fmt == "csv":
            writer = writer.option("header", "true")
        getattr(writer, self.fmt)(data_dir)

        suffix = ".parquet" if self.fmt == "parquet" else ".csv"
        entries = []
        for name in sorted(os.listdir(data_dir)):
            if name.startswith(("_", ".")) or not name.endswith(suffix):
                continue
            path = os.path.join(data_dir, name)
            entries.append(
                {
                    "url": path,
                    "mandatory": True,
                    "meta": {"content_length": os.path.getsize(path)},
                }
            )
        manifest = {
            "entries": entries,
            "table": table,
            "batch": n,
            "format": self.fmt,
            "row_count": int(obs.get["rows"]),
            "schema": df.schema.jsonValue(),
            "exported_at_unix": int(time.time()),
        }
        manifest_path = os.path.join(batch_dir, "manifest.json")
        tmp = manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=2, sort_keys=True)
        os.replace(tmp, manifest_path)  # atomic publish
        if self.jdbc_writer is not None:
            self.jdbc_writer(df, table)
        return manifest_path

    def read_batch(self, spark: SparkSession, manifest_path: str) -> DataFrame:
        """Loader-side round trip: read exactly the files a manifest
        names (what a warehouse COPY would ingest)."""
        with open(manifest_path) as f:
            manifest = json.load(f)
        paths = [e["url"] for e in manifest["entries"]]
        reader = spark.read.format(manifest["format"])
        if manifest["format"] == "csv":
            reader = reader.option("header", "true").schema(
                _schema_from_json(manifest["schema"])
            )
        return reader.load(paths)

    def manifests(self, table: str) -> list[str]:
        """All committed manifests for a table, batch order."""
        base = os.path.join(self.export_dir, table)
        if not os.path.isdir(base):
            return []
        paths = (
            os.path.join(base, d, "manifest.json")
            for _n, d in self._batches(base)
        )
        return [m for m in paths if os.path.isfile(m)]


def _schema_from_json(schema_json: dict):
    from pyspark.sql.types import StructType

    return StructType.fromJson(schema_json)


def jdbc_writer(
    url: str, properties: dict[str, str] | None = None, mode: str = "append"
) -> Callable[[DataFrame, str], None]:
    """Factory for a direct-JDBC export writer (``write.jdbc``). Requires
    the warehouse's JDBC driver on the Spark classpath — not present in
    this container, so this is exercised with an injected stub in tests."""

    def write(df: DataFrame, table: str) -> None:
        df.write.jdbc(url, table, mode=mode, properties=properties or {})

    return write
