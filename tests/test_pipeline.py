"""Pipeline-semantics tests (SURVEY.md §5.2 item 2): watermark gate,
exactly-once ingest, archive, source discovery."""

from __future__ import annotations

import os
from datetime import date, datetime, timezone

import pytest

from serverless_etl_aws_spark.pipeline.archive import archive_file
from serverless_etl_aws_spark.pipeline.fetch import (
    download_to_landing,
    find_latest_available,
    months_back,
)
from serverless_etl_aws_spark.pipeline.watermark import WatermarkStore


class TestWatermark:
    def test_roundtrip(self, tmp_path):
        wm = WatermarkStore(str(tmp_path / "wm.json"))
        assert wm.get_last_processed() is None
        wm.update_last_processed("2024-03")
        assert wm.get_last_processed() == "2024-03"

    def test_skip_gate_string_compare(self, tmp_path):
        """Reference semantics: skip iff last >= ym (fetch_raw_data.py:135)."""
        wm = WatermarkStore(str(tmp_path / "wm.json"))
        assert not wm.should_skip("2024-03")  # no state yet
        wm.update_last_processed("2024-03")
        assert wm.should_skip("2024-03")
        assert wm.should_skip("2024-02")
        assert wm.should_skip("2023-12")
        assert not wm.should_skip("2024-04")

    def test_format_pinned(self, tmp_path):
        wm = WatermarkStore(str(tmp_path / "wm.json"))
        with pytest.raises(ValueError):
            wm.update_last_processed("2024-3")
        with pytest.raises(ValueError):
            wm.should_skip("March-2024")


class TestDiscovery:
    def test_months_back_wraps_year(self):
        now = datetime(2024, 2, 15, tzinfo=timezone.utc)
        assert months_back(now, 2) == "2023-12"
        assert months_back(now, 7) == "2023-07"

    def test_find_latest_first_hit_wins(self):
        """Reference walks 2..7 months back, first existing file wins
        (fetch_raw_data.py:35-53)."""
        now = datetime(2024, 6, 1, tzinfo=timezone.utc)
        available = {"2024-03", "2024-02"}
        hit = find_latest_available(
            lambda url: any(ym in url for ym in available), now=now
        )
        assert hit is not None and hit[1] == "2024-03"

    def test_find_latest_none(self):
        assert find_latest_available(lambda url: False) is None

    def test_download_key_pattern(self, tmp_path):
        """Bronze key preserves the reference's timestamped lineage name
        (data_downloader.py:31-32)."""
        dest = download_to_landing(
            "http://example/x.parquet",
            str(tmp_path),
            "2024-03",
            fetcher=lambda url: b"PAR1fake",
            now=datetime(2024, 6, 1, 12, 30, 45, tzinfo=timezone.utc),
        )
        assert dest.endswith("nyc_taxi/yellow_taxi_2024-03_20240601_123045.parquet")
        with open(dest, "rb") as f:
            assert f.read() == b"PAR1fake"


class TestArchive:
    def test_date_partitioned_move(self, tmp_path):
        src = tmp_path / "data.parquet"
        src.write_bytes(b"x")
        dest = archive_file(
            str(src), str(tmp_path / "archive"), on=date(2024, 3, 5)
        )
        assert dest.endswith("archive/2024/03/05/data.parquet")
        assert os.path.exists(dest) and not os.path.exists(src)


class TestExactlyOnce:
    def test_second_run_ingests_nothing(self, spark, sf_dir):
        from serverless_etl_aws_spark.queries.pipeline_ops import (
            ingest_incremental,
        )

        rows = {r["run"]: r for r in ingest_incremental(spark, sf_dir).collect()}
        assert rows[1]["rows_ingested"] > 0
        assert rows[2]["rows_ingested"] == 0
        assert rows[1]["silver_total"] == rows[1]["rows_ingested"]

    def test_new_file_after_first_run_is_picked_up(self, spark, sf_dir, tmp_path):
        """A file landing between runs is processed exactly once (the
        reference's tag-discovery semantics, s3_operations.py:30-33)."""
        import shutil

        from serverless_etl_aws_spark.catalog import events_reader_setup
        from serverless_etl_aws_spark.pipeline.ingest import IncrementalIngest

        bronze = tmp_path / "bronze"
        bronze.mkdir()
        src = os.path.join(sf_dir, "events.parquet")
        shutil.copy(src, bronze / "f1.parquet")
        read_schema, normalize_ts = events_reader_setup(spark, str(bronze))
        pipe = IncrementalIngest(
            spark,
            bronze_dir=str(bronze),
            silver_dir=str(tmp_path / "silver"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            schema=read_schema,
            transform=normalize_ts,
        )
        r1 = pipe.run_once()
        shutil.copy(src, bronze / "f2.parquet")
        r2 = pipe.run_once()
        r3 = pipe.run_once()
        assert r1.rows_ingested == r2.rows_ingested > 0
        assert r3.rows_ingested == 0
        total = spark.read.parquet(str(tmp_path / "silver")).count()
        assert total == r1.rows_ingested + r2.rows_ingested

    def test_files_processed_counts_new_files(self, spark, sf_dir, tmp_path):
        """files_processed is the growth of the checkpoint's file-source
        log: every new file once, a replay none, however many batches
        the files arrive in."""
        import shutil

        from serverless_etl_aws_spark.catalog import events_reader_setup
        from serverless_etl_aws_spark.pipeline.ingest import IncrementalIngest

        bronze = tmp_path / "bronze"
        bronze.mkdir()
        src = os.path.join(sf_dir, "events.parquet")
        shutil.copy(src, bronze / "f1.parquet")
        shutil.copy(src, bronze / "f2.parquet")
        read_schema, normalize_ts = events_reader_setup(spark, str(bronze))

        def pipe(name, **kw):
            return IncrementalIngest(
                spark,
                bronze_dir=str(bronze),
                silver_dir=str(tmp_path / f"silver_{name}"),
                checkpoint_dir=str(tmp_path / f"ckpt_{name}"),
                schema=read_schema,
                transform=normalize_ts,
                **kw,
            )

        whole = pipe("whole")
        r1 = whole.run_once()
        assert (r1.files_processed, r1.batches) == (2, 1)
        r2 = whole.run_once()
        assert (r2.files_processed, r2.rows_ingested) == (0, 0)

        r3 = pipe("one_per_trigger", max_files_per_trigger=1).run_once()
        assert (r3.files_processed, r3.batches) == (2, 2)
        assert r3.rows_ingested == r1.rows_ingested


class TestIdempotentReplay:
    def test_batch_replay_does_not_double_append(self, spark, sf_dir, tmp_path):
        """Simulate the crash-after-write-before-commit window: run the
        ingest once, then delete the checkpoint's commit log (so the file
        source replays from scratch) and run again into the SAME silver
        dir. The batch-id-keyed dynamic overwrite makes the replay
        idempotent — row count must not change."""
        import os
        import shutil

        from serverless_etl_aws_spark.catalog import events_reader_setup
        from serverless_etl_aws_spark.pipeline.ingest import IncrementalIngest

        bronze = tmp_path / "bronze"
        bronze.mkdir()
        shutil.copy(
            os.path.join(sf_dir, "events.parquet"), bronze / "f1.parquet"
        )
        read_schema, normalize_ts = events_reader_setup(spark, str(bronze))

        def pipe(ckpt):
            return IncrementalIngest(
                spark,
                bronze_dir=str(bronze),
                silver_dir=str(tmp_path / "silver"),
                checkpoint_dir=str(ckpt),
                schema=read_schema,
                transform=normalize_ts,
            )

        r1 = pipe(tmp_path / "ckpt").run_once()
        n1 = spark.read.parquet(str(tmp_path / "silver")).count()
        # lost checkpoint → full replay of batch 0 into the same sink
        pipe(tmp_path / "ckpt2").run_once()
        n2 = spark.read.parquet(str(tmp_path / "silver")).count()
        assert n1 == r1.rows_ingested
        assert n2 == n1, "replayed batch must overwrite, not append"


class TestRollup:
    def test_partition_scoped_refresh(self, spark, tmp_path):
        """Only requested partitions are recomputed; others stay stale —
        the contract that makes refresh cost O(touched partitions)."""
        from pyspark.sql import functions as F

        from serverless_etl_aws_spark.pipeline.rollup import PartitionedRollup

        silver = tmp_path / "silver"
        spark.createDataFrame(
            [("a", 1), ("a", 2), ("b", 10)], "k string, v int"
        ).write.partitionBy("k").parquet(str(silver))

        rollup = PartitionedRollup(
            spark, str(silver), str(tmp_path / "gold"), "k",
            lambda df: df.groupBy("k").agg(F.sum("v").alias("total")),
        )
        assert rollup.refresh_partitions(["a", "b"]) == 2
        got = {r["k"]: r["total"] for r in rollup.read_gold().collect()}
        assert got == {"a": 3, "b": 10}

        # append to both partitions, refresh only 'a' → 'b' stays stale
        spark.createDataFrame(
            [("a", 5), ("b", 100)], "k string, v int"
        ).write.mode("append").partitionBy("k").parquet(str(silver))
        rollup.refresh_partitions(["a"])
        got = {r["k"]: r["total"] for r in rollup.read_gold().collect()}
        assert got == {"a": 8, "b": 10}
        rollup.refresh_partitions(["b"])
        got = {r["k"]: r["total"] for r in rollup.read_gold().collect()}
        assert got == {"a": 8, "b": 110}


class TestActionDispatcher:
    def test_protocol_roundtrip(self, spark, sf_dir, tmp_path):
        """The reference's {action: ...} → {statusCode, body} protocol
        (s3_operations.py:75-118), backed by checkpoint state."""
        import json
        import shutil

        from serverless_etl_aws_spark.catalog import events_reader_setup
        from serverless_etl_aws_spark.pipeline.actions import ActionDispatcher
        from serverless_etl_aws_spark.pipeline.ingest import IncrementalIngest

        bronze = tmp_path / "bronze"
        bronze.mkdir()
        shutil.copy(
            os.path.join(sf_dir, "events.parquet"), bronze / "f1.parquet"
        )
        read_schema, normalize_ts = events_reader_setup(spark, str(bronze))
        d = ActionDispatcher(
            str(bronze), str(tmp_path / "ckpt"), str(tmp_path / "archive")
        )

        resp = d.handle({"action": "get_unprocessed"})
        assert resp["statusCode"] == 200
        files = json.loads(resp["body"])["files"]
        assert len(files) == 1 and files[0].endswith("f1.parquet")

        IncrementalIngest(
            spark,
            bronze_dir=str(bronze),
            silver_dir=str(tmp_path / "silver"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            schema=read_schema,
            transform=normalize_ts,
        ).run_once()
        resp = d.handle({"action": "get_unprocessed"})
        assert json.loads(resp["body"])["files"] == []  # checkpoint knows

        resp = d.handle({"action": "mark_processed", "key": "x"})
        assert json.loads(resp["body"])["noop"] is True

        resp = d.handle({"action": "archive", "key": str(bronze / "f1.parquet")})
        assert resp["statusCode"] == 200
        assert "archive" in json.loads(resp["body"])["archived_to"]

        resp = d.handle({"action": "bogus"})
        assert resp["statusCode"] == 400

    def test_names_needing_url_encoding_are_processed(
        self, spark, sf_dir, tmp_path,
    ):
        """The file-source log records URL-encoded paths: a space or a
        ``%`` in a file name must not keep the file unprocessed forever."""
        import shutil

        from serverless_etl_aws_spark.catalog import events_reader_setup
        from serverless_etl_aws_spark.pipeline.actions import ActionDispatcher
        from serverless_etl_aws_spark.pipeline.ingest import IncrementalIngest

        bronze = tmp_path / "bronze"
        bronze.mkdir()
        src = os.path.join(sf_dir, "events.parquet")
        for name in ("with space.parquet", "pct%41.parquet"):
            shutil.copy(src, bronze / name)
        read_schema, normalize_ts = events_reader_setup(spark, str(bronze))
        d = ActionDispatcher(
            str(bronze), str(tmp_path / "ckpt"), str(tmp_path / "archive")
        )
        assert len(d.get_unprocessed()) == 2

        r = IncrementalIngest(
            spark,
            bronze_dir=str(bronze),
            silver_dir=str(tmp_path / "silver"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            schema=read_schema,
            transform=normalize_ts,
        ).run_once()
        assert r.files_processed == 2
        assert d.get_unprocessed() == []

    def test_missing_field_and_handler_error_replies(self, tmp_path):
        """An event without its required field, or with a malformed
        action, is the caller's error (400, as the object store
        answers); a failing handler is ours (500, with the error in the
        body)."""
        import json

        from serverless_etl_aws_spark.pipeline.actions import (
            ActionDispatcher,
            dispatch,
        )

        d = ActionDispatcher(
            str(tmp_path / "bronze"), str(tmp_path / "ckpt"),
            str(tmp_path / "archive"),
        )
        resp = d.handle({"action": "archive"})
        assert resp["statusCode"] == 400
        assert json.loads(resp["body"]) == {"error": "missing field 'key'"}
        assert d.handle({"action": ["archive"]})["statusCode"] == 400

        def boom(event):
            raise RuntimeError("store unreachable")

        resp = dispatch({"action": "get"}, {"get": boom})
        assert resp == {
            "statusCode": 500,
            "body": json.dumps({"error": "store unreachable"}),
        }


def test_rollup_refresh_guards_partition_cardinality(spark, tmp_path):
    """A high-cardinality 'partition' column must fail loudly instead of
    collecting unbounded distinct values onto the driver."""
    import pytest

    from serverless_etl_aws_spark.pipeline.rollup import PartitionedRollup

    roll = PartitionedRollup(
        spark,
        silver_dir=str(tmp_path / "silver"),
        gold_dir=str(tmp_path / "gold"),
        partition_col="row_id",
        aggregate=lambda df: df,
        max_touched_partitions=10,
    )
    batch = spark.range(50).withColumnRenamed("id", "row_id")
    with pytest.raises(ValueError, match="does not look like a partition"):
        roll.refresh_for_batch(batch)


def test_rollup_upsert_guards_partition_cardinality(spark, tmp_path):
    """upsert holds a delta to the same cap: 50 distinct values against
    a cap of 10 raise before anything is read or written."""
    import pytest

    from serverless_etl_aws_spark.pipeline.rollup import PartitionedRollup

    roll = PartitionedRollup(
        spark,
        silver_dir=str(tmp_path / "silver"),
        gold_dir=str(tmp_path / "gold"),
        partition_col="row_id",
        aggregate=lambda df: df,
        max_touched_partitions=10,
    )
    delta = spark.range(50).withColumnRenamed("id", "row_id")
    with pytest.raises(ValueError, match="upsert: more than 10 distinct"):
        roll.upsert(delta, merge=lambda df: df)
    assert not roll.table.exists()


def test_warehouse_export_round_trip(spark, tmp_path, sf_dir):
    """Gold rollup -> manifest export -> loader-side readback must be
    lossless, the manifest must enumerate every data file with sizes and
    the exact row count, and a second export must land in a new batch
    prefix (idempotent hand-off)."""
    import json

    from pyspark.sql import functions as F

    from serverless_etl_aws_spark.pipeline.export import WarehouseExporter

    gold = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )
    exp = WarehouseExporter(str(tmp_path / "exports"))
    m1 = exp.export(gold, "gold_orders")
    manifest = json.load(open(m1))
    assert manifest["row_count"] == gold.count()
    assert manifest["entries"] and all(
        e["meta"]["content_length"] > 0 for e in manifest["entries"]
    )

    back = exp.read_batch(spark, m1)
    want = {tuple(r) for r in gold.collect()}
    got = {tuple(r) for r in back.collect()}
    assert got == want

    m2 = exp.export(gold, "gold_orders")
    assert m2 != m1
    assert exp.manifests("gold_orders") == [m1, m2]


def test_warehouse_export_jdbc_stub_invoked(spark, tmp_path):
    """The injectable JDBC writer fires once per export with the exported
    frame and table name."""
    from serverless_etl_aws_spark.pipeline.export import WarehouseExporter

    calls = []
    exp = WarehouseExporter(
        str(tmp_path / "exports"),
        jdbc_writer=lambda df, table: calls.append((df.count(), table)),
    )
    exp.export(spark.range(7), "dim_seq")
    assert calls == [(7, "dim_seq")]


def test_manifests_skip_non_numeric_batch_dirs(spark, tmp_path):
    """A ``batch_*`` dir whose suffix is not a number (a loader's
    ``batch_tmp`` staging dir) is not a batch: manifests() skips it, as
    export's batch numbering does, instead of raising ValueError."""
    from serverless_etl_aws_spark.pipeline.export import WarehouseExporter

    exp = WarehouseExporter(str(tmp_path / "exports"))
    m0 = exp.export(spark.range(3), "dim")
    stray = tmp_path / "exports" / "dim" / "batch_tmp"
    stray.mkdir()
    (stray / "manifest.json").write_text("{}")
    m1 = exp.export(spark.range(4), "dim")
    assert m1.endswith(os.path.join("batch_1", "manifest.json"))
    assert exp.manifests("dim") == [m0, m1]


@pytest.mark.parametrize("fmt", ["parquet", "csv"])
@pytest.mark.parametrize("case", ["rows", "empty", "jdbc"])
def test_export_row_count_equals_rows_read_back(spark, tmp_path, fmt, case):
    """The manifest's ``row_count`` is counted on the export write (an
    Observation), not by reading the files back; it must still equal
    the rows a loader reads through the manifest, for both formats, an
    empty frame, and an export that also pushes through ``jdbc_writer``."""
    import json

    from serverless_etl_aws_spark.pipeline.export import WarehouseExporter

    df = (
        spark.createDataFrame([], "id bigint, tag string")
        if case == "empty"
        else spark.range(0, 50, 1, 4).selectExpr(
            "id", "CAST(id % 7 AS STRING) AS tag"
        ).filter("id % 3 <> 0")
    )
    pushed = []
    exp = WarehouseExporter(
        str(tmp_path / "exports"),
        fmt=fmt,
        jdbc_writer=(
            (lambda d, table: pushed.append(d.count())) if case == "jdbc"
            else None
        ),
    )
    manifest_path = exp.export(df, "t")
    with open(manifest_path) as f:
        row_count = json.load(f)["row_count"]
    back = exp.read_batch(spark, manifest_path)
    assert row_count == back.count() == (0 if case == "empty" else 33)
    assert pushed == ([row_count] if case == "jdbc" else [])


class TestWarehouseJdbc:
    def test_export_pushes_through_jdbc_writer(self, spark, tmp_path):
        """Completes the reference's declared warehouse milestone
        (reference README.md:117-118, never built there): the export layer
        drives a REAL ``write.jdbc`` against Spark's bundled embedded
        Derby, and the loaded table round-trips. The connection is
        injected (``jdbc_writer`` factory) exactly as a Redshift/Snowflake
        deployment would inject theirs — the engine code is
        warehouse-agnostic."""
        from serverless_etl_aws_spark.pipeline.export import (
            WarehouseExporter,
            jdbc_writer,
        )

        url = "jdbc:derby:memory:whtest;create=true"
        props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
        try:
            spark._jvm.java.lang.Class.forName(props["driver"])
        except Exception:
            pytest.skip("Derby JDBC driver not on the Spark classpath")

        df = spark.createDataFrame(
            [("1-URGENT", 3, 90.5), ("2-HIGH", 5, 10.25)],
            "o_orderpriority string, order_count int, sum_totalprice double",
        )
        exporter = WarehouseExporter(
            str(tmp_path / "wh"), jdbc_writer=jdbc_writer(url, props)
        )
        manifest = exporter.export(df, "gold_orders")

        # manifest hand-off AND the direct JDBC load see identical rows
        via_manifest = {
            tuple(r) for r in exporter.read_batch(spark, manifest).collect()
        }
        via_jdbc = {
            tuple(r)
            for r in spark.read.jdbc(
                url, "gold_orders", properties=props
            ).collect()
        }
        assert via_manifest == via_jdbc == {
            ("1-URGENT", 3, 90.5),
            ("2-HIGH", 5, 10.25),
        }


def test_read_gold_keeps_the_aggregate_schema(spark, tmp_path):
    """Gold reads back the aggregate's output schema with the partition
    column last, whether it holds rows or was never built: a ``day``
    of yyyy-MM-dd strings stays a string, not a date typed from
    directory names."""
    from pyspark.sql import functions as F

    from serverless_etl_aws_spark.pipeline.rollup import PartitionedRollup

    silver = str(tmp_path / "silver")
    spark.createDataFrame(
        [("2024-03-01", "a", 10), ("2024-03-02", "b", 7)],
        "day string, kind string, v long",
    ).write.parquet(silver)

    def agg(df):
        return df.groupBy("day", "kind").agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("total")
        )

    out = agg(spark.read.parquet(silver))
    want = [(f.name, f.dataType) for f in out.schema.fields if f.name != "day"]
    want.append(("day", out.schema["day"].dataType))

    def roll(name):
        return PartitionedRollup(
            spark, silver_dir=silver, gold_dir=str(tmp_path / name),
            partition_col="day", aggregate=agg,
        )

    built = roll("gold")
    built.refresh_partitions(["2024-03-01", "2024-03-02"])
    empty = roll("never_built").read_gold(empty_schema=out.schema)
    for gold in (built.read_gold(), empty):
        assert [(f.name, f.dataType) for f in gold.schema.fields] == want


def test_rollup_upsert_merges_existing_and_creates_new(spark, tmp_path):
    """MERGE semantics: a delta row for an existing (partition, key) must
    MODIFY that gold row in place (no duplicate), and a delta row for an
    unseen partition must create it; untouched partitions stay binary-
    identical (their files are not rewritten)."""
    from pyspark.sql import functions as F

    from serverless_etl_aws_spark.pipeline.rollup import PartitionedRollup

    gold_dir = str(tmp_path / "gold")
    agg = lambda df: df.groupBy("day", "kind").agg(  # noqa: E731
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("total")
    )
    roll = PartitionedRollup(
        spark,
        silver_dir=str(tmp_path / "silver"),
        gold_dir=gold_dir,
        partition_col="day",
        aggregate=agg,
    )
    initial = spark.createDataFrame(
        [("d1", "a", 10), ("d1", "a", 5), ("d2", "b", 7)],
        "day string, kind string, v long",
    )
    roll.table.commit_overwrite_partitions(agg(initial))

    d2_path = roll.table.current_partition_paths()["day=d2"]
    untouched_files = {
        f: os.path.getmtime(os.path.join(d2_path, f))
        for f in os.listdir(d2_path)
        if f.endswith(".parquet")
    }

    delta = agg(
        spark.createDataFrame(
            [("d1", "a", 3), ("d3", "c", 1)], "day string, kind string, v long"
        )
    )

    def merge(both):
        return both.groupBy("day", "kind").agg(
            F.sum("n").alias("n"), F.sum("total").alias("total")
        )

    rewritten = roll.upsert(delta, merge)
    assert rewritten == 2  # d1 (existing) + d3 (new), NOT d2

    rows = {
        (r["day"], r["kind"]): (r["n"], r["total"])
        for r in roll.read_gold().collect()
    }
    assert rows == {
        ("d1", "a"): (3, 18),  # modified in place: 2+1 rows, 15+3
        ("d2", "b"): (1, 7),   # untouched
        ("d3", "c"): (1, 1),   # new partition
    }
    # d2 still lives in its ORIGINAL snapshot: same path, same files,
    # same mtimes — the upsert commit never rewrote it
    assert roll.table.current_partition_paths()["day=d2"] == d2_path
    after = {
        f: os.path.getmtime(os.path.join(d2_path, f))
        for f in os.listdir(d2_path)
        if f.endswith(".parquet")
    }
    assert after == untouched_files


def test_post_batch_hook_with_other_second_param_not_broken(spark, tmp_path):
    """The touched-hand-off is opt-in BY NAME: a hook whose second
    parameter is not called 'touched' must keep the one-arg contract
    (arity-based detection would crash it with an unexpected kwarg)."""
    from pyspark.sql import functions as F

    from serverless_etl_aws_spark.catalog import events_reader_setup
    from serverless_etl_aws_spark.pipeline.ingest import IncrementalIngest
    from serverless_etl_aws_spark.streaming.windows import split_parquet_by_mod

    bronze = str(tmp_path / "bronze")
    os.makedirs(bronze)
    split_parquet_by_mod(
        "/root/testdata/sf0.001/events.parquet", bronze, 1,
        order_col="event_id",
    )
    read_schema, normalize_ts = events_reader_setup(spark, bronze)
    calls = []

    def hook(df, log=calls.append):  # 2 params, second NOT 'touched'
        log(df.count())

    pipe = IncrementalIngest(
        spark,
        bronze_dir=bronze,
        silver_dir=str(tmp_path / "silver"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        schema=read_schema,
        partition_by="event_type",
        transform=normalize_ts,
        post_batch=hook,
    )
    r = pipe.run_once()  # must not raise TypeError
    assert r.batches == 1 and calls and calls[0] > 0

    # and a kwargs hook DOES receive touched
    seen = {}

    def kw_hook(df, **kwargs):
        seen.update(kwargs)

    pipe2 = IncrementalIngest(
        spark,
        bronze_dir=bronze,
        silver_dir=str(tmp_path / "silver2"),
        checkpoint_dir=str(tmp_path / "ckpt2"),
        schema=read_schema,
        partition_by="event_type",
        transform=normalize_ts,
        post_batch=kw_hook,
    )
    pipe2.run_once()
    expected = sorted(
        r[0]
        for r in spark.read.parquet(str(tmp_path / "silver2"))
        .select("event_type")
        .distinct()
        .collect()
    )
    assert sorted(seen["touched"]) == expected
    assert seen["touched_col"] == "event_type"


def test_refresh_for_batch_recounts_touched_of_another_column(spark, tmp_path):
    """An ingest partitioned by event_type hands its hook event_type
    values; a rollup keyed on event_date must not read them as dates
    (every gold partition would be 'replaced' by nothing) but recount
    its own, so gold equals the aggregate of all silver."""
    from pyspark.sql import functions as F

    from serverless_etl_aws_spark.catalog import events_reader_setup
    from serverless_etl_aws_spark.pipeline.ingest import IncrementalIngest
    from serverless_etl_aws_spark.pipeline.rollup import PartitionedRollup
    from serverless_etl_aws_spark.streaming.windows import split_parquet_by_mod

    bronze = str(tmp_path / "bronze")
    os.makedirs(bronze)
    split_parquet_by_mod(
        "/root/testdata/sf0.001/events.parquet", bronze, 1,
        order_col="event_id",
    )
    read_schema, normalize_ts = events_reader_setup(spark, bronze)

    def to_silver(df):
        return normalize_ts(df).withColumn(
            "event_date", F.date_format("ts", "yyyy-MM-dd")
        )

    def to_gold(df):
        return df.groupBy("event_date").agg(F.count(F.lit(1)).alias("n"))

    silver = str(tmp_path / "silver")
    roll = PartitionedRollup(
        spark, silver, str(tmp_path / "gold"), "event_date",
        aggregate=to_gold,
    )
    IncrementalIngest(
        spark,
        bronze_dir=bronze,
        silver_dir=silver,
        checkpoint_dir=str(tmp_path / "ckpt"),
        schema=read_schema,
        partition_by="event_type",
        transform=to_silver,
        post_batch=roll.refresh_for_batch,
    ).run_once()
    want = sorted(to_gold(spark.read.parquet(silver)).collect())
    assert len(want) > 1
    gold = roll.read_gold().select(
        F.col("event_date").cast("string").alias("event_date"), "n"
    )
    assert sorted(gold.collect()) == want


def test_rollup_upsert_preserves_null_partition(spark, tmp_path):
    """A delta touching the NULL partition must MERGE with the existing
    null-partition gold rows, not replace them with delta-only values
    (isin never matches NULL; the predicate needs an isNull arm)."""
    from pyspark.sql import functions as F

    from serverless_etl_aws_spark.pipeline.rollup import PartitionedRollup

    gold_dir = str(tmp_path / "gold")
    agg = lambda df: df.groupBy("day", "kind").agg(  # noqa: E731
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("total")
    )
    roll = PartitionedRollup(
        spark,
        silver_dir=str(tmp_path / "silver"),
        gold_dir=gold_dir,
        partition_col="day",
        aggregate=agg,
    )
    initial = spark.createDataFrame(
        [(None, "a", 10), (None, "a", 5), ("d1", "b", 7)],
        "day string, kind string, v long",
    )
    roll.table.commit_overwrite_partitions(agg(initial))

    delta = agg(
        spark.createDataFrame([(None, "a", 3)], "day string, kind string, v long")
    )

    def merge(both):
        return both.groupBy("day", "kind").agg(
            F.sum("n").alias("n"), F.sum("total").alias("total")
        )

    roll.upsert(delta, merge)
    rows = {
        (r["day"], r["kind"]): (r["n"], r["total"])
        for r in roll.read_gold().collect()
    }
    assert rows == {
        (None, "a"): (3, 18),  # merged: 2+1 rows, 15+3 — NOT (1, 3)
        ("d1", "b"): (1, 7),   # untouched
    }


def test_manifest_drives_derby_load_matching_gold_oracle(spark, sf_dir, tmp_path):
    """VERDICT r5 #8: prove the COPY-manifest export format against a
    SECOND SQL engine end-to-end. A warehouse loader's ONLY input is the
    manifest path: read exactly the files it names, load them into the
    embedded Derby through a real ``write.jdbc``, and query the
    warehouse back — the result must equal the gold aggregate DuckDB
    computes independently from the source parquet. A manifest that
    mis-listed a part file, a loader that mangled a DOUBLE, or an export
    that duplicated rows all fail this equality."""
    import duckdb
    from pyspark.sql import functions as F

    from serverless_etl_aws_spark.pipeline.export import WarehouseExporter
    from serverless_etl_aws_spark.queries._util import dsum, sql_dsum

    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    try:
        spark._jvm.java.lang.Class.forName(props["driver"])
    except Exception:
        pytest.skip("Derby JDBC driver not on the Spark classpath")

    gold = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("order_count"),
            dsum("o_totalprice").alias("sum_totalprice"),
        )
    )
    exp = WarehouseExporter(str(tmp_path / "wh"))
    manifest = exp.export(gold, "gold_orders")

    # ---- the loader: manifest → staged files → Derby ----
    url = "jdbc:derby:memory:manifest_load;create=true"
    exp.read_batch(spark, manifest).write.format("jdbc").option(
        "url", url
    ).option("dbtable", "gold_orders").option(
        "driver", props["driver"]
    ).save()
    got = {
        tuple(r)
        for r in spark.read.jdbc(url, "gold_orders", properties=props).collect()
    }

    # ---- the oracle: an independent engine over the source parquet ----
    want = {
        tuple(r)
        for r in duckdb.sql(
            f"SELECT o_orderpriority, COUNT(*) AS order_count, "
            f"{sql_dsum('o_totalprice')} AS sum_totalprice "
            f"FROM read_parquet('{sf_dir}/orders.parquet') GROUP BY 1"
        ).fetchall()
    }
    assert got == want
