"""catalog.content_stamp — the one key every per-process fixture memo is
bound to, and the "no stamp, no memo" rule.

Each memo must follow the table's CONTENT: a fixture rewritten in place
(same path, new rows) must never be answered from a memo built over the
old files. The directory case matters because rewriting a member under
the same name leaves the directory's own mtime and size unchanged.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from serverless_etl_aws_spark import catalog


def test_content_stamp_file_directory_and_unstatable(tmp_path):
    f = tmp_path / "one.parquet"
    pq.write_table(pa.table({"x": [1, 2]}), str(f))
    ((path, mtime_ns, size),) = catalog.content_stamp(str(f))
    assert path == str(f) and size == os.path.getsize(f) and mtime_ns > 0

    d = tmp_path / "t.parquet"
    (d / "k=1").mkdir(parents=True)
    pq.write_table(pa.table({"x": [1]}), str(d / "k=1" / "part-0.parquet"))
    pq.write_table(pa.table({"x": [2]}), str(d / "part-1.parquet"))
    (d / "_SUCCESS").write_text("")
    (d / ".part-1.parquet.crc").write_text("x")
    (d / "_temporary").mkdir()
    (d / "_temporary" / "part-9.parquet").write_text("half-written")
    stamp = catalog.content_stamp(str(d))
    assert sorted(os.path.relpath(p, d) for p, _, _ in stamp) == [
        os.path.join("k=1", "part-0.parquet"),
        "part-1.parquet",
    ]

    assert catalog.content_stamp(str(tmp_path / "missing.parquet")) is None
    assert catalog.content_stamp("s3a://bucket/prefix/t.parquet") is None
    (tmp_path / "empty").mkdir()
    assert catalog.content_stamp(str(tmp_path / "empty")) is None


def test_load_table_sees_directory_member_rewritten_in_place(spark, tmp_path):
    """One-row row groups: a relation built over the old 5-row member
    keeps its listed file length, so a stale memo reads only the row
    groups inside that length and returns fewer than 25 rows."""
    member = tmp_path / "region.parquet" / "part-0.parquet"
    member.parent.mkdir()

    def write(n):
        pq.write_table(
            pa.table(
                {
                    "r_regionkey": pa.array(range(n), pa.int32()),
                    "r_name": [f"region-{i}" for i in range(n)],
                }
            ),
            str(member),
            row_group_size=1,
        )

    write(5)
    first = catalog.load_table(spark, str(tmp_path), "region")
    assert first.count() == 5
    assert catalog.load_table(spark, str(tmp_path), "region") is first
    write(25)  # same name: the directory's mtime and size do not move
    assert catalog.load_table(spark, str(tmp_path), "region").count() == 25


def test_supplier_part_edges_follow_rewritten_lineitem(spark, sf_dir, tmp_path):
    from serverless_etl_aws_spark.queries._util import supplier_part_edges

    target = tmp_path / "lineitem.parquet"
    shutil.copy(os.path.join(sf_dir, "lineitem.parquet"), target)
    full = pq.read_table(str(target))

    def fresh_edges(tbl):
        return len(
            set(zip(tbl["l_suppkey"].to_pylist(), tbl["l_partkey"].to_pylist()))
        )

    assert supplier_part_edges(spark, str(tmp_path)).count() == fresh_edges(full)
    quarter = full.slice(0, full.num_rows // 4)
    pq.write_table(quarter, str(target))
    assert fresh_edges(quarter) < fresh_edges(full)
    got = supplier_part_edges(spark, str(tmp_path)).count()
    assert got == fresh_edges(quarter)


def test_corpus_cache_key_is_none_without_a_stamp(tmp_path):
    from serverless_etl_aws_spark.operators.simsearch import corpus_cache_key

    assert corpus_cache_key(str(tmp_path / "missing.parquet")) is None
    assert corpus_cache_key("s3a://bucket/embeddings.parquet") is None
