"""Round-4 breadth batch: portable statistical moments, unpivot,
cumulative-distribution windows, time-series gap-fill, retention vacuum,
Z-order clustering, and a binary-file scan.

Scale rationale per key lives in the docstrings; the common thread is
that every key is a single declarative plan (scan → shuffle-on-key →
aggregate/window) whose shape survives a 1000-executor cluster: no
driver-side loops, no per-row Python, bounded collects only.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import Query
from ._util import dec, dsum, fquant, fresh_dir, scratch_root, t

SCRATCH = scratch_root()


# ---------------------------------------------------------------------------
# agg_stats — portable second-order moments (corr / stddev_pop)
# ---------------------------------------------------------------------------

def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group correlation and population stddev computed from EXACT
    decimal power sums, not the engines' native corr()/stddev_pop().

    Why: native moment aggregates stream doubles in partition order, so
    two engines (or two runs at different parallelism) disagree in the
    last ulps — un-hashable and, at 100 TB, irreproducible. Summing the
    decimal-exact partials (Sx, Sy, Sxx, Syy, Sxy) is order-insensitive
    and map-side combinable, and the closed-form moment formulas are then
    one deterministic IEEE expression over bit-identical inputs. This is
    also the distributed-correct formulation: the five partials are the
    mergeable sketch a 1000-node cluster would combine.
    """
    li = t(spark, sf_dir, "lineitem")
    qty, price, disc = dec("l_quantity"), dec("l_extendedprice"), dec("l_discount")
    partials = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(qty).cast("double").alias("sx"),
        F.sum(price).cast("double").alias("sy"),
        F.sum(qty * qty).cast("double").alias("sxx"),
        F.sum(price * price).cast("double").alias("syy"),
        F.sum(qty * price).cast("double").alias("sxy"),
        F.sum(disc).cast("double").alias("sd"),
        F.sum(disc * disc).cast("double").alias("sdd"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    sd, sdd = F.col("sd"), F.col("sdd")
    # Degenerate-group guards (found by an adversarial review):
    # - a constant-x or constant-y group makes the variance product 0
    #   exactly — ANSI Spark throws DIVIDE_BY_ZERO on x/0 while DuckDB
    #   returns NULL, so divide through try_divide/NULLIF on both sides;
    # - last-ulp cancellation can leave the product (or var) slightly
    #   NEGATIVE — DuckDB's sqrt(<0) hard-errors while Spark yields NaN,
    #   so clamp at 0 first (the ts_rolling_zscore fix pattern).
    corr_den = F.sqrt(
        F.greatest((n * sxx - sx * sx) * (n * syy - sy * sy), F.lit(0.0))
    )
    corr = F.try_divide(n * sxy - sx * sy, F.nullif(corr_den, F.lit(0.0)))
    var_disc = F.greatest((n * sdd - sd * sd) / (n * n), F.lit(0.0))
    return partials.select(
        "l_returnflag",
        n.cast("long").alias("n_rows"),
        fquant(corr, 6).alias("corr_qty_price"),
        fquant(F.sqrt(var_disc), 6).alias("stddev_pop_discount"),
    ).orderBy("l_returnflag")


AGG_STATS_SQL = """
WITH partials AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(CASE WHEN isfinite(l_quantity) THEN l_quantity END AS DECIMAL(18,4))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END AS DECIMAL(18,4))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(CASE WHEN isfinite(l_quantity) THEN l_quantity END AS DECIMAL(19,4)) * CAST(CASE WHEN isfinite(l_quantity) THEN l_quantity END AS DECIMAL(19,4))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END AS DECIMAL(19,4)) * CAST(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END AS DECIMAL(19,4))) AS DOUBLE) AS syy,
         CAST(SUM(CAST(CASE WHEN isfinite(l_quantity) THEN l_quantity END AS DECIMAL(19,4)) * CAST(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END AS DECIMAL(19,4))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(CASE WHEN isfinite(l_discount) THEN l_discount END AS DECIMAL(18,4))) AS DOUBLE) AS sd,
         CAST(SUM(CAST(CASE WHEN isfinite(l_discount) THEN l_discount END AS DECIMAL(19,4)) * CAST(CASE WHEN isfinite(l_discount) THEN l_discount END AS DECIMAL(19,4))) AS DOUBLE) AS sdd
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag,
       CAST(n AS BIGINT) AS n_rows,
       floor((n * sxy - sx * sy)
             / NULLIF(sqrt(greatest((n * sxx - sx * sx) * (n * syy - sy * sy),
                                    0.0)), 0.0)
             * 1000000.0) / 1000000.0 AS corr_qty_price,
       floor(sqrt(greatest((n * sdd - sd * sd) / (n * n), 0.0))
             * 1000000.0) / 1000000.0 AS stddev_pop_discount
FROM partials
ORDER BY l_returnflag
"""


# ---------------------------------------------------------------------------
# agg_unpivot — wide → long (melt)
# ---------------------------------------------------------------------------

def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot a wide per-flag aggregate into (group, measure, value)
    rows via ``stack`` — the lateral inverse of agg_pivot. Scale: the
    explode multiplies rows by a constant (#measures) with no shuffle
    beyond the aggregation's own; metric-store layouts at 100 TB prefer
    this long form precisely because it keeps the schema fixed as
    measures are added."""
    li = t(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        dsum("l_quantity").alias("sum_qty"),
        dsum("l_extendedprice").alias("sum_price"),
        F.count(F.lit(1)).cast("double").alias("n_rows"),
    )
    return wide.selectExpr(
        "l_returnflag",
        "stack(3, 'sum_qty', sum_qty, 'sum_price', sum_price,"
        " 'n_rows', n_rows) AS (measure, value)",
    ).orderBy("l_returnflag", "measure")


AGG_UNPIVOT_SQL = """
WITH wide AS (
  SELECT l_returnflag,
         CAST(ROUND(SUM(CAST(CASE WHEN isfinite(l_quantity) THEN l_quantity END AS DECIMAL(18,4))), 2) AS DOUBLE)
           AS sum_qty,
         CAST(ROUND(SUM(CAST(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END AS DECIMAL(18,4))), 2) AS DOUBLE)
           AS sum_price,
         CAST(COUNT(*) AS DOUBLE) AS n_rows
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, measure, value FROM (
  SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM wide
  UNION ALL
  SELECT l_returnflag, 'sum_price', sum_price FROM wide
  UNION ALL
  SELECT l_returnflag, 'n_rows', n_rows FROM wide
)
ORDER BY l_returnflag, measure
"""


# ---------------------------------------------------------------------------
# win_cume_dist — cumulative distribution + nth_value
# ---------------------------------------------------------------------------

def win_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cume_dist + nth_value over a totally-ordered window (the ordering
    includes the key so ties cannot make nth_value nondeterministic).
    cume_dist is a ratio of two counts — an exact integer division in
    double, identical across engines. One shuffle on the partition key."""
    orders = t(spark, sf_dir, "orders")
    # asc_nulls_last pins Spark to DuckDB's default null ordering — the
    # fixture has no null o_totalprice today, but fixtures regenerate
    # between rounds and a silent NULLS FIRST/LAST flip would reorder
    # every cume_dist value.
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.asc_nulls_last("o_totalprice"), F.asc_nulls_last("o_orderkey")
    )
    return (
        orders.select(
            "o_orderkey",
            "o_orderpriority",
            "o_totalprice",
            F.cume_dist().over(w).alias("cd"),
            F.nth_value("o_totalprice", 2).over(w).alias("second_lowest"),
        )
        .filter(F.col("cd") <= 0.01)
    )


WIN_CUME_DIST_SQL = """
SELECT o_orderkey, o_orderpriority, o_totalprice, cd, second_lowest
FROM (
  SELECT o_orderkey, o_orderpriority, o_totalprice,
         cume_dist() OVER w AS cd,
         nth_value(o_totalprice, 2) OVER w AS second_lowest
  FROM orders
  WINDOW w AS (PARTITION BY o_orderpriority
               ORDER BY o_totalprice, o_orderkey)
)
WHERE cd <= 0.01
"""


# ---------------------------------------------------------------------------
# ts_resample — calendar-spine gap fill + forward fill
# ---------------------------------------------------------------------------

def ts_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regularize an event stream onto a daily calendar spine: dates with
    no events appear with count 0 and a forward-filled running sum.

    Shape: one aggregation shuffle on (event_type, day); the spine is
    generated (``sequence`` + explode) from a two-value global min/max —
    a broadcast-joined one-row frame, not a collect. The forward fill is
    a window over the already-partitioned spine, so no extra shuffle.
    At 100 TB the spine's size is days × types — trivially broadcastable
    no matter how large the fact side is."""
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type"), F.to_date("ts").alias("d")
    ).agg(
        F.count(F.lit(1)).alias("event_count"),
        dsum("value").alias("day_value"),
    )
    bounds = ev.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    spine = (
        ev.select("event_type").distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(F.sequence("d0", "d1")).alias("d"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        # The daily aggregate is O(days × types) — broadcast it so the
        # spine join never shuffles (left-outer with broadcast build on
        # the right side is supported; AQE would usually find this, the
        # hint pins it).
        spine.join(F.broadcast(daily), ["event_type", "d"], "left")
        .select(
            "event_type",
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.coalesce("event_count", F.lit(0)).alias("event_count"),
            F.coalesce(
                F.last("day_value", ignorenulls=True).over(w), F.lit(0.0)
            ).alias("ffill_value"),
        )
    )


TS_RESAMPLE_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         COUNT(*) AS event_count,
         CAST(ROUND(SUM(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,4))), 2) AS DOUBLE)
           AS day_value
  FROM events GROUP BY 1, 2
), spine AS (
  SELECT et.event_type, CAST(gs.d AS DATE) AS d
  FROM (SELECT DISTINCT event_type FROM events) et
  CROSS JOIN (
    SELECT unnest(generate_series(
      (SELECT MIN(CAST(ts AS DATE)) FROM events),
      (SELECT MAX(CAST(ts AS DATE)) FROM events),
      INTERVAL 1 DAY)) AS d
  ) gs
)
SELECT s.event_type,
       strftime(s.d, '%Y-%m-%d') AS day,
       COALESCE(daily.event_count, 0) AS event_count,
       COALESCE(
         last_value(daily.day_value IGNORE NULLS) OVER (
           PARTITION BY s.event_type ORDER BY s.d
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         0.0) AS ffill_value
FROM spine s LEFT JOIN daily ON s.event_type = daily.event_type AND s.d = daily.d
"""


# ---------------------------------------------------------------------------
# maintenance_vacuum — retention delete of aged partitions
# ---------------------------------------------------------------------------

RETENTION_DAYS = 7


def maintenance_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention vacuum: write events partitioned by day, then DROP whole
    partitions older than ``max(day) - RETENTION_DAYS`` by deleting their
    directories through the Hadoop FileSystem API (object-store-portable,
    same abstraction as maintenance_compact's sizing).

    Partition-granular deletion is the only retention shape that works at
    100 TB: it is O(#partitions) metadata work with zero data read,
    whereas a row-level ``DELETE WHERE`` rewrites every file. The
    read-back aggregate proves exactly the surviving rows remain."""
    ev = t(spark, sf_dir, "events")
    base = fresh_dir(os.path.join(SCRATCH, "maintenance_vacuum"))
    silver = ev.withColumn("day", F.date_format(F.to_date("ts"), "yyyy-MM-dd"))
    silver.write.partitionBy("day").parquet(base, mode="overwrite")

    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(base)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    import re

    days = sorted(
        st.getPath().getName().split("=", 1)[1]
        for st in fs.listStatus(jpath)
        # The regex excludes a __HIVE_DEFAULT_PARTITION__ dir (null ts
        # would produce one on a future fixture regeneration, and '_'
        # sorts after digits, so it would land at days[-1] and break the
        # cutoff parse); null-day rows are simply never vacuumed.
        if st.isDirectory()
        and re.fullmatch(r"day=\d{4}-\d{2}-\d{2}", st.getPath().getName())
    )
    # Lexicographic compare is correct for zero-padded yyyy-MM-dd (the
    # same ordering trick the reference's month gate relies on).
    import datetime

    # No dated partitions (all-NULL ts, or an empty table) => there is
    # no retention anchor and nothing to vacuum; the read-back below
    # then yields the oracle's empty result via the day IS NOT NULL
    # filter rather than an IndexError here.
    if days:
        cutoff = (
            datetime.date.fromisoformat(days[-1])
            - datetime.timedelta(days=RETENTION_DAYS)
        ).isoformat()
        for d in days:
            if d < cutoff:
                fs.delete(
                    jvm.org.apache.hadoop.fs.Path(base, f"day={d}"), True
                )

    # schema-pinned read-back: an empty corpus writes no data files and
    # must read as an empty table, not a schema-inference error
    kept = spark.read.schema(silver.schema).parquet(base)
    # Null-day rows (if a future fixture carries null ts) are retained on
    # disk but excluded from the report, mirroring the oracle's NULL
    # comparison semantics (NULL >= cutoff filters the row).
    return (
        kept.filter(F.col("day").isNotNull())
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            dsum("value").alias("sum_value"),
        )
    )


MAINTENANCE_VACUUM_SQL = f"""
WITH bounds AS (
  SELECT MAX(CAST(ts AS DATE)) - INTERVAL {RETENTION_DAYS} DAY AS cutoff
  FROM events
)
SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
       COUNT(*) AS event_count,
       CAST(ROUND(SUM(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value
FROM events, bounds
WHERE CAST(ts AS DATE) >= CAST(bounds.cutoff AS DATE)
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# maintenance_zorder — multi-dimensional clustering for min/max pruning
# ---------------------------------------------------------------------------

def _morton_spread(col):
    """Spread the low 16 bits of ``col`` so a second dimension can be
    OR-ed into the odd bits (standard Morton-code bit tricks, 4 masked
    shifts — all JVM codegen, no UDF)."""
    x = col.cast("long")
    x = x.bitwiseOR(F.shiftleft(x, 8)).bitwiseAND(F.lit(0x00FF00FF))
    x = x.bitwiseOR(F.shiftleft(x, 4)).bitwiseAND(F.lit(0x0F0F0F0F))
    x = x.bitwiseOR(F.shiftleft(x, 2)).bitwiseAND(F.lit(0x33333333))
    x = x.bitwiseOR(F.shiftleft(x, 1)).bitwiseAND(F.lit(0x55555555))
    return x


N_ZFILES = 16


def maintenance_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering: rewrite lineitem ordered by the Morton
    interleave of (l_orderkey, l_partkey) so parquet min/max zone maps
    prune file reads for predicates on EITHER dimension — the layout
    optimization behind Delta/Iceberg ``OPTIMIZE ZORDER BY``.

    Mechanics: each key is range-scaled to 16 bits from its global
    min/max (a two-value bounded collect), bit-interleaved with 8 masked
    shift-ORs (pure codegen), then ``repartitionByRange`` on the Z-value
    + sortWithinPartitions writes N files, each covering a compact
    rectangle of (orderkey, partkey) space. The verification query — a
    2-D box predicate served from the clustered copy — must equal the
    same predicate on the source; tests/test_plans.py asserts the
    majority of files are skippable by footer stats. At 100 TB the same
    plan holds: scaling bounds come from table stats, the rewrite is one
    range shuffle, and pruning is metadata-only."""
    li = t(spark, sf_dir, "lineitem")
    base = fresh_dir(os.path.join(SCRATCH, "maintenance_zorder"))

    b = li.agg(
        F.min("l_orderkey").alias("ok0"), F.max("l_orderkey").alias("ok1"),
        F.min("l_partkey").alias("pk0"), F.max("l_partkey").alias("pk1"),
    ).collect()[0]  # bounded: exactly four scalars (table stats at scale)
    if b.ok0 is None:
        # empty table: no bounds, nothing to cluster — the verification
        # box over zero rows is the empty aggregate
        return spark.createDataFrame(
            [], "l_returnflag string, n_rows bigint, sum_price double"
        )

    def scale16(col, lo, hi):
        span = max(hi - lo, 1)
        return ((col - F.lit(lo)) * F.lit(65535) / F.lit(span)).cast("long")

    z = _morton_spread(scale16(F.col("l_orderkey"), b.ok0, b.ok1)).bitwiseOR(
        F.shiftleft(_morton_spread(scale16(F.col("l_partkey"), b.pk0, b.pk1)), 1)
    )
    (
        li.withColumn("zval", z)
        .repartitionByRange(N_ZFILES, "zval")
        .sortWithinPartitions("zval")
        .drop("zval")
        .write.parquet(base, mode="overwrite")
    )

    clustered = spark.read.parquet(base)
    ok_mid, pk_mid = (b.ok0 + b.ok1) // 2, (b.pk0 + b.pk1) // 2
    box = (
        (F.col("l_orderkey") >= b.ok0) & (F.col("l_orderkey") <= ok_mid)
        & (F.col("l_partkey") >= b.pk0) & (F.col("l_partkey") <= pk_mid)
    )
    return clustered.filter(box).groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("l_extendedprice").alias("sum_price"),
    )


MAINTENANCE_ZORDER_SQL = """
WITH b AS (
  SELECT MIN(l_orderkey) AS ok0, MAX(l_orderkey) AS ok1,
         MIN(l_partkey) AS pk0, MAX(l_partkey) AS pk1
  FROM lineitem
)
SELECT l_returnflag,
       COUNT(*) AS n_rows,
       CAST(ROUND(SUM(CAST(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END AS DECIMAL(18,4))), 2) AS DOUBLE)
         AS sum_price
FROM lineitem, b
WHERE l_orderkey >= b.ok0 AND l_orderkey <= (b.ok0 + b.ok1) // 2
  AND l_partkey >= b.pk0 AND l_partkey <= (b.pk0 + b.pk1) // 2
GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# scan_binaryfile — opaque-payload ingestion via the binaryFile source
# ---------------------------------------------------------------------------

BINARY_SAMPLE_MOD = 20


def scan_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest a directory of opaque files through Spark's ``binaryFile``
    source — the entry path for raw multimodal payloads (images, audio)
    before mm_decode_meta takes over. Identity is recovered from the
    path, integrity from md5(content): the oracle recomputes both from
    the documents table, so a truncated or mis-mapped file fails the
    hash.

    Scale: binaryFile is a normal FileScan — files are split across
    executors by the listing, filters on path/length push down, and the
    md5 is a JVM expression over the content column. The stage-out
    materializes one file per sampled doc via ``foreachPartition`` —
    each executor task writes its own slice to shared storage, so the
    payload bytes never pass through the driver (at 100 TB the source
    would already BE files on the object store and staging disappears
    entirely)."""
    docs = t(spark, sf_dir, "documents").filter(
        (F.col("doc_id") % BINARY_SAMPLE_MOD == 0)
        # A NULL payload has no file to stage; the oracle mirrors the
        # exclusion (md5(NULL) on one side vs a crash on the other was
        # the alternative).
        & F.col("text").isNotNull()
    )
    base = fresh_dir(os.path.join(SCRATCH, "scan_binaryfile"))

    def _stage_slice(rows):
        import os as _os

        for row in rows:
            name = _os.path.join(base, f"doc_{row['doc_id']}.bin")
            with open(name, "wb") as f:
                f.write(row["text"].encode("utf-8"))

    docs.select("doc_id", "text").foreachPartition(_stage_slice)

    binf = spark.read.format("binaryFile").load(base)
    return binf.select(
        # -? : ids are arbitrary integers — a digits-only pattern
        # extracts '' from "doc_-12.bin" and the ANSI cast throws
        # (round-10 negative-ids sweep)
        F.regexp_extract(F.col("path"), r"doc_(-?\d+)\.bin$", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.md5(F.col("content")).alias("content_md5"),
    )


SCAN_BINARYFILE_SQL = f"""
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       md5(text) AS content_md5
FROM documents
WHERE doc_id % {BINARY_SAMPLE_MOD} = 0 AND text IS NOT NULL
"""


QUERIES: dict[str, Query] = {
    "agg_stats": Query(agg_stats, AGG_STATS_SQL, "portable decimal-exact moments"),
    "agg_unpivot": Query(agg_unpivot, AGG_UNPIVOT_SQL, "wide→long melt via stack"),
    "win_cume_dist": Query(
        win_cume_dist, WIN_CUME_DIST_SQL, "cume_dist + nth_value tail filter"
    ),
    "ts_resample": Query(
        ts_resample, TS_RESAMPLE_SQL, "calendar-spine gap fill + forward fill"
    ),
    "maintenance_vacuum": Query(
        maintenance_vacuum, MAINTENANCE_VACUUM_SQL, "partition-granular retention",
        build="side_effects",
    ),
    "maintenance_zorder": Query(
        maintenance_zorder, MAINTENANCE_ZORDER_SQL, "Morton-interleave clustering",
        build="side_effects",
    ),
    "scan_binaryfile": Query(
        scan_binaryfile, SCAN_BINARYFILE_SQL, "binaryFile payload ingestion",
        build="side_effects",
    ),
}


BUCKET_WIDTH = 25_000.0


def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order totals — the profiling pass every
    ingest runs before choosing partition/cluster bounds. Bucketing is
    ``floor(x / width)`` (no half-boundary ambiguity across engines, per
    the _util float discipline); one partial-aggregated shuffle of
    O(buckets) rows regardless of table size."""
    orders = t(spark, sf_dir, "orders").filter(
        # a non-finite total has no bucket (Spark's ANSI floor would
        # silently fabricate bucket 0 from NaN); NULL rows keep their
        # NULL bucket as before — oracle mirrors the same disjunction
        F.col("o_totalprice").isNull()
        | (~F.isnan("o_totalprice")
           & (F.abs("o_totalprice") != float("inf")))
    )
    bucket = F.floor(F.col("o_totalprice") / F.lit(BUCKET_WIDTH)).cast("long")
    return (
        orders.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
        .withColumn("bucket_lo", F.col("bucket") * BUCKET_WIDTH)
    )


AGG_HISTOGRAM_SQL = f"""
SELECT CAST(floor(o_totalprice / {BUCKET_WIDTH}) AS BIGINT) AS bucket,
       COUNT(*) AS n_orders,
       MIN(o_totalprice) AS min_price,
       MAX(o_totalprice) AS max_price,
       CAST(floor(o_totalprice / {BUCKET_WIDTH}) AS BIGINT)
         * CAST({BUCKET_WIDTH} AS DOUBLE) AS bucket_lo
FROM orders
WHERE o_totalprice IS NULL OR isfinite(o_totalprice)
GROUP BY 1
"""


QUERIES.update(
    {
        "agg_histogram": Query(
            agg_histogram, AGG_HISTOGRAM_SQL, "fixed-width profiling histogram"
        ),
    }
)
