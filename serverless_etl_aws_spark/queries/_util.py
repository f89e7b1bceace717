"""Shared helpers for oracle-parity queries.

Float discipline (SURVEY.md §2B notes): the driver hash-compares values, so
any aggregate over doubles must be bit-identical between Spark and DuckDB.
Two rules:

1. Sums/averages of doubles are computed over exact decimals (summation
   order differs between engines; decimal aggregation is exact).
2. Quantization of a final value NEVER uses ``ROUND(double)`` — Spark
   rounds the shortest decimal repr, DuckDB the binary value, and they
   diverge at half boundaries. Either round IN DECIMAL (both engines round
   decimals half-away-from-zero identically) or floor-quantize the double
   (floor has no half-boundary behavior and the input doubles are
   bit-identical when both engines evaluate the same IEEE expression).

Per-row double arithmetic itself is deterministic IEEE and needs no
special handling.

Float specials (round-11 axis): NaN/±Inf in a measure column have NO
exact value — the decimal discipline maps them to NULL on BOTH engines.
Spark's ANSI ``CAST(double AS DECIMAL)`` already yields NULL for
non-finite input (verified: NaN/±Inf → NULL, finite → exact), so the
engine side is the built-in behavior; DuckDB's cast THROWS, so every
oracle-side decimal cast of a possibly-non-finite double goes through
``CASE WHEN isfinite(x) THEN x END`` (sql_fin below). Quantization is
the dangerous one: Spark's ANSI ``floor()`` returns LONG and silently
fabricates 0 from NaN and ±2⁶³ from ±Inf (measured), where DuckDB's
double ``floor`` propagates the special — so :func:`fquant` guards
non-finite to NULL on the engine side and oracle mirrors either
propagate (NaN ≡ NULL under the comparator) or carry the same
isfinite CASE where ±Inf can reach the floor.
"""

from __future__ import annotations

import os
import urllib.parse

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import catalog

DEC = "decimal(18,4)"


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return catalog.load_table(spark, sf_dir, name)


#: Row-group counts per fixture table, keyed on its
#: :func:`catalog.content_stamp` — the splittability gate behind
#: :func:`spread` (a parquet scan task cannot split a row group, so row
#: groups bound a file's scan parallelism).
_ROW_GROUP_CACHE: dict[tuple, int] = {}


def natural_scan_tasks(sf_dir: str, name: str) -> int:
    """Upper bound on the scan parallelism the fixture layout allows for
    table ``name``: total parquet row groups across its member files
    (each row group is read by exactly one task — Spark cannot split
    one). Driver-side footer metadata only (cached per content stamp);
    a path with no stamp (non-local, missing) returns a large sentinel —
    cluster tables are many-row-group by construction and the caller's
    gate must read "already parallel enough" there."""
    stamp = catalog.content_stamp(catalog.table_path(sf_dir, name))
    if stamp is None:
        return 1 << 20
    hit = _ROW_GROUP_CACHE.get(stamp)
    if hit is not None:
        return hit
    import pyarrow.parquet as pq

    n = max(
        1,
        sum(
            pq.ParquetFile(p).metadata.num_row_groups
            for p, _mtime, _size in stamp
            if p.endswith(".parquet")
        ),
    )
    _ROW_GROUP_CACHE[stamp] = n
    return n


def spread(df: DataFrame, sf_dir: str, table: str = "lineitem") -> DataFrame:
    """Scale-adaptive parallelism repair before a compute-heavy stage
    (optimization guide §2.5 "input skew: one huge unsplittable file").

    A parquet file is splittable only at row-group boundaries, so a
    single-row-group input (the fixture layout; also any badly-compacted
    landing file in production) runs its ENTIRE pre-exchange pipeline —
    scan, filters, per-row expressions, broadcast-join probes, explode —
    on one core. When the driving table ``table`` cannot naturally feed
    at least the session's parallelism, one round-robin exchange of the
    (column-pruned) rows spreads that work across the cluster.

    At scale this is a structural NO-OP, decided driver-side from footer
    metadata (cached): a 100 TB table has thousands of row groups, the
    gate ``natural >= defaultParallelism`` holds, and no exchange is
    added — the repartition can never trigger on data that is already
    parallel. Results are partition-count independent (environment axis
    25 pins that property for every registry key).

    The exchange costs CPU, so a query calls this only where a per-site
    A/B at sf0.1 shows a wall win: on ``local[4]`` with 4 shuffle
    partitions, spread must win at least 6 of 7 interleaved pairs, and
    its median gap must exceed the quartile spread of the runs without
    it, in each of two sets. The sites that pass, medians of the 14
    pairs, with → without (CPU is the JVM's and the driver's, JIT
    threads left out); the last column is 7 pairs at sf0.01, where the
    win is small or gone:

    ====================  =============  =============  =============
    key                   wall s         CPU s          sf0.01 wall s
    ====================  =============  =============  =============
    join_range            0.83 → 2.63    2.46 → 2.68    0.15 → 0.19
    llm_dedup_embedding   1.56 → 4.11    4.69 → 4.19    0.54 → 0.63
    llm_bpe_pairs         0.58 → 1.49    1.63 → 1.53    0.18 → 0.24
    llm_decontaminate     0.97 → 1.72    2.04 → 1.75    0.32 → 0.38
    ml_feature_screen     1.69 → 2.27    3.27 → 2.31    0.39 → 0.43
    llm_dedup_editdist    2.07 → 2.65    4.49 → 3.63    0.83 → 0.81
    llm_dedup_ngram       1.84 → 2.27    3.50 → 2.82    0.77 → 0.73
    llm_dedup_simhash     1.52 → 1.94    0.49 → 0.40    1.01 → 0.80
    ====================  =============  =============  =============
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if natural_scan_tasks(sf_dir, table) >= target:
        return df
    return df.repartition(target)


def dec(col: str | Column) -> Column:
    """Cast to the engine's exact intermediate decimal type. Non-finite
    input yields NULL (Spark's ANSI double→decimal cast does this
    natively); oracle twins mirror with ``sql_fin``."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(DEC)


def fin(col: str | Column) -> Column:
    """NULL out non-finite doubles — the explicit engine-side twin of
    ``sql_fin`` for sites where the double feeds something OTHER than a
    decimal cast (a floor, a pandas UDF, a JDBC writer)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(~F.isnan(c) & (F.abs(c) != float("inf")), c)


def sql_fin(expr: str) -> str:
    """Oracle-side mirror of the non-finite→NULL contract: DuckDB's
    double→decimal cast THROWS on NaN/±Inf where Spark's yields NULL,
    so any decimal cast of a possibly-non-finite double wraps in this
    CASE. NULL-safe (isfinite(NULL) is NULL → CASE yields NULL)."""
    return f"CASE WHEN isfinite({expr}) THEN {expr} END"


def vec_finite(col: str | Column = "embedding") -> Column:
    """A vector containing ANY non-finite component is not a valid
    embedding — the vector twin of the scalar float-specials contract:
    one NaN poisons every dot product it touches (cosine → NaN →
    engine-specific top-k placement), an Inf overflows scaled-integer
    centroid sums. Rows with a poisoned vector are EXCLUDED from
    similarity/quantize/centroid relations; NULL vectors keep their
    existing per-key NULL handling (this predicate passes them
    through). Oracle mirror: :func:`sql_vec_finite`.

    A NULL ELEMENT is missing, not non-finite — it passes (round-12 fix
    of a latent r11 asymmetry the consolidated sweep caught: the
    original ``forall(x -> finite(x))`` went NULL on a NULL element and
    silently dropped the row, while the oracle's
    ``list_filter(x -> NOT isfinite(x))`` counts only DEFINITE
    non-finite components and kept it. The exists-based form below
    gives Spark the oracle's semantics exactly: any definite NaN/±Inf →
    drop; NULL elements alone → keep, and their 3VL/NULL-poisoning
    behavior stays each key's own contract — see fn_higher_order)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.isNull() | F.coalesce(
        ~F.exists(c, lambda x: F.isnan(x) | (F.abs(x) == float("inf"))),
        F.lit(True),
    )


def sql_vec_finite(expr: str = "embedding") -> str:
    """DuckDB mirror of :func:`vec_finite` (list_filter counts the
    non-finite components; NULL lists pass through)."""
    return (
        f"({expr} IS NULL OR len(list_filter({expr},"
        f" x -> NOT isfinite(x))) = 0)"
    )


#: Modal-dim cache: (plan fingerprint + source-file stamps, col) → mode.
#: vec_dim_mode is an EAGER O(1)-result job; without the cache every
#: embedding key re-scans the corpus once per DataFrame CONSTRUCTION
#: (including plan/explain-only paths — ADVICE r12). The key is bound to
#: the on-disk content (:func:`catalog.content_stamp`, as every memo),
#: so a regenerated fixture invalidates it; DataFrames with no file
#: lineage (createDataFrame in tests) or non-local URIs skip the cache.
_DIM_MODE_CACHE: dict[tuple[tuple, str], int | None] = {}


def clear_dim_mode_cache() -> None:
    """Drop every cached modal dim (test/maintenance hook)."""
    _DIM_MODE_CACHE.clear()


def _content_key(emb: DataFrame) -> tuple | None:
    """Content-bound cache key for a file-backed DataFrame: the analyzed
    plan's semantic fingerprint plus each source file's
    :func:`catalog.content_stamp`, or None when the lineage has no local
    files (in-memory test frames, non-file URIs) — those stay uncached.

    The plan fingerprint keeps two DIFFERENT relations over the same
    files apart (a filtered subset must not poison the raw table's
    cached mode, and vice versa); the file stats bind the key to on-disk
    content so a rewritten fixture invalidates naturally."""
    try:
        files = sorted(emb.inputFiles())
    except Exception:  # pragma: no cover — non-file-source plans
        return None
    if not files:
        return None
    try:
        plan_fp = str(emb._jdf.queryExecution().analyzed().semanticHash())
    except Exception:  # pragma: no cover — fail safe: uncached
        return None
    key = [plan_fp]
    for uri in files:
        # file://HOST/path (authority form) is NOT a local path this
        # process can stat — urlparse keeps the host separate instead of
        # the old slash-stripping turning it into /HOST/path.
        parsed = urllib.parse.urlparse(uri)
        if parsed.scheme != "file" or parsed.netloc not in ("", "localhost"):
            return None
        stamp = catalog.content_stamp(urllib.parse.unquote(parsed.path))
        if stamp is None:
            return None
        key.extend(stamp)
    return tuple(key)


def vec_dim_mode(emb: DataFrame, col: str = "embedding") -> int | None:
    """The corpus's dominant (modal) vector dimension — the round-12
    ragged-dims contract's reference dim. A vector whose dimension
    differs from the corpus mode is not a valid embedding: cosine
    against it is undefined (Spark ``zip_with`` NULL-pads the shorter
    side; DuckDB errors or NULLs differently), centroid sums need
    uniform dims, and a ragged sample crashes ``np.array`` in the
    IVF/PQ trainers. Mode is computed over NON-NULL vectors of the RAW
    table (dim is a shape property, independent of component values, so
    poisoned-but-right-dim vectors still count); ties break to the
    SMALLEST dim. O(1)-result driver collect: one map-side-combinable
    groupBy over the handful of distinct dims. Oracle mirror:
    :func:`sql_vec_dim_ok`. Returns None on a corpus with no vectors
    (callers skip the filter — the relation is empty anyway).

    Memoized per (analyzed-plan fingerprint, on-disk corpus content)
    (``_DIM_MODE_CACHE``): the mode is a corpus property, so one scan
    per fixture per process — not one per DataFrame construction. The
    plan fingerprint in the key means a caller that passes a FILTERED
    subset gets its own entry rather than poisoning (or inheriting)
    the raw table's mode — but the contract is still "pass the RAW
    table": the reference dim is a property of the whole corpus, and a
    subset's mode is simply not that number."""
    ck = _content_key(emb)
    if ck is not None and (ck, col) in _DIM_MODE_CACHE:
        return _DIM_MODE_CACHE[(ck, col)]
    row = (
        emb.filter(F.col(col).isNotNull())
        .groupBy(F.size(F.col(col)).alias("d"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("d").asc())
        .first()
    )
    mode = int(row["d"]) if row is not None else None
    if ck is not None:
        _DIM_MODE_CACHE[(ck, col)] = mode
    return mode


def vec_dim_ok(emb: DataFrame, col: str = "embedding") -> Column:
    """Engine-side ragged-dims filter: keep NULL vectors (per-key NULL
    handling stays) and vectors whose dimension equals the corpus mode
    (:func:`vec_dim_mode`). On a vector-free corpus this reduces to the
    NULL pass-through."""
    c = F.col(col)
    dim = vec_dim_mode(emb, col)
    if dim is None:
        return c.isNull() | F.lit(True)
    return c.isNull() | (F.size(c) == dim)


def sql_vec_dim_ok(expr: str = "embedding", table: str = "embeddings") -> str:
    """DuckDB mirror of :func:`vec_dim_ok`: the modal-dim subquery over
    the same raw table, ties to the smallest dim, NULLs pass through.
    (On an all-NULL corpus the subquery is empty and ``len = NULL`` is
    never true — equivalent, since there are no non-NULL vectors.)"""
    return (
        f"({expr} IS NULL OR len({expr}) = ("
        f"SELECT len(embedding) FROM {table} WHERE embedding IS NOT NULL "
        f"GROUP BY len(embedding) ORDER BY COUNT(*) DESC, len(embedding) "
        f"LIMIT 1))"
    )


#: Limb width for the split-long accumulation in :func:`_scaled_unit_sum`.
#: 21 bits per low/mid limb caps each per-row limb at 2²¹, so a long limb
#: sum overflows only past 2⁶³⁻²¹ ≈ 4.4e12 rows PER GROUP — ~7× a 100 TB
#: lineitem's row count (≈6e11). The hi limb is bounded by the type:
#: |scaled| ≤ 9.99e17 → |hi| ≤ 2.3e5, so its sum needs ~4e13 rows to
#: overflow. Past those bounds ANSI Spark still fails LOUD (long-sum
#: overflow), but the horizon moved from ~10 rows of DECIMAL(18,4)-max
#: values (the r14 single-long accumulator, VERDICT r14 what's-wrong #1)
#: to ~4 trillion rows.
_LIMB_BITS = 21
_LIMB_MASK = (1 << _LIMB_BITS) - 1


def _scaled_unit_sum(col: str | Column) -> Column:
    """Exact SUM of ``CAST(x AS DECIMAL(18,4))`` in units of 1e-4, as
    DECIMAL(38,0) — the shared accumulator behind :func:`dsum` /
    :func:`davg`.

    Accumulation (optimization r14 + r15, guide §2.3 "narrower types"):
    the per-row value is the SAME ``CAST(x AS DECIMAL(18,4))`` as the
    original decimal formulation (identical HALF_UP rounding at the 4th
    decimal, NULL on non-finite), scaled to a BIGINT of 1e-4 units so
    aggregation stays on Spark's primitive long buffer — SUM over
    DECIMAL(18,4) yields DECIMAL(28,4), whose 28-digit buffer exceeds
    the long-backed fast path and allocates a BigDecimal per row
    (measured 0.45 s → 0.28 s per 600k-row aggregate when moved to
    long).

    The r15 change: the scaled value is split into three limbs
    (hi = scaled >> 42, mid/lo = 21-bit chunks; arithmetic shift is
    floor division and ``& mask`` its exact non-negative remainder, so
    hi·2⁴² + mid·2²¹ + lo ≡ scaled for negatives too) and each limb is
    summed as its own long. The r14 single-long sum overflowed at
    ~9.2e14 whole units — less than SUM(l_extendedprice) over a 100 TB
    lineitem (~2e16) — whereas the limb sums are row-COUNT-bounded
    (see ``_LIMB_BITS``), not value-bounded. The three limb sums are
    recombined exactly in DECIMAL(38,0) on the handful of group rows.
    All three sums skip exactly the NULL rows (the limbs of a NULL
    scaled value are NULL), so NULL/empty-group semantics are unchanged.
    """
    c = F.col(col) if isinstance(col, str) else col
    scaled = (c.cast(DEC) * 10000).cast("long")
    lo = F.sum(scaled.bitwiseAND(F.lit(_LIMB_MASK)))
    mid = F.sum(
        F.shiftright(scaled, _LIMB_BITS).bitwiseAND(F.lit(_LIMB_MASK))
    )
    hi = F.sum(F.shiftright(scaled, 2 * _LIMB_BITS))
    return (
        hi.cast("decimal(38,0)") * F.lit(1 << (2 * _LIMB_BITS))
        + mid.cast("decimal(38,0)") * F.lit(1 << _LIMB_BITS)
        + lo.cast("decimal(38,0)")
    )


def dsum(col: str | Column, scale: int = 2) -> Column:
    """Exact decimal sum, rounded IN DECIMAL, then cast to double.

    Rounding must happen in decimal: both engines round decimals
    half-away-from-zero (verified), whereas ``ROUND(double)`` diverges at
    half boundaries (Spark rounds the shortest decimal repr, DuckDB the
    binary value) — and an exact sum ending in .xx50 IS a half boundary.
    Mirror: ``CAST(ROUND(SUM(CAST(x AS DECIMAL(18,4))), scale) AS DOUBLE)``.

    Accumulates via :func:`_scaled_unit_sum` (primitive long limbs,
    row-count-bounded headroom); the rounding tail converts back to
    DECIMAL on the group rows, so the rounded value (and its double
    rendering) is bit-identical to the old decimal-sum formulation.
    """
    exact = (_scaled_unit_sum(col) / 10000).cast("decimal(38,4)")
    return F.round(exact, scale).cast("double")


def fquant(col: Column, scale: int = 2) -> Column:
    """Floor-quantize a double: deterministic across engines because the
    input doubles are bit-identical (same IEEE expression) and floor has no
    half-boundary behavior. Mirror: ``floor(x * 10^scale) / 10^scale``.

    Non-finite input quantizes to NULL: Spark's ANSI ``floor`` returns
    LONG and silently fabricates 0 from NaN / ±2⁶³ from ±Inf — the
    worst failure mode (wrong number, no error). DuckDB's double
    ``floor`` propagates NaN, which the comparator treats as NULL, so
    plain oracle mirrors stay valid for the NaN path; only oracles
    whose input can reach ±Inf need an explicit isfinite CASE.

    FINITE-but-huge input also quantizes to NULL: Spark's long floor
    silently SATURATES at ±2⁶³ (measured: a 2.7e16 kurtosis quantized
    to exactly 9223372036854.775 — Long.MAX/10⁶ — with no error),
    where DuckDB's double floor keeps the value. |x·factor| ≥ 9.2e18
    has no exact quantization, so it is NULL; an oracle whose value
    can reach that magnitude mirrors with
    ``CASE WHEN abs(x * F) < 9.2e18 THEN floor(x * F) / F END``
    (the predicate folds on bit-identical doubles — see
    agg_skew_kurt, whose near-singular m2 regime hit this)."""
    factor = float(10 ** scale)
    scaled = col * factor
    return F.when(
        ~F.isnan(col)
        & (F.abs(col) != float("inf"))
        & (F.abs(scaled) < 9.2e18),
        F.floor(scaled) / factor,
    )


def davg(col: str | Column, scale: int = 2) -> Column:
    """Exact decimal sum cast to double, divided by count, floor-quantized.
    Mirror in DuckDB:
    ``floor(CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
      * 10^scale) / 10^scale``.

    Accumulates via :func:`_scaled_unit_sum` like :func:`dsum` (same
    per-row decimal cast, primitive long limb buffers, exact decimal
    reconstruction on the group rows — the double rendering is
    bit-identical)."""
    exact = (_scaled_unit_sum(col) / 10000).cast("decimal(38,4)")
    return fquant(exact.cast("double") / F.count(F.lit(1)), scale)


def revenue_dec() -> Column:
    """Exact revenue term: DECIMAL(l_extendedprice) * DECIMAL(1-l_discount).
    DuckDB mirror: ``SQL_REVENUE_DEC`` (isfinite-guarded — Spark's ANSI
    cast NULLs non-finite natively, DuckDB's throws)."""
    return dec("l_extendedprice") * (F.lit(1) - F.col("l_discount")).cast(DEC)


# SQL fragments for the DuckDB side, kept next to their Spark twins above.
SQL_REVENUE_DEC = (
    "CAST(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END"
    " AS DECIMAL(18,4))"
    " * CAST(CASE WHEN isfinite(l_discount) THEN 1 - l_discount END"
    " AS DECIMAL(18,4))"
)


def sql_dsum(expr: str, scale: int = 2) -> str:
    return (
        f"CAST(ROUND(SUM(CAST({sql_fin(expr)} AS DECIMAL(18,4))),"
        f" {scale}) AS DOUBLE)"
    )


def sql_davg(expr: str, scale: int = 2) -> str:
    factor = 10 ** scale
    return (
        f"floor(CAST(SUM(CAST({sql_fin(expr)} AS DECIMAL(18,4))) AS DOUBLE)"
        f" / COUNT(*) * {factor}.0) / {factor}.0"
    )


def fresh_dir(path: str) -> str:
    """Recreate ``path`` empty — the staging-dir lifecycle every
    file-writing query key shares (one definition; previously copy-pasted
    per module)."""
    import shutil

    if os.path.exists(path):
        shutil.rmtree(path)
    os.makedirs(path, exist_ok=True)
    return path


def hadoop_dir_bytes(spark: SparkSession, path: str) -> int:
    """Total bytes of the parquet data files directly under ``path``,
    listed through Hadoop's FileSystem API — the same abstraction the
    scans use, so it resolves any supported scheme (``file:``, ``s3a:``,
    ``hdfs:``) identically. A local ``os.listdir`` would silently break
    the moment the table moves to an object store."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    total = 0
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if (
            st.isFile()
            and name.endswith(".parquet")
            and not name.startswith(("_", "."))
        ):
            total += st.getLen()
    return total


def scratch_root() -> str:
    """Per-process scratch directory for query functions that materialize
    side files (staged streaming sources, csv/json/orc exports, bucketed
    tables). Override the base with $SPARK_GRAFT_SCRATCH; the default is
    <repo>/.scratch. The pid suffix keeps concurrent runs (bench vs
    pytest) from clobbering each other's staging dirs."""
    base = os.environ.get("SPARK_GRAFT_SCRATCH")
    if base is None:
        repo = os.path.dirname(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        )
        base = os.path.join(repo, ".scratch")
    return os.path.join(base, f"pid{os.getpid()}")


def nation_trade_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One (customer-nation, supplier-nation) row per lineitem — the
    shared fact-join reduction behind the graph keys (graph_pagerank /
    graph_triangles / graph_label_propagation). The 100 TB point all
    three make: dimensions broadcast, and the fact table collapses to a
    tiny pair stream BEFORE any graph work touches it. Callers
    aggregate the raw pairs into their own edge form (weighted /
    canonical-undirected / symmetrized)."""
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    supp = t(spark, sf_dir, "supplier")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(supp.select("s_suppkey", "s_nationkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select("c_nationkey", "s_nationkey")
    )


# Session-level cache for the graph family's shared edge relations
# (VERDICT r6 residual nit → ADVICE r6 #3): graph_bfs and
# graph_degree_dist both consume the co-order part adjacency, and
# graph_jaccard re-derives the supplier-part bipartite edges on every
# call — each rebuild is a full lineitem self-join/distinct. Memoizing
# the MATERIALIZED relation per (applicationId, lineitem content stamp)
# follows the BPE merge-engine pattern (extras9._BPE_CACHE): one
# FileScan + one distinct-shuffle per session for the whole family, and
# warm bench runs start from the checkpoint instead of re-deriving
# edges. Keyed by applicationId so a restarted session can never see
# another JVM's checkpointed RDDs, and on catalog.content_stamp so a
# rewritten lineitem rebuilds (no stamp, no memo). 100 TB posture: this
# IS the "materialized shared edge relation" a production graph tier
# maintains as a table; the session memo is its single-job equivalent.
_GRAPH_EDGE_CACHE: dict[tuple, DataFrame] = {}


def _memo_edges(
    spark: SparkSession, sf_dir: str, kind: str, plan
) -> DataFrame:
    """Get-or-build for the edge relations below: ``plan()`` materialized
    once per session + lineitem content (see :data:`_GRAPH_EDGE_CACHE`)."""
    stamp = catalog.content_stamp(catalog.table_path(sf_dir, "lineitem"))
    key = (spark.sparkContext.applicationId, kind, stamp)
    hit = _GRAPH_EDGE_CACHE.get(key)
    if hit is not None:
        return hit
    from ..operators.graph import materialize

    edges = materialize(plan())
    if stamp is not None:
        _GRAPH_EDGE_CACHE[key] = edges
    return edges


def co_order_part_adj_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UNMATERIALIZED build plan behind :func:`co_order_part_adj`:
    lineitem self-join on l_orderkey (equi-join — hot orders are AQE
    skew-split), ≠ filter, distinct. Exposed separately so plan-shape
    tests can assert the one-time build is never a cartesian."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    x, y = li.alias("x"), li.alias("y")
    return (
        x.join(y, "l_orderkey")
        .filter(F.col("x.l_partkey") != F.col("y.l_partkey"))
        .select(
            F.col("x.l_partkey").alias("node"),
            F.col("y.l_partkey").alias("nbr"),
        )
        .distinct()
    )


def co_order_part_adj(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric distinct adjacency ``(node, nbr)`` of the co-order part
    graph (parts are adjacent when some order contains both). Built
    once per session+corpus from :func:`co_order_part_adj_plan`, then
    lineage-truncated via operators.graph.materialize (which honors the
    reliable-checkpoint opt-in — the cluster posture for state that
    outlives one stage)."""
    return _memo_edges(
        spark, sf_dir, "co_order_part",
        lambda: co_order_part_adj_plan(spark, sf_dir),
    )


def order_part_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct ``(l_orderkey, l_partkey)`` basket-membership edges —
    the per-order item sets behind market-basket analysis
    (ml_assoc_rules). Unlike :func:`co_order_part_adj` this KEEPS the
    order key (pair support needs per-order counting, the adjacency's
    global distinct loses it). Same memo/materialize contract."""
    return _memo_edges(
        spark, sf_dir, "order_part",
        lambda: t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct(),
    )


def supplier_part_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct ``(l_suppkey, l_partkey)`` bipartite edges of the supply
    graph — graph_jaccard's posting lists. Same memo/materialize
    contract as :func:`co_order_part_adj`."""
    return _memo_edges(
        spark, sf_dir, "supplier_part",
        lambda: t(spark, sf_dir, "lineitem")
        .select("l_suppkey", "l_partkey")
        .distinct(),
    )
