r"""Degenerate-distribution drift sweeps — the round-9 siblings of
tests/test_null_drift.py, one axis per fixture:

* **constant measures** — every measure column pinned to one value, so
  every variance, spread, and rate denominator a formula key divides
  by goes degenerate AT ONCE, on the Spark side as well as the oracle
  side (the hypothesis property suites only exercise the DuckDB oracle
  — these sweeps are what run the ENGINE through the degenerate
  regime). Spark 4 runs ANSI mode by default, so an unguarded ``x / 0``
  doesn't go NULL like DuckDB — it THROWS, and a fixture regeneration
  that lands a constant group would take the key down entirely.
* **constant timestamps** — the whole corpus in one instant: single-day
  spines, zero time spans, empty "first half" in every midpoint-split
  panel estimator.
* **collapsed categoricals** — one user, one event type, one lang/
  source/flag everywhere: single-group relations, empty complement
  groups, all-rows-match predicates.

Round-9 findings these sweeps caught on first run (all fixed):

* ``agg_corr``, ``ts_autocorr``, ``agg_skew_kurt`` raised ANSI
  DIVIDE_BY_ZERO on zero-variance groups — now guarded to NULL with
  the identical predicate tree on both engines;
* ``ml_wilson_ci`` split the 1e-6 floor at the p̂ = 0 boundary
  (mathematically-zero half-width lands ±1 ulp around 0.0, so one
  engine floored to −0.000001) — the p̂ ∈ {0, 1} bounds are now pinned
  to exact 0 / 1 and the oracle's z² is CAST to DOUBLE so both engines
  fold the same IEEE product;
* ``dq_tvd_drift``, ``agg_share_shift`` raised ANSI DIVIDE_BY_ZERO on
  a single-day corpus (the midpoint split leaves one half empty) — now
  NULL via the empty-half guard on both engines;
* ``dq_completeness_trend``'s oracle COALESCEd the Mann-Kendall S to 0
  over an empty pair relation while the engine's SUM yields NULL — the
  fabricated zero is gone (NULL cells, never fabricated zeros);
* ``maintenance_delete_rows`` crashed when the deletion list matched
  EVERY row (single-user corpus, its one user doomed): the read-back
  of the legitimately-emptied table raised — the op now returns the
  empty surviving relation.

A fifth permanent axis — 3% NULL timestamps (events.ts, l_shipdate,
o_orderdate; the null axis in test_null_drift.py deliberately keeps ts
intact for the unit sniffer) — caught 17 keys on first run, all the
TIME-AXIS null class: Spark orders NULLS FIRST where DuckDB orders
NULLS LAST, so every ts-ordered window/lag/session/as-of disagreed on
where timeless rows sit. Convention pinned: **a row with no event time
has no position on the time axis** — time-ordered and time-bucketed
operators exclude it (engine filter + oracle WHERE, both no-ops on
dense data); `dedup_exact` instead pins `NULLS LAST` explicitly on
both engines (dedup must keep the row — it is just never "earliest");
the as-of oracle NULLs the timeless probe's match (DuckDB's ASOF would
hand it the LATEST right row).

Two further axes were probed clean in round 9 and pinned as PERMANENT
sweeps in round 10 (per the round-9 VERDICT directive #2):

* **10× value magnitudes** (``test_mag10_drift_parity``) — every
  measure column multiplied by 10. At round-9 probe time this was
  260/261 with ``agg_skew_kurt``'s then-declared |value| < 3162
  exact-decimal ceiling the one non-pass; round 10 widened that
  domain to |value| < 10⁵ (x² lifted DECIMAL(15,8) → (18,8)) and put
  a NAMED ``raise_error`` guard at the boundary, so the key now
  passes this axis outright and fails loud-with-contract beyond it.
* **40% sign-flipped measures** (``test_signflip_drift_parity``) —
  a seeded 40% of every measure column negated: no key may carry a
  nonnegativity assumption the schema doesn't state.

Round 10 probed and pinned two MORE axes (8 and 9), and the probes
caught 3 real divergences on first run (all fixed):

* **pre-epoch timestamps** (``test_epoch1969_drift_parity``) — every
  time column shifted so the whole corpus lands in 1969 (negative unix
  time). First run caught: Spark initializes the event-time watermark
  to 0 ms, so BOTH real watermarked keys (``stream_late_data``,
  ``stream_stream_join``) silently dropped every pre-epoch row while
  the oracle emitted full results — pinned as the EPOCH_FLOOR contract
  (streaming/windows.py): watermarked inputs exclude pre-epoch rows
  explicitly, oracles mirror the WHERE. And ``ml_ltv_cohort``'s oracle
  used DuckDB ``// 7`` (truncates toward zero) against the engine's
  ``floor`` (toward -inf) — divergent exactly on negative epoch days;
  the oracle now floors.
* **all-NULL measures** (``test_allnull_drift_parity``) — every measure
  column 100% NULL (the 3% null axis never exercises the ALL-null
  group regime: COUNT > 0 with SUM/AVG NULL everywhere). Probed clean
  261/261.

A second round-10 probe wave added three more axes (10-12), probed
clean and pinned (the one recurring failure in these probes —
``stream_pydatasource``'s PYTHON_DATA_SOURCE_ERROR — turned out to be
the foreign-cwd by-reference-pickle bug, a REAL portability defect
fixed in sources/pyds.py and pinned in tests/test_engine_api.py, not
an axis finding):

* **single-row corpus** (``test_singlerow_drift_parity``) — every
  table exactly one row: the empty↔constant boundary.
* **duplicated content** (``test_dupcontent_drift_parity``) — every
  events/documents/embeddings row duplicated under a fresh pk:
  repeated values, 2×-dup clusters, tie-dense windows.
* **far-future timestamps** (``test_farfuture_drift_parity``) — whole
  corpus in the year 2200: the 1969 axis's symmetric partner.

A third round-10 wave (axes 13-14) caught 8 keys in FIVE real
sign-of-modulo bug classes on first run (all fixed):

* **negative ids** (``test_negids_drift_parity``) — every id column
  shifted all-negative. Caught: rollup_upsert's ``% 2 == 1`` half
  matching NO negative odd id (Spark % keeps the dividend's sign —
  silent data loss; now pmod); stream_stateful's oracle ``% 2``
  diverging from the engine's numpy FLOOR-mod batch split; the mm_*
  payload header encoding a negative width (now pmod, mirrored);
  scan_binaryfile's ``doc_(\d+)`` regex extracting '' from
  ``doc_-12.bin`` (now ``-?\d+``); and the sim-search probe hardcoded
  as literal vec_id 0 (now the id-space-invariant MINIMUM vec_id).
* **giant + empty documents** (``test_bigdoc_drift_parity``) — a
  200 KB doc and a 0-char doc appended: per-doc caps hold, clean.

Round 11 probed and pinned a FIFTEENTH axis, which caught the largest
single haul of any axis — 77 keys in SIX real divergence classes (all
fixed; the VERDICT r10 directive #3 probe):

* **float specials** (``test_floatspec_drift_parity``) — a seeded 3%
  of every FLOAT measure column replaced with NaN (2%) / +Inf (0.5%) /
  -Inf (0.5%). The pinned contract (documented in queries/_util.py):
  **non-finite measures have no exact value — the decimal discipline
  and quantization map them to NULL on both engines, and rank/bucket/
  band operators exclude them from the relation** ("no value on the
  measure axis", the NULL-timestamp convention's measure twin). The
  six classes, by mechanism: (1) DuckDB's double→DECIMAL cast THROWS
  on non-finite where Spark's ANSI cast silently yields NULL — ~60
  oracles gained ``CASE WHEN isfinite(x) THEN x END`` (sql_fin;
  sql_dsum/sql_davg/SQL_REVENUE_DEC centrally); (2) Spark's ANSI
  ``floor()`` returns LONG and silently FABRICATES 0 from NaN and ±2⁶³
  from ±Inf (the worst class: wrong number, no error) where DuckDB's
  double floor propagates — fquant() now guards non-finite to NULL,
  and every floor-bucket key (histogram, KS, the ml_* label family,
  join_range's band bucket) excludes non-finite rows with mirrored
  isfinite WHEREs; (3) NULL-rank drift: dec() turning NaN into NULL
  put NULLs into rank windows where Spark orders NULLS FIRST and
  DuckDB NULLS LAST (median_ci / weighted_median / iqr_outliers) —
  excluded, same mirror; (4) pandas-UDF int casts: numpy's NaN→int64
  cast is platform garbage and Inf overflows (udaf_grouped,
  udf_cogrouped, stream_stateful's cent accounting) — np.isfinite
  masks, oracle CASEs; (5) Derby's JDBC layer REJECTS non-finite
  DOUBLEs (ERROR 22003) — scan_jdbc's export normalizes them to NULL,
  the standard warehouse-sync posture; (6) dual-dialect SQL strings
  (spark.sql + DuckDB oracle share the text) can't use ``isfinite`` —
  they carry the portable ``x - x = 0`` finite test instead (false for
  NaN and ±Inf in both engines). agg_skew_kurt's domain guard now
  fires only on FINITE out-of-range values (non-finite is "no value",
  not a domain violation).

A SIXTEENTH axis extends the specials to VECTORS — the scalar axis
never touches `embeddings.embedding` (`array<float>`), where one NaN
component poisons every dot product (cosine → NaN → engine-specific
top-k placement) and one Inf overflows scaled-integer centroid sums:

* **poisoned embedding vectors** (``test_vecspec_drift_parity``) — a
  seeded 2% of vectors get one NaN component, 0.5% one +Inf, 0.5% one
  -Inf. First probe caught 11 embedding-family keys (sim-search brute/
  IVF, knn-join, hard-negatives, embedding dedup, quantize, kmeans,
  label centroids, random projection, higher-order fns, the embedding
  audit). Pinned contract (_util.vec_finite / sql_vec_finite): **a
  vector containing any non-finite component is not a valid embedding
  — excluded from similarity/quantize/centroid relations** (NULL
  vectors keep their existing per-key handling); the one exception is
  ``dq_embedding_audit``, whose JOB is to report poisoned vectors — it
  keeps the rows, counts them in `n_nonfinite`, and computes norms
  over the finite components only (COALESCE(…, 0) mirrors Spark's
  0-seeded fold for the all-poisoned vector).

A SEVENTEENTH axis probes the semi-structured column the measure axes
never touch — malformed JSON in ``events.props``:

* **malformed JSON props** (``test_jsonspec_drift_parity``) — a seeded
  3% of props replaced with 20 malformation variants (empty/whitespace,
  truncated objects, arrays, bare ``null``, duplicate keys, >int64 and
  1e309 numbers, '3.5', unicode-escaped keys, deep nesting). First
  probe caught 2 keys: ``fn_json``'s oracle hard-CAST a 19-digit
  integral in a WHERE conjunct DuckDB may evaluate before the guarding
  regexp (no conjunct ordering — now TRY_CAST, identical to CAST on
  every regexp-passing string), and ``dq_json_schema`` hit three
  divergences at once: DuckDB ``json_keys`` errors on invalid JSON
  where Spark ``from_json`` nulls (→ json_valid guard, n_json_rows
  still counts unparseable non-null rows on both engines), DUPLICATE
  keys are last-wins in Spark's map but first-wins in DuckDB's extract
  (→ presence counts dedup'd keys, values of duplicate-key objects are
  excluded from type stats on both engines), and DuckDB ``TRY_CAST``
  ROUNDS '3.5' to 4 where Spark's ``try_cast`` nulls it (→ both sides
  gate the integer parse on an integral regex).
"""

from __future__ import annotations

import datetime
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from serverless_etl_aws_spark.compare import compare
from serverless_etl_aws_spark.queries import build_registry

REGISTRY = build_registry()

SRC = "/root/testdata/sf0.001"

#: Every double/int measure column pinned to one value — zero variance
#: everywhere while keys, timestamps, and categoricals keep their real
#: distributions (those feed spines, joins, and group structure).
CONST: dict[str, dict[str, float | int]] = {
    "events": {"value": 2.5},
    "customer": {"c_acctbal": 100.0},
    "lineitem": {
        "l_quantity": 4.0,
        "l_extendedprice": 1000.0,
        "l_discount": 0.05,
        "l_tax": 0.02,
    },
    "orders": {"o_totalprice": 5000.0},
    "part": {"p_retailprice": 50.0, "p_size": 10},
    "supplier": {"s_acctbal": 200.0},
}
@pytest.fixture(scope="session")
def const_sf_dir(tmp_path_factory) -> str:
    return _build_const_fixture(
        str(tmp_path_factory.mktemp("constfix")), CONST
    )


@pytest.mark.parametrize("key", sorted(REGISTRY))
def test_const_drift_parity(spark, const_sf_dir, key):
    q = REGISTRY[key]
    result = compare(key, q.fn(spark, const_sf_dir), q.sql, const_sf_dir, strict=True)
    assert result.ok, (
        f"{key}: {result.detail} "
        f"(spark={result.rows_spark}, oracle={result.rows_oracle})"
    )


#: The whole corpus in ONE instant. ts feeds the unit sniffer, so the
#: replacement keeps the original timestamp[us] physical type.
TS_CONST = {
    "events": {"ts": datetime.datetime(2024, 3, 5, 12, 0, 0)},
    "lineitem": {"l_shipdate": datetime.datetime(2024, 3, 5, 0, 0, 0)},
    "orders": {"o_orderdate": datetime.datetime(2024, 3, 5, 0, 0, 0)},
}

#: One user, one event type, one lang/source/flag everywhere.
CAT_CONST = {
    "events": {"event_type": "view", "user_id": 0},
    "documents": {"lang": "en", "source": "web"},
    "lineitem": {"l_returnflag": "N", "l_linestatus": "O"},
    "orders": {"o_orderstatus": "O", "o_orderpriority": "3-MEDIUM"},
    "customer": {"c_mktsegment": "BUILDING"},
}


def _build_const_fixture(dst: str, consts: dict[str, dict]) -> str:
    for f in os.listdir(SRC):
        if not f.endswith(".parquet"):
            continue
        name = f[:-8]
        src_path = os.path.join(SRC, f)
        if name not in consts:
            shutil.copy(src_path, os.path.join(dst, f))
            continue
        tbl = pq.read_table(src_path)
        for col, val in consts[name].items():
            idx = tbl.schema.get_field_index(col)
            field = tbl.schema.field(col)
            tbl = tbl.set_column(
                idx, field, pa.array([val] * len(tbl), type=field.type)
            )
        pq.write_table(tbl, os.path.join(dst, f))
    return dst


@pytest.fixture(scope="session")
def ts_const_sf_dir(tmp_path_factory) -> str:
    return _build_const_fixture(
        str(tmp_path_factory.mktemp("tsfix")), TS_CONST
    )


@pytest.fixture(scope="session")
def cat_const_sf_dir(tmp_path_factory) -> str:
    return _build_const_fixture(
        str(tmp_path_factory.mktemp("catfix")), CAT_CONST
    )


@pytest.mark.parametrize("key", sorted(REGISTRY))
def test_ts_const_drift_parity(spark, ts_const_sf_dir, key):
    q = REGISTRY[key]
    result = compare(
        key, q.fn(spark, ts_const_sf_dir), q.sql, ts_const_sf_dir, strict=True
    )
    assert result.ok, (
        f"{key}: {result.detail} "
        f"(spark={result.rows_spark}, oracle={result.rows_oracle})"
    )


@pytest.mark.parametrize("key", sorted(REGISTRY))
def test_cat_const_drift_parity(spark, cat_const_sf_dir, key):
    q = REGISTRY[key]
    result = compare(
        key, q.fn(spark, cat_const_sf_dir), q.sql, cat_const_sf_dir,
        strict=True,
    )
    assert result.ok, (
        f"{key}: {result.detail} "
        f"(spark={result.rows_spark}, oracle={result.rows_oracle})"
    )


@pytest.fixture(scope="session")
def empty_sf_dir2(tmp_path_factory) -> str:
    """Every table ZERO rows, schema intact — the incremental run that
    saw no data. (Named to avoid colliding with test_null_drift's
    empty-STRING fixture.)"""
    dst = str(tmp_path_factory.mktemp("emptyfix"))
    for f in os.listdir(SRC):
        if f.endswith(".parquet"):
            tbl = pq.read_table(os.path.join(SRC, f))
            pq.write_table(tbl.slice(0, 0), os.path.join(dst, f))
    return dst


#: 3% null timestamps across the three time columns (seeded; PKs and
#: all other columns intact).
NULL_TS = {
    "events": ["ts"],
    "lineitem": ["l_shipdate"],
    "orders": ["o_orderdate"],
}


@pytest.fixture(scope="session")
def null_ts_sf_dir(tmp_path_factory) -> str:
    import numpy as np

    dst = str(tmp_path_factory.mktemp("nultsfix"))
    rng = np.random.default_rng(17)
    for f in os.listdir(SRC):
        if not f.endswith(".parquet"):
            continue
        name = f[:-8]
        src_path = os.path.join(SRC, f)
        if name not in NULL_TS:
            shutil.copy(src_path, os.path.join(dst, f))
            continue
        tbl = pq.read_table(src_path)
        for col in NULL_TS[name]:
            idx = tbl.schema.get_field_index(col)
            field = tbl.schema.field(col)
            arr = tbl[col].to_pylist()
            for j in np.flatnonzero(rng.random(len(arr)) < 0.03):
                arr[j] = None
            tbl = tbl.set_column(
                idx, field, pa.array(arr, type=field.type)
            )
        pq.write_table(tbl, os.path.join(dst, f))
    return dst


@pytest.mark.parametrize("key", sorted(REGISTRY))
def test_null_ts_drift_parity(spark, null_ts_sf_dir, key):
    q = REGISTRY[key]
    result = compare(
        key, q.fn(spark, null_ts_sf_dir), q.sql, null_ts_sf_dir, strict=True
    )
    assert result.ok, (
        f"{key}: {result.detail} "
        f"(spark={result.rows_spark}, oracle={result.rows_oracle})"
    )


#: Measure columns for the magnitude / sign-flip axes — the same set
#: the constant-measure axis pins (keys, timestamps, and categoricals
#: keep their real distributions).
MEASURES: dict[str, list[str]] = {
    "events": ["value"],
    "customer": ["c_acctbal"],
    "lineitem": ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    "orders": ["o_totalprice"],
    "part": ["p_retailprice", "p_size"],
    "supplier": ["s_acctbal"],
}


def _build_measure_fixture(dst: str, transform) -> str:
    """Copy SRC with ``transform(values, col_seed)`` applied to every
    MEASURES column; physical types preserved."""
    for f in os.listdir(SRC):
        if not f.endswith(".parquet"):
            continue
        name = f[:-8]
        src_path = os.path.join(SRC, f)
        if name not in MEASURES:
            shutil.copy(src_path, os.path.join(dst, f))
            continue
        tbl = pq.read_table(src_path)
        for seed_off, col in enumerate(MEASURES[name]):
            idx = tbl.schema.get_field_index(col)
            field = tbl.schema.field(col)
            # sum-of-bytes, not hash(): str hash is per-process salted
            vals = transform(
                tbl[col].to_pylist(), sum(name.encode()) % 1000 + seed_off
            )
            tbl = tbl.set_column(
                idx, field, pa.array(vals, type=field.type)
            )
        pq.write_table(tbl, os.path.join(dst, f))
    return dst


@pytest.fixture(scope="session")
def mag10_sf_dir(tmp_path_factory) -> str:
    """Every measure value ×10 — exercises every decimal-precision
    assumption and quantization ceiling at one order of magnitude
    above the fixture's natural range."""
    def times10(vals, _seed):
        return [None if v is None else v * 10 for v in vals]

    return _build_measure_fixture(
        str(tmp_path_factory.mktemp("mag10fix")), times10
    )


@pytest.fixture(scope="session")
def signflip_sf_dir(tmp_path_factory) -> str:
    """A seeded 40% of every measure value negated — flushes out
    nonnegativity assumptions (sqrt/log domains, abs-free spreads,
    "revenue can't be negative" shortcuts) the schema never states."""
    import numpy as np

    def flip40(vals, seed):
        rng = np.random.default_rng(1009 + seed)
        mask = rng.random(len(vals)) < 0.40
        return [
            None if v is None else (-v if m else v)
            for v, m in zip(vals, mask)
        ]

    return _build_measure_fixture(
        str(tmp_path_factory.mktemp("sgnflipfix")), flip40
    )


@pytest.mark.parametrize("key", sorted(REGISTRY))
def test_mag10_drift_parity(spark, mag10_sf_dir, key):
    q = REGISTRY[key]
    result = compare(
        key, q.fn(spark, mag10_sf_dir), q.sql, mag10_sf_dir, strict=True
    )
    assert result.ok, (
        f"{key}: {result.detail} "
        f"(spark={result.rows_spark}, oracle={result.rows_oracle})"
    )


@pytest.mark.parametrize("key", sorted(REGISTRY))
def test_signflip_drift_parity(spark, signflip_sf_dir, key):
    q = REGISTRY[key]
    result = compare(
        key, q.fn(spark, signflip_sf_dir), q.sql, signflip_sf_dir,
        strict=True,
    )
    assert result.ok, (
        f"{key}: {result.detail} "
        f"(spark={result.rows_spark}, oracle={result.rows_oracle})"
    )


@pytest.mark.parametrize("key", sorted(REGISTRY))
def test_empty_corpus_parity(spark, empty_sf_dir2, key):
    """The fourth axis: a fully EMPTY corpus. This is the
    production-critical one — an incremental pipeline whose trigger
    fires with zero new rows must produce empty results, not crash.
    Round-9 first run caught 18 keys: grouping-set grand-total
    semantics (Spark emits zero rows on empty input, DuckDB the SQL-
    standard total row — oracles now carry a mirroring
    HAVING COUNT(*) > 0), schema-inference failures on read-back of
    empty sinks (now schema-pinned), atomic-table reads of
    legitimately-empty state (now empty_schema), and driver-side
    crashes on empty bounds/probes/sources (pagerank 1/0, zorder
    None-None, BFS int(None), sim-search probe lookup, stream_cdc
    empty batch)."""
    q = REGISTRY[key]
    result = compare(
        key, q.fn(spark, empty_sf_dir2), q.sql, empty_sf_dir2, strict=True
    )
    assert result.ok, (
        f"{key}: {result.detail} "
        f"(spark={result.rows_spark}, oracle={result.rows_oracle})"
    )


@pytest.fixture(scope="session")
def allnull_sf_dir(tmp_path_factory) -> str:
    """Every measure column 100% NULL — the all-null-group regime
    (COUNT > 0, every SUM/AVG/VAR NULL), which the 3% axis never hits."""
    dst = str(tmp_path_factory.mktemp("allnullfix"))
    for f in os.listdir(SRC):
        if not f.endswith(".parquet"):
            continue
        name = f[:-8]
        src_path = os.path.join(SRC, f)
        if name not in MEASURES:
            shutil.copy(src_path, os.path.join(dst, f))
            continue
        tbl = pq.read_table(src_path)
        for col in MEASURES[name]:
            idx = tbl.schema.get_field_index(col)
            field = tbl.schema.field(col)
            tbl = tbl.set_column(
                idx, field, pa.array([None] * len(tbl), type=field.type)
            )
        pq.write_table(tbl, os.path.join(dst, f))
    return dst


#: Time columns for the pre-epoch axis (same set as TS_CONST/NULL_TS).
PRE_EPOCH_TS = {
    "events": ["ts"],
    "lineitem": ["l_shipdate"],
    "orders": ["o_orderdate"],
}


@pytest.fixture(scope="session")
def epoch1969_sf_dir(tmp_path_factory) -> str:
    """Whole corpus shifted to 1969: negative unix time everywhere.
    Catches sign assumptions in epoch arithmetic (floor-vs-truncate
    week division) and Spark's zero-initialized streaming watermark
    (the EPOCH_FLOOR contract, streaming/windows.py)."""
    dst = str(tmp_path_factory.mktemp("epoch69fix"))
    for f in os.listdir(SRC):
        if not f.endswith(".parquet"):
            continue
        name = f[:-8]
        src_path = os.path.join(SRC, f)
        if name not in PRE_EPOCH_TS:
            shutil.copy(src_path, os.path.join(dst, f))
            continue
        tbl = pq.read_table(src_path)
        for col in PRE_EPOCH_TS[name]:
            idx = tbl.schema.get_field_index(col)
            field = tbl.schema.field(col)
            vals = tbl[col].to_pylist()
            mx = max(v for v in vals if v is not None)
            delta = mx - datetime.datetime(1969, 12, 15)
            shifted = [None if v is None else v - delta for v in vals]
            tbl = tbl.set_column(
                idx, field, pa.array(shifted, type=field.type)
            )
        pq.write_table(tbl, os.path.join(dst, f))
    return dst


@pytest.mark.parametrize("key", sorted(REGISTRY))
def test_allnull_drift_parity(spark, allnull_sf_dir, key):
    q = REGISTRY[key]
    result = compare(
        key, q.fn(spark, allnull_sf_dir), q.sql, allnull_sf_dir,
        strict=True,
    )
    assert result.ok, (
        f"{key}: {result.detail} "
        f"(spark={result.rows_spark}, oracle={result.rows_oracle})"
    )


@pytest.mark.parametrize("key", sorted(REGISTRY))
def test_epoch1969_drift_parity(spark, epoch1969_sf_dir, key):
    q = REGISTRY[key]
    result = compare(
        key, q.fn(spark, epoch1969_sf_dir), q.sql, epoch1969_sf_dir,
        strict=True,
    )
    assert result.ok, (
        f"{key}: {result.detail} "
        f"(spark={result.rows_spark}, oracle={result.rows_oracle})"
    )


@pytest.fixture(scope="session")
def singlerow_sf_dir(tmp_path_factory) -> str:
    """Every table exactly ONE row — the boundary between the empty
    corpus and the constant axes: single-element windows (every lag
    NULL, every rank 1), one-group relations, joins that mostly miss."""
    dst = str(tmp_path_factory.mktemp("singlerowfix"))
    for f in os.listdir(SRC):
        if f.endswith(".parquet"):
            tbl = pq.read_table(os.path.join(SRC, f))
            pq.write_table(tbl.slice(0, 1), os.path.join(dst, f))
    return dst


#: Tables whose every row is duplicated with a fresh pk (content
#: identical): repeated values stress tie-handling and 2×-dup clusters.
DUP_PKS = {
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


@pytest.fixture(scope="session")
def dupcontent_sf_dir(tmp_path_factory) -> str:
    import pyarrow.compute as pc

    dst = str(tmp_path_factory.mktemp("dupfix"))
    for f in os.listdir(SRC):
        if not f.endswith(".parquet"):
            continue
        name = f[:-8]
        src_path = os.path.join(SRC, f)
        if name not in DUP_PKS:
            shutil.copy(src_path, os.path.join(dst, f))
            continue
        tbl = pq.read_table(src_path)
        pk = DUP_PKS[name]
        idx = tbl.schema.get_field_index(pk)
        mx = int(pc.max(tbl[pk]).as_py()) + 1
        shifted = pc.cast(pc.add(tbl[pk], mx), tbl[pk].type)
        dup = tbl.set_column(idx, tbl.schema.field(pk), shifted)
        pq.write_table(
            pa.concat_tables([tbl, dup]), os.path.join(dst, f)
        )
    return dst


@pytest.fixture(scope="session")
def farfuture_sf_dir(tmp_path_factory) -> str:
    """Whole corpus shifted to the year 2200 — far-future (but still
    µs-representable) time: date formatting widths, year arithmetic,
    and any epoch assumption symmetric to the 1969 axis."""
    dst = str(tmp_path_factory.mktemp("farfix"))
    for f in os.listdir(SRC):
        if not f.endswith(".parquet"):
            continue
        name = f[:-8]
        src_path = os.path.join(SRC, f)
        if name not in PRE_EPOCH_TS:
            shutil.copy(src_path, os.path.join(dst, f))
            continue
        tbl = pq.read_table(src_path)
        for col in PRE_EPOCH_TS[name]:
            idx = tbl.schema.get_field_index(col)
            field = tbl.schema.field(col)
            vals = tbl[col].to_pylist()
            mn = min(v for v in vals if v is not None)
            delta = datetime.datetime(2200, 1, 1) - mn
            shifted = [None if v is None else v + delta for v in vals]
            tbl = tbl.set_column(
                idx, field, pa.array(shifted, type=field.type)
            )
        pq.write_table(tbl, os.path.join(dst, f))
    return dst


@pytest.mark.parametrize("key", sorted(REGISTRY))
def test_singlerow_drift_parity(spark, singlerow_sf_dir, key):
    q = REGISTRY[key]
    result = compare(
        key, q.fn(spark, singlerow_sf_dir), q.sql, singlerow_sf_dir,
        strict=True,
    )
    assert result.ok, (
        f"{key}: {result.detail} "
        f"(spark={result.rows_spark}, oracle={result.rows_oracle})"
    )


@pytest.mark.parametrize("key", sorted(REGISTRY))
def test_dupcontent_drift_parity(spark, dupcontent_sf_dir, key):
    q = REGISTRY[key]
    result = compare(
        key, q.fn(spark, dupcontent_sf_dir), q.sql, dupcontent_sf_dir,
        strict=True,
    )
    assert result.ok, (
        f"{key}: {result.detail} "
        f"(spark={result.rows_spark}, oracle={result.rows_oracle})"
    )


@pytest.mark.parametrize("key", sorted(REGISTRY))
def test_farfuture_drift_parity(spark, farfuture_sf_dir, key):
    q = REGISTRY[key]
    result = compare(
        key, q.fn(spark, farfuture_sf_dir), q.sql, farfuture_sf_dir,
        strict=True,
    )
    assert result.ok, (
        f"{key}: {result.detail} "
        f"(spark={result.rows_spark}, oracle={result.rows_oracle})"
    )


#: Id columns shifted to all-NEGATIVE (consistently per table) — ids
#: are arbitrary integers in production; this is the axis that catches
#: sign-of-dividend modulo assumptions (Spark % and DuckDB % keep the
#: dividend's sign; numpy/python % floor).
NEG_ID_SHIFTS = {
    "events": ["user_id", "event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


@pytest.fixture(scope="session")
def negids_sf_dir(tmp_path_factory) -> str:
    import pyarrow.compute as pc

    dst = str(tmp_path_factory.mktemp("negidsfix"))
    for f in os.listdir(SRC):
        if not f.endswith(".parquet"):
            continue
        name = f[:-8]
        src_path = os.path.join(SRC, f)
        if name not in NEG_ID_SHIFTS:
            shutil.copy(src_path, os.path.join(dst, f))
            continue
        tbl = pq.read_table(src_path)
        for col in NEG_ID_SHIFTS[name]:
            idx = tbl.schema.get_field_index(col)
            mx = int(pc.max(tbl[col]).as_py())
            shifted = pc.cast(
                pc.subtract(tbl[col], mx + 1), tbl[col].type
            )
            tbl = tbl.set_column(idx, tbl.schema.field(col), shifted)
        pq.write_table(tbl, os.path.join(dst, f))
    return dst


@pytest.fixture(scope="session")
def bigdoc_sf_dir(tmp_path_factory) -> str:
    """One 200 KB document + one empty doc appended: per-doc length
    caps (editdist prefix, shingle fan-out) under a pathological-size
    outlier."""
    import pyarrow.compute as pc

    dst = str(tmp_path_factory.mktemp("bigdocfix"))
    for f in os.listdir(SRC):
        if not f.endswith(".parquet"):
            continue
        name = f[:-8]
        src_path = os.path.join(SRC, f)
        if name != "documents":
            shutil.copy(src_path, os.path.join(dst, f))
            continue
        tbl = pq.read_table(src_path)
        mx = int(pc.max(tbl["doc_id"]).as_py())
        big_text = " ".join(f"tok{i % 97}x{i % 13}" for i in range(25000))
        rows = {
            "doc_id": [mx + 1, mx + 2],
            "text": [big_text, ""],
            "lang": ["en", "en"],
            "source": ["web", "web"],
            "n_chars": [len(big_text), 0],
        }
        extra = pa.table({
            c: pa.array(rows[c], type=tbl.schema.field(c).type)
            for c in tbl.schema.names
        })
        pq.write_table(
            pa.concat_tables([tbl, extra]), os.path.join(dst, f)
        )
    return dst


@pytest.mark.parametrize("key", sorted(REGISTRY))
def test_negids_drift_parity(spark, negids_sf_dir, key):
    q = REGISTRY[key]
    result = compare(
        key, q.fn(spark, negids_sf_dir), q.sql, negids_sf_dir,
        strict=True,
    )
    assert result.ok, (
        f"{key}: {result.detail} "
        f"(spark={result.rows_spark}, oracle={result.rows_oracle})"
    )


@pytest.mark.parametrize("key", sorted(REGISTRY))
def test_bigdoc_drift_parity(spark, bigdoc_sf_dir, key):
    q = REGISTRY[key]
    result = compare(
        key, q.fn(spark, bigdoc_sf_dir), q.sql, bigdoc_sf_dir,
        strict=True,
    )
    assert result.ok, (
        f"{key}: {result.detail} "
        f"(spark={result.rows_spark}, oracle={result.rows_oracle})"
    )


#: Float measure columns for the float-specials axis (p_size is int —
#: NaN/Inf are unrepresentable there; every other MEASURES column is
#: double).
FLOAT_MEASURES = {
    t: [c for c in cols if not (t == "part" and c == "p_size")]
    for t, cols in MEASURES.items()
}


@pytest.fixture(scope="session")
def floatspec_sf_dir(tmp_path_factory) -> str:
    """A seeded 3% of every float measure replaced with specials: 2%
    NaN, 0.5% +Inf, 0.5% -Inf (PKs, timestamps, categoricals intact)."""
    import math

    import numpy as np

    dst = str(tmp_path_factory.mktemp("floatspecfix"))
    for f in os.listdir(SRC):
        if not f.endswith(".parquet"):
            continue
        name = f[:-8]
        src_path = os.path.join(SRC, f)
        if name not in FLOAT_MEASURES:
            shutil.copy(src_path, os.path.join(dst, f))
            continue
        tbl = pq.read_table(src_path)
        for off, col in enumerate(FLOAT_MEASURES[name]):
            rng = np.random.default_rng(4242 + sum(name.encode()) + off)
            idx = tbl.schema.get_field_index(col)
            field = tbl.schema.field(col)
            vals = tbl[col].to_pylist()
            r = rng.random(len(vals))
            out = []
            for v, p in zip(vals, r):
                if v is None:
                    out.append(None)
                elif p < 0.02:
                    out.append(math.nan)
                elif p < 0.025:
                    out.append(math.inf)
                elif p < 0.03:
                    out.append(-math.inf)
                else:
                    out.append(v)
            tbl = tbl.set_column(
                idx, field, pa.array(out, type=field.type)
            )
        pq.write_table(tbl, os.path.join(dst, f))
    return dst


@pytest.mark.parametrize("key", sorted(REGISTRY))
def test_floatspec_drift_parity(spark, floatspec_sf_dir, key):
    q = REGISTRY[key]
    result = compare(
        key, q.fn(spark, floatspec_sf_dir), q.sql, floatspec_sf_dir,
        strict=True,
    )
    assert result.ok, (
        f"{key}: {result.detail} "
        f"(spark={result.rows_spark}, oracle={result.rows_oracle})"
    )


@pytest.fixture(scope="session")
def vecspec_sf_dir(tmp_path_factory) -> str:
    """A seeded 2% of embedding vectors get one NaN component, 0.5% one
    +Inf, 0.5% one -Inf (all other tables untouched)."""
    import math

    import numpy as np

    dst = str(tmp_path_factory.mktemp("vecspecfix"))
    for f in os.listdir(SRC):
        if not f.endswith(".parquet"):
            continue
        if f != "embeddings.parquet":
            shutil.copy(os.path.join(SRC, f), os.path.join(dst, f))
            continue
        tbl = pq.read_table(os.path.join(SRC, f))
        vecs = tbl["embedding"].to_pylist()
        rng = np.random.default_rng(777)
        r = rng.random(len(vecs))
        pos = rng.integers(0, 10**9, len(vecs))
        out = []
        for v, p, k in zip(vecs, r, pos):
            if v is None or not v:
                out.append(v)
                continue
            v = list(v)
            j = int(k) % len(v)
            if p < 0.02:
                v[j] = math.nan
            elif p < 0.025:
                v[j] = math.inf
            elif p < 0.03:
                v[j] = -math.inf
            out.append(v)
        idx = tbl.schema.get_field_index("embedding")
        field = tbl.schema.field("embedding")
        tbl = tbl.set_column(idx, field, pa.array(out, type=field.type))
        pq.write_table(tbl, os.path.join(dst, f))
    return dst


@pytest.mark.parametrize("key", sorted(REGISTRY))
def test_vecspec_drift_parity(spark, vecspec_sf_dir, key):
    q = REGISTRY[key]
    result = compare(
        key, q.fn(spark, vecspec_sf_dir), q.sql, vecspec_sf_dir,
        strict=True,
    )
    assert result.ok, (
        f"{key}: {result.detail} "
        f"(spark={result.rows_spark}, oracle={result.rows_oracle})"
    )


#: 20 malformation variants for the JSON axis — parse failures, type
#: surprises, numeric extremes, duplicate keys, structural oddities.
JSON_BAD = [
    "", "   ", "not json", '{"k": 1', '{"k": }', "[1, 2, 3]",
    '{"k": 1e309}', '{"k": "1"}', '{"K": 5}', '{"k": 1, "k": 2}',
    '{"a": {"b": {"c": {"d": 1}}}}', '{"k": null}', '{"k": true}',
    '{"k": [1,2]}', '{"k": 3.5}', '{"k": -0}',
    '{"k": 9223372036854775808}', '{"\\u006b": 42}', "null", "{}",
]


@pytest.fixture(scope="session")
def jsonspec_sf_dir(tmp_path_factory) -> str:
    """A seeded 3% of events.props replaced with JSON_BAD variants."""
    import numpy as np

    dst = str(tmp_path_factory.mktemp("jsonspecfix"))
    for f in os.listdir(SRC):
        if not f.endswith(".parquet"):
            continue
        if f != "events.parquet":
            shutil.copy(os.path.join(SRC, f), os.path.join(dst, f))
            continue
        tbl = pq.read_table(os.path.join(SRC, f))
        props = tbl["props"].to_pylist()
        rng = np.random.default_rng(1234)
        r = rng.random(len(props))
        pick = rng.integers(0, len(JSON_BAD), len(props))
        out = [
            JSON_BAD[int(k)] if (p is not None and q < 0.03) else p
            for p, q, k in zip(props, r, pick)
        ]
        idx = tbl.schema.get_field_index("props")
        field = tbl.schema.field("props")
        tbl = tbl.set_column(idx, field, pa.array(out, type=field.type))
        pq.write_table(tbl, os.path.join(dst, f))
    return dst


@pytest.mark.parametrize("key", sorted(REGISTRY))
def test_jsonspec_drift_parity(spark, jsonspec_sf_dir, key):
    q = REGISTRY[key]
    result = compare(
        key, q.fn(spark, jsonspec_sf_dir), q.sql, jsonspec_sf_dir,
        strict=True,
    )
    assert result.ok, (
        f"{key}: {result.detail} "
        f"(spark={result.rows_spark}, oracle={result.rows_oracle})"
    )


#: Hostile string variants for the 18th axis.
HOSTILE_STRINGS = [
    "a,b", 'q"uote', "line\nbreak", "tab\there", "semi;colon",
    "back\\slash", "<xml>&amp;", "]]>", "emo\U0001F3F3\uFE0F\u200D\U0001F308ji",
    "zwj\u200dx", "rtl\u05d0\u05d1", "nul\x00byte", "trailing ", " leading",
    "LONG" * 60, "'apos", "null", "NaN", "", "crlf\r\nline",
]

#: Columns perturbed by the axis. Partition-feeding columns exclude
#: the NUL variant (POSIX paths cannot contain \x00) and anything the
#: 'col=' prefix would push past NAME_MAX — those failure modes are
#: loud FS errors by design, pinned separately below.
STR_COLS = {
    "lineitem": [("l_returnflag", "NO_NUL")],
    "orders": [("o_orderpriority", "NO_NUL")],
    "events": [("event_type", "NO_NUL")],
    "customer": [("c_mktsegment", "ALL")],
    "documents": [("source", "ALL")],
}


@pytest.fixture(scope="session")
def strspec_sf_dir(tmp_path_factory) -> str:
    import numpy as np

    # partition pool: no NUL, and the long variant capped so
    # 'o_orderpriority=' + value stays under NAME_MAX (255 bytes)
    no_nul = [
        ("LONG" * 55) if h == "LONG" * 60 else h
        for h in HOSTILE_STRINGS if "\x00" not in h
    ]
    dst = str(tmp_path_factory.mktemp("strspecfix"))
    for f in os.listdir(SRC):
        if not f.endswith(".parquet"):
            continue
        name = f[:-8]
        sp = os.path.join(SRC, f)
        if name not in STR_COLS:
            shutil.copy(sp, os.path.join(dst, f))
            continue
        tbl = pq.read_table(sp)
        for off, (col, mode) in enumerate(STR_COLS[name]):
            pool = no_nul if mode == "NO_NUL" else HOSTILE_STRINGS
            rng = np.random.default_rng(9001 + sum(name.encode()) + off)
            idx = tbl.schema.get_field_index(col)
            field = tbl.schema.field(col)
            vals = tbl[col].to_pylist()
            r = rng.random(len(vals))
            pick = rng.integers(0, len(pool), len(vals))
            out = [
                pool[int(k)] if (v is not None and p < 0.03) else v
                for v, p, k in zip(vals, r, pick)
            ]
            tbl = tbl.set_column(idx, field, pa.array(out, type=field.type))
        pq.write_table(tbl, os.path.join(dst, f))
    return dst


@pytest.mark.parametrize("key", sorted(REGISTRY))
def test_strspec_drift_parity(spark, strspec_sf_dir, key):
    q = REGISTRY[key]
    result = compare(
        key, q.fn(spark, strspec_sf_dir), q.sql, strspec_sf_dir,
        strict=True,
    )
    assert result.ok, (
        f"{key}: {result.detail} "
        f"(spark={result.rows_spark}, oracle={result.rows_oracle})"
    )


def test_partition_value_nul_fails_loudly(spark, tmp_path):
    """The contract the 18th axis's NO_NUL carve-out rests on: a NUL
    byte in a partition-column value CANNOT land on a POSIX filesystem
    — the write must fail with a loud error, never silently corrupt or
    drop the row. (Same class: a value whose 'col=' dir name exceeds
    NAME_MAX.)"""
    df = spark.createDataFrame([(1, "ok"), (2, "nul\x00byte")], "i int, p string")
    with pytest.raises(Exception, match="TASK_WRITE_FAILED|Mkdirs|IOException"):
        df.write.partitionBy("p").mode("overwrite").parquet(
            str(tmp_path / "nul_part")
        )


# --------------------------------------------------------------------------
# Round-12 SHAPE axes (VERDICT r11 directive #2): the 18 prior axes
# perturb VALUES; these three perturb SHAPE — ragged embedding
# dimensions, duplicate primary keys in dimension tables, and payload
# byte-lengths pinned to the multimodal frame/window boundaries.


@pytest.fixture(scope="session")
def dimdrift_sf_dir(tmp_path_factory) -> str:
    """Ragged embedding dims (19th axis): a seeded 1.5% of vectors
    truncated to dim 32, 1% extended to dim 96, 0.5% emptied to [].
    First probe caught 6 keys: zip_with NULL-pads the shorter side of a
    ragged cosine (engine-specific NULL placement vs DuckDB's
    out-of-range list index), a ragged sample crashes np.array in the
    IVF/PQ codebook trainers outright, and ragged vectors poisoned the
    kmeans/centroid folds. Pinned contract (_util.vec_dim_mode /
    vec_dim_ok / sql_vec_dim_ok): a vector whose dimension differs
    from the corpus's MODAL dim is not a valid embedding — excluded
    from similarity/quantize/centroid relations (ties break to the
    smallest dim; NULL vectors keep their per-key handling;
    dq_embedding_audit still reports dim drift rather than hiding it)."""
    import math  # noqa: F401  (parity with sibling fixtures)

    import numpy as np

    dst = str(tmp_path_factory.mktemp("dimdriftfix"))
    for f in os.listdir(SRC):
        if not f.endswith(".parquet"):
            continue
        if f != "embeddings.parquet":
            shutil.copy(os.path.join(SRC, f), os.path.join(dst, f))
            continue
        tbl = pq.read_table(os.path.join(SRC, f))
        vecs = tbl["embedding"].to_pylist()
        rng = np.random.default_rng(424242)
        r = rng.random(len(vecs))
        out = []
        for v, p in zip(vecs, r):
            if v is None or not v:
                out.append(v)
            elif p < 0.015:
                out.append(v[:32])
            elif p < 0.025:
                out.append(v + [float((i * 37) % 19) / 19.0 for i in range(32)])
            elif p < 0.03:
                out.append([])
            else:
                out.append(v)
        idx = tbl.schema.get_field_index("embedding")
        field = tbl.schema.field("embedding")
        tbl = tbl.set_column(idx, field, pa.array(out, type=field.type))
        pq.write_table(tbl, os.path.join(dst, f))
    return dst


@pytest.mark.parametrize("key", sorted(REGISTRY))
def test_dimdrift_drift_parity(spark, dimdrift_sf_dir, key):
    q = REGISTRY[key]
    result = compare(
        key, q.fn(spark, dimdrift_sf_dir), q.sql, dimdrift_sf_dir,
        strict=True,
    )
    assert result.ok, (
        f"{key}: {result.detail} "
        f"(spark={result.rows_spark}, oracle={result.rows_oracle})"
    )


#: Duplicate-PK injection: table -> (perturb col, perturb fn, fraction).
#: The duplicate keeps the SAME pk and perturbs ONE non-key attribute —
#: the dirty dimension feed every warehouse eventually receives (a
#: full-row-identical duplicate would be value-invisible to the hash).
#: NULL guard (ADVICE r12): the sampled duplicate row may carry a NULL
#: in the perturbed attribute on a future NULL-bearing fixture — keep
#: the NULL (a duplicate PK whose attribute is missing is still a
#: duplicate PK) instead of crashing the fixture build with TypeError.
DUPKEY_SPECS = {
    "region": ("r_name", lambda v: None if v is None else v + " DUP", 0.25),
    "nation": ("n_name", lambda v: None if v is None else v + " DUP", 0.08),
    "customer": (
        "c_acctbal", lambda v: None if v is None else v + 1000.0, 0.02,
    ),
    "supplier": (
        "s_acctbal", lambda v: None if v is None else v + 1000.0, 0.15,
    ),
    "part": (
        "p_retailprice", lambda v: None if v is None else v + 1.0, 0.02,
    ),
}


@pytest.fixture(scope="session")
def dupkey_sf_dir(tmp_path_factory) -> str:
    """Duplicate dimension PKs (20th axis): a seeded slice of every
    dimension table re-appended under the SAME primary key with one
    perturbed attribute. Every equi-join against these dims silently
    fans out — identically in both engines, which is exactly what this
    axis verifies (plus: no key may assume pk-uniqueness in an ordering
    tie-break or a first()-style pick)."""
    import numpy as np

    dst = str(tmp_path_factory.mktemp("dupkeyfix"))
    for f in os.listdir(SRC):
        if not f.endswith(".parquet"):
            continue
        name = f[:-8]
        sp = os.path.join(SRC, f)
        if name not in DUPKEY_SPECS:
            shutil.copy(sp, os.path.join(dst, f))
            continue
        col, fn, frac = DUPKEY_SPECS[name]
        tbl = pq.read_table(sp)
        n = tbl.num_rows
        rng = np.random.default_rng(31337 + n)
        take = sorted(rng.choice(n, max(1, int(n * frac)), replace=False))
        dup = tbl.take(pa.array(take))
        vals = [fn(v) for v in dup[col].to_pylist()]
        idx = dup.schema.get_field_index(col)
        field = dup.schema.field(col)
        dup = dup.set_column(idx, field, pa.array(vals, type=field.type))
        pq.write_table(pa.concat_tables([tbl, dup]), os.path.join(dst, f))
    return dst


@pytest.mark.parametrize("key", sorted(REGISTRY))
def test_dupkey_drift_parity(spark, dupkey_sf_dir, key):
    q = REGISTRY[key]
    result = compare(
        key, q.fn(spark, dupkey_sf_dir), q.sql, dupkey_sf_dir,
        strict=True,
    )
    assert result.ok, (
        f"{key}: {result.detail} "
        f"(spark={result.rows_spark}, oracle={result.rows_oracle})"
    )


#: Byte-edge text variants: utf-8 lengths pinned on/around the mm
#: frame (64) and audio window (256) boundaries, including multi-byte
#: characters straddling a frame edge.
BYTEDGE = [
    "",                              # empty body: header-only payload
    "x",                             # single byte
    "a" * 63, "a" * 64, "a" * 65,    # frame boundary +-1 (frame_size 64)
    "b" * 255, "b" * 256, "b" * 257,  # audio window boundary (256)
    "a" * 63 + "é",             # 2-byte char straddles byte 64
    "a" * 62 + "€",             # 3-byte char ends exactly at 64(+1)
    "a" * 60 + "\U0001F600" * 2,     # 4-byte emoji pair across boundary
    "c" * 64 * 4,                    # exactly the frame-sample stride
]


@pytest.fixture(scope="session")
def bytedge_sf_dir(tmp_path_factory) -> str:
    """Payload byte-edges (21st axis): 3% of documents.text replaced
    with BYTEDGE variants — the byte twin of the giant+empty documents
    axis, aimed at the multimodal frame/window geometry (ceil-div,
    trailing partial frames, multi-byte chars split across a frame
    boundary) and at every text key's tokenizer/shingler under
    boundary-length input. n_chars is kept consistent with the
    replaced text (fixture invariant)."""
    import numpy as np

    dst = str(tmp_path_factory.mktemp("bytedgefix"))
    for f in os.listdir(SRC):
        if not f.endswith(".parquet"):
            continue
        if f != "documents.parquet":
            shutil.copy(os.path.join(SRC, f), os.path.join(dst, f))
            continue
        tbl = pq.read_table(os.path.join(SRC, f))
        texts = tbl["text"].to_pylist()
        rng = np.random.default_rng(6464)
        r = rng.random(len(texts))
        pick = rng.integers(0, len(BYTEDGE), len(texts))
        out = [
            BYTEDGE[int(k)] if (t is not None and p < 0.03) else t
            for t, p, k in zip(texts, r, pick)
        ]
        idx = tbl.schema.get_field_index("text")
        field = tbl.schema.field("text")
        tbl = tbl.set_column(idx, field, pa.array(out, type=field.type))
        nidx = tbl.schema.get_field_index("n_chars")
        nfield = tbl.schema.field("n_chars")
        nvals = [len(t) if t is not None else None for t in out]
        tbl = tbl.set_column(nidx, nfield, pa.array(nvals, type=nfield.type))
        pq.write_table(tbl, os.path.join(dst, f))
    return dst


@pytest.mark.parametrize("key", sorted(REGISTRY))
def test_bytedge_drift_parity(spark, bytedge_sf_dir, key):
    q = REGISTRY[key]
    result = compare(
        key, q.fn(spark, bytedge_sf_dir), q.sql, bytedge_sf_dir,
        strict=True,
    )
    assert result.ok, (
        f"{key}: {result.detail} "
        f"(spark={result.rows_spark}, oracle={result.rows_oracle})"
    )


# ---------------------------------------------------------------------------
# 22nd axis (VERDICT r12 directive #3): TIME SEMANTICS — non-UTC session
# timezone + DST-edge timestamps. Every prior axis ran with the session
# pinned UTC by the test harness itself. The engine's declared contract is
# "the session timezone is UTC" (session.py docstring), enforced by
# tune_for_session on EVERY entry through __spark_entry__.queries() — so
# what needs proving is that the pin HOLDS when the driver's session
# arrives dirty (a DST-observing zone), over a fixture whose timestamps
# straddle both 2024 America/New_York transitions:
#   spring-forward gap: 2024-03-10 07:00Z (02:00 EST -> 03:00 EDT — the
#     local hour 02:xx does not exist);
#   fall-back repeat:   2024-11-03 06:00Z (02:00 EDT -> 01:00 EST — the
#     local hour 01:xx happens twice).
# If the pin ever failed, daily-bucket/date_trunc/weekday keys would
# diverge: the shifted corpus has plenty of instants whose UTC day and
# New-York day differ (any UTC time before 05:00), and
# test_dirty_timezone_would_change_results below proves that divergence
# is REAL (not a vacuous axis) by running one such expression unpinned.

DST_TS_COLS = {
    "events": ["ts"],
    "lineitem": ["l_shipdate"],
    "orders": ["o_orderdate"],
}

# Exact-edge instants injected verbatim (UTC naive, as stored):
DST_EDGE_INSTANTS = [
    datetime.datetime(2024, 3, 10, 6, 59, 59, 999999),   # last pre-gap us
    datetime.datetime(2024, 3, 10, 7, 0, 0),             # gap opens
    datetime.datetime(2024, 3, 10, 7, 30, 0),            # inside local gap
    datetime.datetime(2024, 11, 3, 5, 30, 0),            # 01:30 EDT (1st)
    datetime.datetime(2024, 11, 3, 5, 59, 59, 999999),   # last EDT us
    datetime.datetime(2024, 11, 3, 6, 0, 0),             # repeat opens
    datetime.datetime(2024, 11, 3, 6, 30, 0),            # 01:30 EST (2nd)
]


@pytest.fixture(scope="session")
def dst_sf_dir(tmp_path_factory) -> str:
    """DST-edge fixture: every ts column shifted (epoch1969-style delta,
    order/gap structure preserved) so the distribution's max sits 90
    minutes AFTER the spring-forward instant — the corpus straddles the
    gap — then a seeded ~10% slice of events.ts rewritten to within
    ±2 h of the fall-back instant, the first rows pinned to the exact
    edge microseconds above."""
    import numpy as np

    dst = str(tmp_path_factory.mktemp("dstfix"))
    spring_target = datetime.datetime(2024, 3, 10, 8, 30, 0)
    fallback = datetime.datetime(2024, 11, 3, 6, 0, 0)
    for f in os.listdir(SRC):
        if not f.endswith(".parquet"):
            continue
        name = f[:-8]
        src_path = os.path.join(SRC, f)
        if name not in DST_TS_COLS:
            shutil.copy(src_path, os.path.join(dst, f))
            continue
        tbl = pq.read_table(src_path)
        for col in DST_TS_COLS[name]:
            idx = tbl.schema.get_field_index(col)
            field = tbl.schema.field(col)
            vals = tbl[col].to_pylist()
            mx = max(v for v in vals if v is not None)
            delta = mx - spring_target
            shifted = [None if v is None else v - delta for v in vals]
            if name == "events":
                rng = np.random.default_rng(20240310)
                r = rng.random(len(shifted))
                offs = rng.integers(-7200, 7201, len(shifted))
                n_edge = 0
                for i in range(len(shifted)):
                    if shifted[i] is None or r[i] >= 0.10:
                        continue
                    if n_edge < len(DST_EDGE_INSTANTS):
                        shifted[i] = DST_EDGE_INSTANTS[n_edge]
                        n_edge += 1
                    else:
                        shifted[i] = fallback + datetime.timedelta(
                            seconds=int(offs[i])
                        )
            tbl = tbl.set_column(
                idx, field, pa.array(shifted, type=field.type)
            )
        pq.write_table(tbl, os.path.join(dst, f))
    return dst


@pytest.fixture()
def dirty_session_tz(spark):
    """Simulate the driver handing the engine a session configured for a
    DST-observing zone; restore the harness confs afterwards so later
    axes keep their tuning."""
    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.session.timeZone",
            "spark.sql.shuffle.partitions",
        )
    }
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    yield
    for k, v in saved.items():
        spark.conf.set(k, v)


def _entry_queries():
    import __spark_entry__

    return __spark_entry__.queries()


ENTRY_QUERIES = _entry_queries()


@pytest.mark.parametrize("key", sorted(REGISTRY))
def test_dst_dirty_tz_drift_parity(spark, dst_sf_dir, dirty_session_tz, key):
    """Full-registry strict parity with the session timezone DIRTY at
    entry: the call goes through __spark_entry__'s wrap (exactly the
    driver's path), whose tune_for_session must repin UTC before the
    plan is built — and the repin must be OBSERVED, not assumed."""
    q = REGISTRY[key]
    df = ENTRY_QUERIES[key](spark, dst_sf_dir)
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC", (
        "tune_for_session did not repin the session timezone"
    )
    result = compare(key, df, q.sql, dst_sf_dir, strict=True)
    assert result.ok, (
        f"{key}: {result.detail} "
        f"(spark={result.rows_spark}, oracle={result.rows_oracle})"
    )


def test_dirty_timezone_would_change_results(spark, dst_sf_dir):
    """The axis has teeth: WITHOUT the repin, a New-York session tz
    moves date_trunc day buckets (UTC instants before 05:00 fall on the
    previous local day) — so the parity above is evidence the pin held,
    not evidence timezones don't matter."""
    saved = spark.conf.get("spark.sql.session.timeZone")
    df = spark.read.parquet(os.path.join(dst_sf_dir, "events.parquet"))
    df.createOrReplaceTempView("dst_events_tz_probe")
    q = (
        "SELECT COUNT(DISTINCT date_trunc('DAY', ts)) AS n "
        "FROM dst_events_tz_probe WHERE ts IS NOT NULL"
    )
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        utc_days = spark.sql(q).collect()[0]["n"]
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        ny_buckets = spark.sql(q).collect()[0]["n"]
    finally:
        spark.conf.set("spark.sql.session.timeZone", saved)
        spark.catalog.dropTempView("dst_events_tz_probe")
    # The bucket COUNT need not differ, but the bucket INSTANT must.
    # NOTE a TIMESTAMP LITERAL can't show it: the literal parses in the
    # session tz and renders in the same session tz — wall-clock in,
    # wall-clock out. Parquet data is stored as INSTANTS, so probe a
    # fixed instant (timestamp_micros): 1730601000000000 is
    # 2024-11-03 02:30:00 UTC = 2024-11-02 22:30:00 EDT — a New-York
    # session truncates it to local midnight Nov 2 (instant
    # 2024-11-02 04:00:00Z), a UTC session to UTC midnight Nov 3.
    probe = (
        "SELECT unix_micros(date_trunc('DAY',"
        " timestamp_micros(1730601000000000))) AS m"
    )
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        utc_bucket = spark.sql(probe).collect()[0]["m"]
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        ny_bucket = spark.sql(probe).collect()[0]["m"]
    finally:
        spark.conf.set("spark.sql.session.timeZone", saved)
    assert utc_bucket != ny_bucket, (
        f"expected tz-sensitive truncation, got {utc_bucket} == "
        f"{ny_bucket} (utc_days={utc_days}, ny_buckets={ny_buckets})"
    )


# ---------------------------------------------------------------------------
# 23rd axis (VERDICT r12 directive #4): ADVERSARIAL FILE LAYOUT. Every
# fixture so far is one tidy parquet FILE per table; real lake tables are
# directories of part files written by different jobs over time — column
# orders drift, writers disagree about dictionary encoding, row groups
# come tiny, and some part file has a column that is entirely NULL (so
# its dictionary/statistics pages are degenerate). The VALUES are the
# base corpus (only the designated null-column chunk differs), so this
# axis perturbs STRUCTURE a scan must absorb: catalog.load_table's
# footer sniffing (first-member walk on a directory), declared-schema
# column-order pinning, DuckDB's by-name multi-file bind, pyarrow
# dataset reads in the staging helpers (stage_events_dir,
# split_parquet_by_mod, scan_merge_schema's orders staging, the
# corpus_cache_key walk), and row-group-granular operators
# (maintenance_zorder) over 100-row groups.

#: Per-table column whose THIRD chunk is written entirely NULL (one
#: all-NULL-column part file per table). Dimension minis (region,
#: nation) get the layout treatment without the null chunk.
LAYOUT_NULL_COL = {
    "events": "value",
    "lineitem": "l_discount",
    "orders": "o_totalprice",
    "customer": "c_acctbal",
    "supplier": "s_acctbal",
    "part": "p_retailprice",
    "documents": "text",
    "embeddings": "embedding",
}


@pytest.fixture(scope="session")
def layout_sf_dir(tmp_path_factory) -> str:
    """Rewrite every table as a DIRECTORY of 3 part files: part-000 in
    the original column order (dictionary encoding, 100-row groups),
    part-001 with the column order REVERSED and dictionary encoding OFF,
    part-002 with the column order ROTATED and the designated column
    all-NULL. Values otherwise identical to the base corpus."""
    dst = str(tmp_path_factory.mktemp("layoutfix"))
    for f in sorted(os.listdir(SRC)):
        if not f.endswith(".parquet"):
            continue
        name = f[:-8]
        tbl = pq.read_table(os.path.join(SRC, f))
        names = tbl.schema.names
        n = tbl.num_rows
        third = max(1, n // 3)
        tdir = os.path.join(dst, f)
        os.makedirs(tdir)
        c0 = tbl.slice(0, third)
        c1 = tbl.slice(third, third).select(list(reversed(names)))
        c2 = tbl.slice(2 * third).select(names[1:] + names[:1])
        null_col = LAYOUT_NULL_COL.get(name)
        if null_col is not None and c2.num_rows:
            idx = c2.schema.get_field_index(null_col)
            field = c2.schema.field(null_col)
            c2 = c2.set_column(
                idx, field, pa.nulls(c2.num_rows, type=field.type)
            )
        pq.write_table(
            c0, os.path.join(tdir, "part-000.parquet"), row_group_size=100
        )
        pq.write_table(
            c1, os.path.join(tdir, "part-001.parquet"), row_group_size=100,
            use_dictionary=False,
        )
        pq.write_table(
            c2, os.path.join(tdir, "part-002.parquet"), row_group_size=100
        )
    return dst


@pytest.mark.parametrize("key", sorted(REGISTRY))
def test_layout_drift_parity(spark, layout_sf_dir, key):
    q = REGISTRY[key]
    result = compare(
        key, q.fn(spark, layout_sf_dir), q.sql, layout_sf_dir,
        strict=True,
    )
    assert result.ok, (
        f"{key}: {result.detail} "
        f"(spark={result.rows_spark}, oracle={result.rows_oracle})"
    )


def test_layout_fixture_column_order_is_pinned(spark, layout_sf_dir):
    """load_table returns the DECLARED column order for every table no
    matter which part file a split starts in, and the events footer
    sniff resolves the directory layout."""
    from serverless_etl_aws_spark.catalog import events_ts_unit, load_table
    from serverless_etl_aws_spark.schemas import TABLES

    for name, schema in TABLES.items():
        df = load_table(spark, layout_sf_dir, name)
        assert df.columns == [f.name for f in schema.fields], name
    assert events_ts_unit(
        os.path.join(layout_sf_dir, "events.parquet")
    ) == "us"


# ---------------------------------------------------------------------------
# 24th axis: PHYSICAL-TYPE DRIFT. A realistic writer regression stores
# columns NARROWER than the declared schema (int32 ids from a C writer,
# float32 measures from an ML pipeline) — the declared-schema read must
# widen losslessly and identically on both engines. Probed CLEAN on
# first run (round 13): Spark 4's vectorized parquet reader upcasts
# int32→long and float→double under spark.read.schema, and DuckDB's
# by-name bind widens the same way. Pinned because the failure mode if
# either side ever stops widening is a LOUD read error or a silent
# last-ulp drift — both caught here within one round.

TYPE_NARROW = {
    "events": {"value": "float32", "user_id": "int32"},
    "lineitem": {"l_quantity": "float32"},
    "orders": {"o_custkey": "int32"},
    "customer": {"c_custkey": "int32"},
}


@pytest.fixture(scope="session")
def typenarrow_sf_dir(tmp_path_factory) -> str:
    """Fixture copy with NARROWED physical column types (values are the
    narrowed values — both engines read the same file, so parity is
    over identical inputs; the axis exercises the WIDENING read path,
    scan pushdown over narrowed columns, and join keys whose two sides
    now store different physical widths)."""
    dst = str(tmp_path_factory.mktemp("typenarrowfix"))
    for f in sorted(os.listdir(SRC)):
        if not f.endswith(".parquet"):
            continue
        name = f[:-8]
        tbl = pq.read_table(os.path.join(SRC, f))
        for col, typ in TYPE_NARROW.get(name, {}).items():
            idx = tbl.schema.get_field_index(col)
            tbl = tbl.set_column(
                idx, col, tbl[col].cast(pa.type_for_alias(typ))
            )
        pq.write_table(tbl, os.path.join(dst, f))
    return dst


@pytest.mark.parametrize("key", sorted(REGISTRY))
def test_typenarrow_drift_parity(spark, typenarrow_sf_dir, key):
    q = REGISTRY[key]
    result = compare(
        key, q.fn(spark, typenarrow_sf_dir), q.sql, typenarrow_sf_dir,
        strict=True,
    )
    assert result.ok, (
        f"{key}: {result.detail} "
        f"(spark={result.rows_spark}, oracle={result.rows_oracle})"
    )
