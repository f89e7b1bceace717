"""Seeded NYC-taxi bronze input for the etl_chain workload.

:func:`taxi_months` writes monthly bronze files (``schemas.NYC_TAXI``)
plus one late-arrival file, pure numpy/pyarrow (no Spark), and returns
the exact gold aggregate of everything it wrote, in integer cents, as
the etl_chain oracle.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# NYC-taxi bronze months (etl_chain)
# ---------------------------------------------------------------------------

_TAXI_SCHEMA = pa.schema([
    ("VendorID", pa.int32()),
    ("tpep_pickup_datetime", pa.timestamp("us")),
    ("tpep_dropoff_datetime", pa.timestamp("us")),
    ("passenger_count", pa.float64()),
    ("trip_distance", pa.float64()),
    ("RatecodeID", pa.float64()),
    ("store_and_fwd_flag", pa.string()),
    ("PULocationID", pa.int32()),
    ("DOLocationID", pa.int32()),
    ("payment_type", pa.int64()),
    ("fare_amount", pa.float64()),
    ("extra", pa.float64()),
    ("mta_tax", pa.float64()),
    ("tip_amount", pa.float64()),
    ("tolls_amount", pa.float64()),
    ("improvement_surcharge", pa.float64()),
    ("total_amount", pa.float64()),
    ("congestion_surcharge", pa.float64()),
    ("airport_fee", pa.float64()),
])

#: (pickup_date 'YYYY-MM-DD', payment_type) -> [trips, fare_cents,
#: total_cents], over the trips the silver transform keeps.
GoldOracle = dict[tuple[str, int], list[int]]


@dataclass
class TaxiMonth:
    year_month: str
    path: str           # staged bronze file; the chain lands a copy
    dates: list[str]    # distinct kept pickup dates = gold partitions touched


@dataclass
class TaxiInputs:
    months: list[TaxiMonth]
    late_path: str      # late-arrival trips for the first month
    gold: GoldOracle = field(default_factory=dict)


def _taxi_trips(rng, n: int, lo: datetime, span_s: int):
    """``n`` trips picked up in ``[lo, lo + span_s)``. Returns the table
    and the columns the oracle needs (valid mask, pickup, payment type,
    fare and total in cents)."""
    pick = np.datetime64(lo, "us") + (
        rng.integers(0, span_s * 1_000_000, n).astype("timedelta64[us]")
    )
    dur = rng.integers(60, 3600, n) * 1_000_000
    # ~1% of trips end before they start and ~0.5% are refunds (negative
    # total): the silver transform drops both.
    dur[rng.random(n) < 0.01] *= -1
    fare = rng.integers(250, 8000, n)
    tip = rng.integers(0, 1500, n)
    tolls = np.where(rng.random(n) < 0.05, 694, 0)
    extra = rng.choice([0, 50, 100, 250], n)
    total = fare + tip + tolls + extra + 150
    total[rng.random(n) < 0.005] *= -1
    passengers = rng.integers(1, 7, n).astype("float64")
    passengers[rng.random(n) < 0.02] = np.nan
    ptype = rng.choice([1, 2, 3, 4, 5, 6], n, p=[0.7, 0.2, 0.04, 0.03, 0.02, 0.01])
    cols = {
        "VendorID": rng.integers(1, 3, n),
        "tpep_pickup_datetime": pick,
        "tpep_dropoff_datetime": pick + dur.astype("timedelta64[us]"),
        "passenger_count": passengers,
        "trip_distance": np.round(rng.uniform(0.1, 30.0, n), 2),
        "RatecodeID": rng.choice([1.0, 2.0, 5.0], n, p=[0.9, 0.07, 0.03]),
        "store_and_fwd_flag": rng.choice(["N", "Y"], n, p=[0.99, 0.01]),
        "PULocationID": rng.integers(1, 266, n),
        "DOLocationID": rng.integers(1, 266, n),
        "payment_type": ptype,
        "fare_amount": fare / 100.0,
        "extra": extra / 100.0,
        "mta_tax": np.full(n, 0.5),
        "tip_amount": tip / 100.0,
        "tolls_amount": tolls / 100.0,
        "improvement_surcharge": np.full(n, 1.0),
        "total_amount": total / 100.0,
        "congestion_surcharge": rng.choice([0.0, 2.5], n),
        "airport_fee": rng.choice([0.0, 1.75], n, p=[0.9, 0.1]),
    }
    table = pa.Table.from_arrays(
        [pa.array(cols[f.name], f.type, from_pandas=True) for f in _TAXI_SCHEMA],
        schema=_TAXI_SCHEMA,
    )
    valid = (dur >= 0) & (total >= 0)
    return table, valid, pick, ptype, fare, total


def _fold(gold: GoldOracle, valid, pick, ptype, fare, total) -> list[str]:
    """Add the kept trips to ``gold``; return their distinct dates."""
    days = pick[valid].astype("datetime64[D]").astype(str)
    for d, p, f, t in zip(days, ptype[valid], fare[valid], total[valid]):
        cell = gold.setdefault((str(d), int(p)), [0, 0, 0])
        cell[0] += 1
        cell[1] += int(f)
        cell[2] += int(t)
    return sorted(set(days.tolist()))


def taxi_months(
    out_dir: str, seed: int, n_months: int, rows_per_month: int,
    late_rows: int,
) -> TaxiInputs:
    """Stage ``n_months`` monthly bronze files (2024-01 onwards) under
    ``out_dir`` plus one late-arrival file for the first month."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    gold: GoldOracle = {}
    months = []
    for i in range(n_months):
        lo = datetime(2024 + i // 12, i % 12 + 1, 1)
        hi = datetime(2024 + (i + 1) // 12, (i + 1) % 12 + 1, 1)
        trips = _taxi_trips(rng, rows_per_month, lo, int((hi - lo).total_seconds()))
        ym = f"{lo:%Y-%m}"
        path = os.path.join(out_dir, f"yellow_taxi_{ym}_{lo:%Y%m%d}_000000.parquet")
        pq.write_table(trips[0], path)
        months.append(TaxiMonth(ym, path, _fold(gold, *trips[1:])))
    trips = _taxi_trips(rng, late_rows, datetime(2024, 1, 1), 31 * 86_400)
    late_path = os.path.join(out_dir, "late_2024-01.parquet")
    pq.write_table(trips[0], late_path)
    _fold(gold, *trips[1:])
    return TaxiInputs(months, late_path, gold)
