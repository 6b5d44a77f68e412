"""Seeded input generators for the benchmark.

Everything the engine reads in a benchmark run is written here from a
seed: taxi-trip CSVs for the ingest workloads and a small star schema,
event stream, document corpus and embedding table for the query
workload.  The same seed gives byte-identical files and the same
expectations; the engine sees only the files.

Numbers are drawn as integers (cents, hundredths of a mile) and
formatted through lookup tables, so a million-row CSV is written in a
few seconds of Python and every expected sum is exact.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

YELLOW_HEADER = (
    "VendorID", "tpep_pickup_datetime", "tpep_dropoff_datetime",
    "passenger_count", "trip_distance", "RatecodeID", "store_and_fwd_flag",
    "PULocationID", "DOLocationID", "payment_type", "fare_amount", "extra",
    "mta_tax", "tip_amount", "tolls_amount", "improvement_surcharge",
    "total_amount", "congestion_surcharge",
)
GREEN_HEADER = (
    "VendorID", "lpep_pickup_datetime", "lpep_dropoff_datetime",
    "store_and_fwd_flag", "RatecodeID", "PULocationID", "DOLocationID",
    "passenger_count", "trip_distance", "fare_amount", "extra", "mta_tax",
    "tip_amount", "tolls_amount", "ehail_fee", "improvement_surcharge",
    "total_amount", "payment_type", "trip_type", "congestion_surcharge",
)
#: the column each flavour leaves empty on every row (the real green
#: files never fill ``ehail_fee``), which the engine must conform as a
#: string column
EMPTY_COLUMN = {"yellow": "congestion_surcharge", "green": "ehail_fee"}

#: the purpose-built transform's grouping keys, as the SQL names them
GROUP_KEYS = ("vendorid", "pulocationid", "dolocationid", "payment_type")
#: summed purpose-built columns, each checked exactly in integer units
#: (cents, or hundredths of a mile for the distance)
SUM_COLUMNS = (
    "passenger_count", "total_trip_distance", "total_fare_amount",
    "total_extra", "total_tip_amount", "total_tolls_amount", "total_amount",
)

_MAX_CENTS = 40_000
_CENTS = np.array(
    [f"{c // 100}.{c % 100:02d}" for c in range(_MAX_CENTS + 1)], dtype=object
)
_INTS = np.array([str(i) for i in range(300)], dtype=object)
_N_LOCATIONS = 265
# trip locations are Zipf-skewed, as in the real city data, so the
# 7-key aggregate sees both hot and rare keys
_LOC_P = 1.0 / np.arange(1, _N_LOCATIONS + 1) ** 0.9
_LOC_P /= _LOC_P.sum()


def _clock(day: str, seconds: np.ndarray) -> np.ndarray:
    """``'YYYY-MM-DD HH:MM:SS'`` for ``seconds`` after midnight of ``day``."""
    iso = np.datetime_as_string(np.datetime64(day, "s") + seconds, unit="s")
    return np.char.replace(iso, "T", " ").astype(object)


@dataclass
class TaxiFile:
    """One generated raw CSV and what the engine must make of it."""

    flavour: str  # "yellow" | "green"
    text: bytes
    n_rows: int  # data rows in the file, malformed included
    valid_rows: int  # rows that parse against the inferred schema
    expected: pd.DataFrame  # purpose-built groups: GROUP_KEYS + count + SUM_COLUMNS


def taxi_csv(
    seed: int, flavour: str, n_rows: int, index: int = 0,
    trip_day: str = "2020-08-01",
) -> TaxiFile:
    """The ``index``-th yellow or green taxi-trip CSV of ``n_rows`` data
    rows for ``seed``.

    About 2% of rows have an empty ``VendorID`` (the transform
    coalesces it to -1), about 0.5% are truncated lines that the
    reader's DROPMALFORMED mode must drop, and one column is empty on
    every row.
    """
    if flavour not in ("yellow", "green"):
        raise ValueError(f"unknown taxi flavour {flavour!r}")
    rng = np.random.default_rng(
        [seed, 0 if flavour == "yellow" else 1, index, n_rows]
    )
    n = n_rows
    vendor = rng.integers(1, 3, n)
    vendor_null = rng.random(n) < 0.02
    pickup = rng.integers(0, 86_400, n)
    dropoff = pickup + rng.integers(60, 3_600, n)
    passengers = rng.integers(0, 7, n)
    distance = rng.integers(0, 3_000, n)  # hundredths of a mile
    ratecode = rng.integers(1, 7, n)
    fwd = rng.random(n) < 0.01
    pu = rng.choice(_N_LOCATIONS, n, p=_LOC_P) + 1
    do = rng.choice(_N_LOCATIONS, n, p=_LOC_P) + 1
    payment = rng.integers(1, 5, n)
    fare = rng.integers(250, 9_000, n)
    extra = rng.choice(np.array([0, 50, 100, 250]), n)
    mta = np.full(n, 50)
    tip = np.where(payment == 1, rng.integers(0, 2_500, n), 0)
    tolls = np.where(rng.random(n) < 0.08, 612, 0)
    improvement = np.full(n, 30)
    total = fare + extra + mta + tip + tolls + improvement
    malformed = rng.random(n) < 0.005

    vendor_s = np.where(vendor_null, "", _INTS[vendor]).astype(object)
    fwd_s = np.where(fwd, "Y", "N").astype(object)
    empty = np.full(n, "", dtype=object)
    c = _CENTS
    cols = {
        "VendorID": vendor_s,
        "pickup": _clock(trip_day, pickup),
        "dropoff": _clock(trip_day, dropoff),
        "passenger_count": _INTS[passengers],
        "trip_distance": c[distance],
        "RatecodeID": _INTS[ratecode],
        "store_and_fwd_flag": fwd_s,
        "PULocationID": _INTS[pu],
        "DOLocationID": _INTS[do],
        "payment_type": _INTS[payment],
        "fare_amount": c[fare],
        "extra": c[extra],
        "mta_tax": c[mta],
        "tip_amount": c[tip],
        "tolls_amount": c[tolls],
        "improvement_surcharge": c[improvement],
        "total_amount": c[total],
        "empty": empty,
    }
    if flavour == "yellow":
        header = YELLOW_HEADER
        order = [
            "VendorID", "pickup", "dropoff", "passenger_count",
            "trip_distance", "RatecodeID", "store_and_fwd_flag",
            "PULocationID", "DOLocationID", "payment_type", "fare_amount",
            "extra", "mta_tax", "tip_amount", "tolls_amount",
            "improvement_surcharge", "total_amount", "empty",
        ]
    else:
        header = GREEN_HEADER
        cols["trip_type"] = _INTS[rng.integers(1, 3, n)]
        cols["congestion_surcharge"] = c[np.where(rng.random(n) < 0.5, 275, 0)]
        order = [
            "VendorID", "pickup", "dropoff", "store_and_fwd_flag",
            "RatecodeID", "PULocationID", "DOLocationID", "passenger_count",
            "trip_distance", "fare_amount", "extra", "mta_tax", "tip_amount",
            "tolls_amount", "empty", "improvement_surcharge", "total_amount",
            "payment_type", "trip_type", "congestion_surcharge",
        ]
    lines = list(map(",".join, zip(*(cols[k].tolist() for k in order))))
    for i in np.flatnonzero(malformed).tolist():
        lines[i] = ",".join(lines[i].split(",")[:5])  # truncated record
    text = (",".join(header) + "\n" + "\n".join(lines) + "\n").encode()

    ok = ~malformed
    expected = (
        pd.DataFrame(
            {
                "vendorid": np.where(vendor_null, -1, vendor)[ok],
                "pulocationid": pu[ok],
                "dolocationid": do[ok],
                "payment_type": payment[ok],
                "count": np.ones(int(ok.sum()), dtype=np.int64),
                "passenger_count": passengers[ok],
                "total_trip_distance": distance[ok],
                "total_fare_amount": fare[ok],
                "total_extra": extra[ok],
                "total_tip_amount": tip[ok],
                "total_tolls_amount": tolls[ok],
                "total_amount": total[ok],
            }
        )
        .groupby(list(GROUP_KEYS), as_index=False)
        .sum()
        .astype("int64")
        .sort_values(list(GROUP_KEYS), ignore_index=True)
    )
    return TaxiFile(flavour, text, n, int(ok.sum()), expected)


# --------------------------------------------------------------------------
# Query workload tables (same schemas as the engine's test tables)
# --------------------------------------------------------------------------

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = np.array(["en", "zh", "es", "fr", "de"], dtype=object)
_LANG_P = np.array([0.41, 0.15, 0.15, 0.15, 0.14])
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = np.array(
    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], dtype=object
)
_PRIORITIES = np.array(
    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], dtype=object
)
_EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"], dtype=object)
QUERY_TABLES = (
    "region", "nation", "customer", "supplier", "orders", "lineitem",
    "events", "documents", "embeddings",
)


def _money(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    """Uniform amounts in [lo, hi) cents, as 2-decimal doubles."""
    return rng.integers(lo, hi, n) / 100.0


def _days(rng: np.random.Generator, first: str, n_days: int, n: int) -> np.ndarray:
    return np.datetime64(first, "us") + rng.integers(0, n_days, n).astype(
        "timedelta64[D]"
    )


def query_tables(seed: int, scale: int) -> dict[str, pa.Table]:
    """The query workload's tables at ``scale`` (1 = 1,000 orders).

    Shapes follow the engine's test tables: a TPC-H-like star schema,
    a month of click events, word documents of 10-100 words of which
    5% are near-duplicates of an earlier one, and unit 64-d float
    embeddings.
    """
    rng = np.random.default_rng([seed, 7])
    n_orders = 1_000 * scale
    n_cust, n_supp = 100 * scale, 10 * scale
    n_parts, n_items = 130 * scale, 4 * n_orders
    n_events, n_docs, n_vecs = 700 * scale, 40 * scale, 12 * scale

    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": list(_REGIONS)}
    )
    t["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -99_999, 999_999, n_cust),
            "c_mktsegment": _SEGMENTS[rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -99_999, 999_999, n_supp),
        }
    )
    t["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_orders),
            "o_orderstatus": np.array(["F", "O", "P"], dtype=object)[
                rng.integers(0, 3, n_orders)
            ],
            "o_totalprice": _money(rng, 100_000, 50_000_000, n_orders),
            "o_orderdate": _days(rng, "1995-01-01", 2_405, n_orders),
            "o_orderpriority": _PRIORITIES[rng.integers(0, 5, n_orders)],
        }
    )
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_orders, n_items),
            "l_partkey": rng.integers(0, n_parts, n_items),
            "l_suppkey": rng.integers(0, n_supp, n_items),
            "l_linenumber": rng.integers(1, 8, n_items).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_items).astype(np.float64),
            "l_extendedprice": _money(rng, 90_000, 10_500_000, n_items),
            "l_discount": rng.integers(0, 11, n_items) / 100.0,
            "l_tax": rng.integers(0, 9, n_items) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"], dtype=object)[
                rng.integers(0, 3, n_items)
            ],
            "l_linestatus": np.array(["F", "O"], dtype=object)[
                rng.integers(0, 2, n_items)
            ],
            "l_shipdate": _days(rng, "1995-01-02", 2_499, n_items),
        }
    )
    ev_us = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_events))
    t["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]"),
            "user_id": rng.integers(0, max(15, n_events // 66), n_events),
            "event_type": _EVENT_TYPES[rng.integers(0, 5, n_events)],
            "value": rng.integers(0, 56_021, n_events) / 100.0,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    words = np.array(_WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(words[rng.integers(0, len(words), k)].tolist()))
    t["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": _LANGS[rng.choice(5, n_docs, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )
    vec = rng.standard_normal((n_vecs, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": list(vec),
            "label": rng.integers(0, 10, n_vecs).astype(np.int32),
        }
    )
    return {
        name: pa.Table.from_pandas(df, preserve_index=False)
        for name, df in t.items()
    }


def write_query_tables(seed: int, scale: int, sf_dir: str) -> None:
    """Write :func:`query_tables` as ``<sf_dir>/<table>.parquet``."""
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in query_tables(seed, scale).items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
