"""Seeded input generators. Everything the program reads is written here.

The same seed gives the same records. Weather files get strictly increasing
mtimes, because the file stream source orders new files by modification
time. Hotel ``Hash`` values come from the package's scalar reference
geohash (``functions.geohash.geohash_encode``), so a hotel's cell is the
cell its coordinates fall in.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass

from kafka_streams_task_spark.functions.geohash import geohash_encode

PRECISION = 4
DATES = [f"2017-08-{d:02d}" for d in range(1, 9)]


@dataclass(frozen=True)
class StreamShape:
    """Where weather and hotels fall, and how much of each there is."""

    lat: float  # half-height of the box, degrees
    lng: float  # half-width of the box, degrees
    files: int
    rows_per_file: int
    hotels: int


# lat +-60 / lng +-180 spans about 700k precision-4 cells: almost every row
# touches a new cell, so state grows every batch, and few batches touch a
# cell that has a hotel.
HICARD = StreamShape(lat=60.0, lng=180.0, files=40, rows_per_file=1000, hotels=5000)
# a +-1 degree box spans about 72 cells: state stays tiny and every batch
# re-emits every hotel (about 70 per cell).
LOWCARD = StreamShape(lat=1.0, lng=1.0, files=40, rows_per_file=1000, hotels=5000)


def weather_records(rng: random.Random, shape: StreamShape) -> list[list[dict]]:
    """``shape.files`` lists of raw weather records (the WEATHER_RAW schema)."""
    files = []
    for _ in range(shape.files):
        recs = []
        for _ in range(shape.rows_per_file):
            f = round(rng.uniform(20.0, 100.0), 1)
            recs.append(
                {
                    "lat": round(rng.uniform(-shape.lat, shape.lat), 5),
                    "lng": round(rng.uniform(-shape.lng, shape.lng), 5),
                    "wthr_date": rng.choice(DATES),
                    "avg_tmpr_f": f,
                    "avg_tmpr_c": round((f - 32.0) * 5.0 / 9.0, 1),
                }
            )
        files.append(recs)
    return files


def hotel_records(rng: random.Random, shape: StreamShape) -> list[dict]:
    """Raw hotel records (the HOTELS_RAW schema), keyed by their own cell."""
    out = []
    for i in range(shape.hotels):
        lat = round(rng.uniform(-shape.lat, shape.lat), 5)
        lng = round(rng.uniform(-shape.lng, shape.lng), 5)
        out.append(
            {
                "Id": str(i),
                "Name": f"Hotel {i}",
                "Country": rng.choice(["US", "GB", "FR", "NL", "IT"]),
                "City": f"City {rng.randrange(500)}",
                "Address": f"{rng.randrange(1, 999)} Main St",
                "Latitude": str(lat),
                "Longitude": str(lng),
                "Hash": geohash_encode(lat, lng, PRECISION),
            }
        )
    return out


def write_jsonl(path: str, records: list[dict], mtime: float | None = None) -> None:
    with open(path, "w") as f:
        for r in records:
            f.write(json.dumps(r))
            f.write("\n")
    if mtime is not None:
        os.utime(path, (mtime, mtime))


def stage_weather(dirpath: str, files: list[list[dict]], t0: float) -> list[str]:
    """Write one JSON file per micro-batch, mtimes one second apart."""
    os.makedirs(dirpath, exist_ok=True)
    paths = []
    for i, recs in enumerate(files):
        p = os.path.join(dirpath, f"w{i:05d}.json")
        write_jsonl(p, recs, t0 + i)
        paths.append(p)
    return paths


# ---------------------------------------------------------------------------
# Catalog tables for batch_mix: the columns and types of the driver's star
# schema, small enough that one pass of the mix takes a few seconds.
# ---------------------------------------------------------------------------

EVENTS = 20000
USERS = 150
CUSTOMERS = 1500
ORDERS = 15000
LINEITEMS = 60000
DOCUMENTS = 600
PLANTED_DUPLICATES = 40  # documents that repeat an earlier one word for word
VOCAB = 5000


def write_catalog_tables(dirpath: str, rng: random.Random) -> dict[str, int]:
    """Write events, customer, orders, lineitem and documents as
    ``<dirpath>/<table>.parquet``. Returns facts the gate checks."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(dirpath, exist_ok=True)
    g = np.random.default_rng(rng.randrange(2**32))

    def put(name, cols):
        pq.write_table(pa.table(cols), os.path.join(dirpath, f"{name}.parquet"))

    month_us = 30 * 86400 * 10**6
    ts = np.sort(g.integers(0, month_us, EVENTS)) + np.int64(1704067200 * 10**6)
    put(
        "events",
        {
            "event_id": pa.array(np.arange(EVENTS, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(g.integers(0, USERS, EVENTS)),
            "event_type": pa.array(
                g.choice(["signup", "error", "click", "view", "purchase"], EVENTS)
            ),
            "value": pa.array(np.round(g.uniform(0.0, 500.0, EVENTS), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in g.integers(0, 100, EVENTS)]),
        },
    )
    put(
        "customer",
        {
            "c_custkey": pa.array(np.arange(CUSTOMERS, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(CUSTOMERS)]),
            "c_nationkey": pa.array(g.integers(0, 25, CUSTOMERS).astype(np.int32)),
            "c_acctbal": pa.array(np.round(g.uniform(-999.99, 9999.99, CUSTOMERS), 2)),
            "c_mktsegment": pa.array(
                g.choice(
                    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                    CUSTOMERS,
                )
            ),
        },
    )
    day_us = 86400 * 10**6
    epoch_1995 = 788918400 * 10**6
    put(
        "orders",
        {
            "o_orderkey": pa.array(np.arange(ORDERS, dtype=np.int64)),
            "o_custkey": pa.array(g.integers(0, CUSTOMERS, ORDERS)),
            "o_orderstatus": pa.array(g.choice(["F", "O", "P"], ORDERS)),
            "o_totalprice": pa.array(np.round(g.uniform(1000.0, 500000.0, ORDERS), 2)),
            "o_orderdate": pa.array(
                epoch_1995 + g.integers(0, 2404, ORDERS) * day_us, type=pa.timestamp("us")
            ),
            "o_orderpriority": pa.array(
                g.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], ORDERS)
            ),
        },
    )
    put(
        "lineitem",
        {
            "l_orderkey": pa.array(g.integers(0, ORDERS, LINEITEMS)),
            "l_partkey": pa.array(g.integers(0, 2000, LINEITEMS)),
            "l_suppkey": pa.array(g.integers(0, 100, LINEITEMS)),
            "l_linenumber": pa.array(g.integers(1, 8, LINEITEMS).astype(np.int32)),
            "l_quantity": pa.array(g.integers(1, 51, LINEITEMS).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(g.uniform(900.0, 105000.0, LINEITEMS), 2)),
            "l_discount": pa.array(np.round(g.uniform(0.0, 0.1, LINEITEMS), 2)),
            "l_tax": pa.array(np.round(g.uniform(0.0, 0.08, LINEITEMS), 2)),
            "l_returnflag": pa.array(g.choice(["A", "N", "R"], LINEITEMS)),
            "l_linestatus": pa.array(g.choice(["F", "O"], LINEITEMS)),
            "l_shipdate": pa.array(
                epoch_1995 + g.integers(1, 2500, LINEITEMS) * day_us, type=pa.timestamp("us")
            ),
        },
    )
    # random word salad over a large vocabulary shares almost no word
    # 3-grams, so MinHash-LSH candidates are exactly the planted copies
    vocab = [f"w{i}" for i in range(VOCAB)]
    texts = [
        " ".join(vocab[j] for j in g.integers(0, VOCAB, int(g.integers(20, 90))))
        for _ in range(DOCUMENTS - PLANTED_DUPLICATES)
    ]
    originals = g.choice(len(texts), PLANTED_DUPLICATES, replace=False)
    texts += [texts[i] for i in originals]
    put(
        "documents",
        {
            "doc_id": pa.array(np.arange(DOCUMENTS, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(g.choice(["en", "de", "fr", "es", "it"], DOCUMENTS)),
            "source": pa.array([f"src{k}" for k in g.integers(0, 20, DOCUMENTS)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        },
    )
    return {"planted_pairs": PLANTED_DUPLICATES}
