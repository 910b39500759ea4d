"""Stream == batch: the continuous weather->hotels topology, fed seeded
records split at random into one-file micro-batches and stopped and
restarted on its checkpoint mid-stream, must fold to exactly what the
batch pipeline computes on the union of the same records (a micro-batch
stream is a deterministic batch job per batch, so nothing may be lost,
double-counted or averaged differently across batch boundaries)."""

from __future__ import annotations

import json
import math
import os
import random
import shutil
import tempfile

import pytest

from kafka_streams_task_spark.functions.geohash import geohash_encode
from kafka_streams_task_spark.schemas import HOTELS_RAW, WEATHER_RAW

SEED = 20261018
# cell centres: three with hotels, one without; hotels also sit in a cell
# that never gets weather
POINTS = [(51.51, -0.07), (48.85, 2.35), (40.71, -74.0), (35.68, 139.69)]
DATES = ["2020-01-01", "2020-01-02", "2020-01-03", "2020-01-04"]


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="stream_parity_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _temp(rng: random.Random, lo: float, hi: float):
    """A temperature field: usually a value, sometimes null or absent."""
    u = rng.random()
    if u < 0.1:
        return None
    if u < 0.2:
        return "absent"
    return round(rng.uniform(lo, hi), 3)


def _weather_lines(rng: random.Random, n: int) -> list[str]:
    lines = []
    for _ in range(n):
        lat, lng = rng.choice(POINTS)
        rec = {"lat": lat + rng.uniform(-0.01, 0.01), "lng": lng + rng.uniform(-0.01, 0.01),
               "wthr_date": rng.choice(DATES)}
        for key, lo, hi in (("avg_tmpr_f", 20.0, 100.0), ("avg_tmpr_c", -5.0, 38.0)):
            v = _temp(rng, lo, hi)
            if v != "absent":
                rec[key] = v
        lines.append(json.dumps(rec))
    lines.insert(rng.randrange(len(lines)), '{"lat": 51.51, "lng": -0.07, "wthr_date": ')
    return lines


def _hotel_lines(rng: random.Random) -> list[str]:
    cells = [geohash_encode(lat, lng, 4) for lat, lng in POINTS[:3]] + ["zzzz"]
    lines = [
        json.dumps({"Id": str(i), "Name": f"H{i}", "Country": rng.choice(["GB", "FR", "US"]),
                    "City": f"C{rng.randrange(5)}", "Address": f"{i} Street",
                    "Latitude": "0", "Longitude": "0", "Hash": rng.choice(cells)})
        for i in range(12)
    ]
    lines.append('{"Id": "99", "Name": ')
    return lines


def _fold(rows) -> dict:
    """Enriched rows -> {id: (hash, country, city, address, name, weather)}."""
    out = {}
    for r in rows:
        weather = [(w.tmp_f, w.tmp_c, w.date) for w in r.avgWeathers]
        out[r.id] = (r.hash, r.country, r.city, r.address, r.name, weather)
    return out


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is b
    return math.isclose(a, b, rel_tol=1e-9)


def test_stream_equals_batch_across_splits_and_restart(spark, tmpdir):
    from kafka_streams_task_spark.operators.weather import weather_hotels_pipeline
    from kafka_streams_task_spark.sources.files import read_json_stream
    from kafka_streams_task_spark.streaming import weather_hotels_stream

    rng = random.Random(SEED)
    lines = _weather_lines(rng, 80)
    n_files = 6
    cuts = sorted(rng.sample(range(1, len(lines)), n_files - 1))
    chunks = [lines[a:b] for a, b in zip([0, *cuts], [*cuts, len(lines)])]
    stop_after = rng.randrange(1, n_files)

    hotels_path = f"{tmpdir}/hotels.json"
    with open(hotels_path, "w") as f:
        f.write("\n".join(_hotel_lines(rng)) + "\n")
    src, ckpt = f"{tmpdir}/weather", f"{tmpdir}/ckpt"
    os.makedirs(src)

    def deliver(i: int) -> None:
        path = f"{src}/b{i:02d}.json"
        with open(path, "w") as f:
            f.write("\n".join(chunks[i]) + "\n")
        os.utime(path, (1_000_000_000 + 100 * i,) * 2)

    emitted: list[tuple[int, list]] = []

    def emit(batch_df, batch_id: int) -> None:
        emitted.append((batch_id, batch_df.collect()))

    def run_instance() -> None:
        hotels = spark.read.schema(HOTELS_RAW).json(hotels_path)
        weather = read_json_stream(spark, src, WEATHER_RAW, max_files_per_trigger=1)
        q = (
            weather_hotels_stream(weather, hotels)
            .writeStream.foreachBatch(emit)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert q.exception() is None

    for i in range(stop_after):
        deliver(i)
    run_instance()
    for i in range(stop_after, n_files):
        deliver(i)
    run_instance()

    assert sorted({b for b, _ in emitted}) == list(range(n_files))
    got = _fold(r for _, rows in sorted(emitted, key=lambda e: e[0]) for r in rows)

    batch = weather_hotels_pipeline(
        spark.read.schema(WEATHER_RAW).json(src), spark.read.schema(HOTELS_RAW).json(hotels_path)
    )
    expect = _fold(batch.collect())

    assert sorted(got) == sorted(expect)
    assert len(expect) >= 6  # the seeded hotels actually matched weather
    for hid, (*fields, weather) in expect.items():
        g_fields, g_weather = got[hid][:-1], got[hid][-1]
        assert g_fields == tuple(fields), hid
        assert [w[2] for w in g_weather] == [w[2] for w in weather], hid
        for (gf, gc, _), (ef, ec, _) in zip(g_weather, weather):
            assert _close(gf, ef) and _close(gc, ec), (hid, g_weather, weather)
    # the seed plants missing and null temperatures among matched records
    assert any('"avg_tmpr_f"' not in ln or '"avg_tmpr_f": null' in ln for ln in lines)
