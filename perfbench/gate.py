"""Correctness gate: the enriched hotels the program produced must equal an
independent pure-Python computation over the same input records.

The reference follows the topology (WeatherHotelsApp.java:46-66): average
per (cell, date), roll up per cell as a date-sorted list, inner-join onto
hotels by their ``Hash``. The stream sums each cell-date in arrival order
and the batch plan sums it in shuffle order, so averages are compared with
a relative tolerance of REL_TOL; every other field must match exactly.
"""

from __future__ import annotations

import math

from kafka_streams_task_spark.functions.geohash import geohash_encode

import fixtures

REL_TOL = 1e-9
ABS_TOL = 1e-9
MAX_REPORTED = 5


def enriched_row(r) -> tuple:
    """(hash, country, city, address, name, ((tmp_f, tmp_c, date), ...))
    from a Spark row of the enriched output."""
    return (
        r.hash, r.country, r.city, r.address, r.name,
        tuple((w.tmp_f, w.tmp_c, w.date) for w in r.avgWeathers),
    )


def expected_enrichment(weather: list[dict], hotels: list[dict]) -> dict[str, tuple]:
    acc: dict[str, dict[str, list[float]]] = {}
    for w in weather:
        cell = geohash_encode(w["lat"], w["lng"], fixtures.PRECISION)
        s = acc.setdefault(cell, {}).setdefault(w["wthr_date"], [0.0, 0.0, 0])
        s[0] += w["avg_tmpr_f"]
        s[1] += w["avg_tmpr_c"]
        s[2] += 1
    out = {}
    for h in hotels:
        days = acc.get(h["Hash"])
        if days is None:
            continue
        weather_list = tuple((f / n, c / n, d) for d, (f, c, n) in sorted(days.items()))
        out[h["Id"]] = (h["Hash"], h["Country"], h["City"], h["Address"], h["Name"], weather_list)
    return out


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=ABS_TOL)


def compare_enrichment(actual: dict[str, tuple], expected: dict[str, tuple]) -> list[str]:
    """Problems found, at most MAX_REPORTED of them plus a count; empty
    when the outputs agree."""
    problems = []
    missing = sorted(expected.keys() - actual.keys())
    extra = sorted(actual.keys() - expected.keys())
    if missing:
        problems.append(f"{len(missing)} hotels missing, e.g. {missing[:3]}")
    if extra:
        problems.append(f"{len(extra)} unexpected hotels, e.g. {extra[:3]}")
    bad = 0
    for hid in sorted(expected.keys() & actual.keys()):
        a, e = actual[hid], expected[hid]
        ok = a[:5] == e[:5] and len(a[5]) == len(e[5]) and all(
            wa[2] == we[2] and _close(wa[0], we[0]) and _close(wa[1], we[1])
            for wa, we in zip(a[5], e[5])
        )
        if not ok:
            bad += 1
            if bad <= MAX_REPORTED:
                problems.append(f"hotel {hid}: got {a}, expected {e}")
    if bad > MAX_REPORTED:
        problems.append(f"... {bad} differing hotels in all")
    return problems


def compare_count(name: str, got: int, expected: int) -> list[str]:
    return [] if got == expected else [f"{name}: {got} rows, expected {expected}"]
