"""Geohash encoding — the one scalar function the reference needs that Spark
lacks a builtin for.

The reference calls ``GeoHash.geoHashStringWithCharacterPrecision(lat, lng, 4)``
from the third-party ``ch.hsr:geohash`` library (reference:
src/main/java/org/davkaev/WeatherHotelsApp.java:74-78, MyStream.java:97-101).
This module implements the public geohash algorithm (Niemeyer 2008; base-32
interleaved latitude/longitude bisection) three ways:

  * ``geohash_expr`` — the hot path: quantize-and-interleave as native Spark
    column expressions, so the weather pipeline runs with no Python stage at
    all and stays inside whole-stage codegen;
  * ``geohash_encode`` — scalar pure-Python bisection, the readable reference
    implementation used for tests and for validating the fast paths;
  * ``_geohash_numpy`` — vectorized numpy quantize-and-interleave behind the
    Arrow-batched ``geohash_udf``, which serves only the SQL ``geohash``
    function that ``register_sql_functions`` registers.

Quantizing ``floor((x - lo) / span * 2^bits)`` is exactly equivalent to
bisection with ``>=`` midpoints, which is what the golden vectors from the
reference tests (WeatherStreamsTest.java:171-177, e.g. (39.6467, -89.8455)
-> "dp01", (0.0, 0.0) -> "s000") pin down.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

_BASE32 = "0123456789bcdefghjkmnpqrstuvwxyz"
_BASE32_ARR = np.frombuffer(_BASE32.encode("ascii"), dtype=np.uint8)


def geohash_encode(lat: float, lng: float, precision: int = 4) -> str:
    """Scalar geohash (reference implementation, bisection form)."""
    lat_lo, lat_hi = -90.0, 90.0
    lng_lo, lng_hi = -180.0, 180.0
    chars: list[str] = []
    even_bit_is_lng = True
    ch = 0
    nbits = 0
    while len(chars) < precision:
        if even_bit_is_lng:
            mid = (lng_lo + lng_hi) / 2
            if lng >= mid:
                ch = (ch << 1) | 1
                lng_lo = mid
            else:
                ch <<= 1
                lng_hi = mid
        else:
            mid = (lat_lo + lat_hi) / 2
            if lat >= mid:
                ch = (ch << 1) | 1
                lat_lo = mid
            else:
                ch <<= 1
                lat_hi = mid
        even_bit_is_lng = not even_bit_is_lng
        nbits += 1
        if nbits == 5:
            chars.append(_BASE32[ch])
            ch = 0
            nbits = 0
    return "".join(chars)


def _geohash_numpy(lat: np.ndarray, lng: np.ndarray, precision: int) -> np.ndarray:
    """Vectorized geohash over float64 arrays; returns array of str objects.

    Vectorized *bisection* (one numpy pass per output bit, 5*precision
    passes per batch) — bit-exact with the scalar reference, unlike a
    quantize-by-division formulation which can round across a cell boundary
    for coordinates within one ulp of it.

    NaN coordinates yield None (malformed-record drop semantics, SURVEY §1.3).
    """
    total_bits = 5 * precision
    valid = ~(np.isnan(lat) | np.isnan(lng))
    lat_c = np.nan_to_num(lat).astype(np.float64)
    lng_c = np.nan_to_num(lng).astype(np.float64)

    n = len(lat_c)
    lat_lo = np.full(n, -90.0)
    lat_hi = np.full(n, 90.0)
    lng_lo = np.full(n, -180.0)
    lng_hi = np.full(n, 180.0)
    packed = np.zeros(n, dtype=np.uint64)

    for b in range(total_bits):
        if b % 2 == 0:  # even bit: longitude
            mid = (lng_lo + lng_hi) * 0.5
            hi_half = lng_c >= mid
            lng_lo = np.where(hi_half, mid, lng_lo)
            lng_hi = np.where(hi_half, lng_hi, mid)
        else:  # odd bit: latitude
            mid = (lat_lo + lat_hi) * 0.5
            hi_half = lat_c >= mid
            lat_lo = np.where(hi_half, mid, lat_lo)
            lat_hi = np.where(hi_half, lat_hi, mid)
        packed |= hi_half.astype(np.uint64) << np.uint64(total_bits - 1 - b)

    # Split into 5-bit groups, MSB group first -> base32 chars.
    codes = np.empty((len(packed), precision), dtype=np.uint8)
    for c in range(precision):
        shift = np.uint64(5 * (precision - 1 - c))
        codes[:, c] = _BASE32_ARR[((packed >> shift) & np.uint64(31)).astype(np.intp)]
    strings = codes.view(f"S{precision}").ravel().astype(str)
    return np.where(valid, strings, None)


def geohash_udf(precision: int = 4):
    """Build an Arrow-batched pandas_udf computing geohash at a fixed precision."""

    @pandas_udf(T.StringType())
    def _geohash(lat: pd.Series, lng: pd.Series) -> pd.Series:
        res = _geohash_numpy(
            lat.to_numpy(dtype=np.float64, na_value=np.nan),
            lng.to_numpy(dtype=np.float64, na_value=np.nan),
            precision,
        )
        return pd.Series(res)

    return _geohash


def geohash_expr(lat: Column | str, lng: Column | str, precision: int = 4) -> Column:
    """Geohash as a *native* Spark column expression — the hot path.

    Quantize-and-interleave form: ``floor((x - lo) / span * 2^bits)`` per
    axis, bit-interleave with shift/or, then map 5-bit groups onto the
    base-32 alphabet with ``substring``. Entirely JVM-side built-ins, so the
    whole weather pipeline stays inside whole-stage codegen — no Arrow
    transfer, no Python workers, and Catalyst may freely duplicate the
    expression (e.g. pushed-down join-key null filters) at negligible cost.

    Bit-exact with the bisection reference for EVERY double: the raw
    quantization ``floor((x - lo)/span * 2^bits)`` can land one cell off
    when ``x - lo`` rounds across a boundary (e.g. ``x`` one ulp below a
    cell edge, where the addition rounds up to the edge sum — caught by
    ``test_expr_matches_scalar_near_cell_boundaries``), so it is followed
    by an exact correction step: cell edges ``lo + k*span/2^bits`` are
    exactly representable (the numerator ``k*span`` needs < 53 mantissa
    bits and the division only shifts the exponent), the float rounding
    error is always ≪ one cell, and a single compare-against-edge fixes
    any off-by-one.

    Null lat/lng propagate to a null geohash (malformed-record semantics).
    """
    lat_c = F.col(lat) if isinstance(lat, str) else lat
    lng_c = F.col(lng) if isinstance(lng, str) else lng
    total_bits = 5 * precision
    n_lng = (total_bits + 1) // 2
    n_lat = total_bits // 2

    lat_b = F.least(F.greatest(lat_c, F.lit(-90.0)), F.lit(90.0))
    lng_b = F.least(F.greatest(lng_c, F.lit(-180.0)), F.lit(180.0))
    lng_q0 = F.floor((lng_b + F.lit(180.0)) / F.lit(360.0) * F.lit(float(1 << n_lng)))
    lat_q0 = F.floor((lat_b + F.lit(90.0)) / F.lit(180.0) * F.lit(float(1 << n_lat)))

    def corrected(q0: Column, x: Column, lo: float, span: float, nbits: int) -> Column:
        cell = span / float(1 << nbits)  # exponent shift: exact
        edge = F.lit(lo) + q0.cast("double") * F.lit(cell)  # exact (see docstring)
        edge_next = F.lit(lo) + (q0 + F.lit(1)).cast("double") * F.lit(cell)
        adj = (
            F.when(x < edge, q0 - F.lit(1))
            .when(x >= edge_next, q0 + F.lit(1))
            .otherwise(q0)
        )
        return F.least(F.greatest(adj, F.lit(0)), F.lit((1 << nbits) - 1))

    # Let-binding via higher-order functions: lambda variables are evaluated
    # once, so the quantization exprs aren't inlined into each of the 5p
    # interleave terms (and `packed` isn't re-expanded per output char).
    # Without this, the expression tree blows up ~80x and a groupBy on the
    # geohash key becomes interpreter-bound.
    def interleave(q):
        packed = F.lit(0).cast("long")
        for i in range(n_lng):
            packed = packed.bitwiseOR(
                F.shiftleft(
                    F.shiftright(q["lng_q"], n_lng - 1 - i).bitwiseAND(F.lit(1)),
                    total_bits - 1 - 2 * i,
                )
            )
        for i in range(n_lat):
            packed = packed.bitwiseOR(
                F.shiftleft(
                    F.shiftright(q["lat_q"], n_lat - 1 - i).bitwiseAND(F.lit(1)),
                    total_bits - 2 - 2 * i,
                )
            )
        return packed

    def to_chars(p):
        return F.concat(
            *[
                F.substring(
                    F.lit(_BASE32),
                    F.shiftright(p, 5 * (precision - 1 - c)).bitwiseAND(F.lit(31)).cast("int")
                    + F.lit(1),
                    1,
                )
                for c in range(precision)
            ]
        )

    quantized = F.transform(
        F.array(
            F.struct(
                lat_b.alias("lat"),
                lng_b.alias("lng"),
                lat_q0.alias("lat_q0"),
                lng_q0.alias("lng_q0"),
            )
        ),
        lambda v: F.struct(
            corrected(v["lng_q0"], v["lng"], -180.0, 360.0, n_lng).alias("lng_q"),
            corrected(v["lat_q0"], v["lat"], -90.0, 180.0, n_lat).alias("lat_q"),
        ),
    )
    gh = F.element_at(
        F.transform(
            quantized,
            lambda q: F.element_at(F.transform(F.array(interleave(q)), to_chars), 1),
        ),
        1,
    )
    # least/greatest skip nulls rather than propagate them, so the null guard
    # must be explicit: null coordinate -> null geohash.
    return F.when(lat_c.isNotNull() & lng_c.isNotNull(), gh)


def geohash(lat: Column | str, lng: Column | str, precision: int = 4) -> Column:
    """Column expression: geohash of (lat, lng) at character ``precision``.

    Delegates to the codegen-native ``geohash_expr``; ``geohash_udf`` remains
    available as the Pandas-UDF formulation (used to cross-validate, and as
    the template for functions that genuinely need Python).
    """
    return geohash_expr(lat, lng, precision)
