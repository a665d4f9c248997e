"""Geodesic (great-circle) distance on the WGS84 mean sphere.

The grid index (functions/cells.py) is planar lat/lon; for km-accurate
semantics the distance itself must be spherical. The haversine expression is
kept in the same operation order between the Spark SQL-text form and the
DuckDB oracle SQL so both engines evaluate the same IEEE double formula.

Antimeridian: the CELL GRID is the bounded plane [-180, 180) x [-90, 90)
without longitude wrapping, but the haversine itself wraps (sin^2(dlon/2)
has period 360) — so geodesic operators must cover the wrapped remainder of
any interval that crosses +-180 (within_distance_km_join does), and any
certification bound derived from planar cell separation must account for
wrapped-close points (knn_join's haversine finalization does, via the
180 - |qx| cap).
"""

from __future__ import annotations

from .cells import sql_double

EARTH_RADIUS_KM = 6371.0088  # IUGG mean radius


def haversine_km(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """Great-circle distance in km (haversine; exact on the sphere), as Spark
    SQL text over SQL-fragment inputs (one F.expr; see functions/cells.py)."""
    dlat = f"(radians(({lat2}) - ({lat1})) / 2.0D)"
    dlon = f"(radians(({lon2}) - ({lon1})) / 2.0D)"
    h = (
        f"(sin({dlat}) * sin({dlat}) + cos(radians({lat1})) * cos(radians({lat2}))"
        f" * sin({dlon}) * sin({dlon}))"
    )
    return f"({sql_double(EARTH_RADIUS_KM)} * 2.0D * asin(sqrt({h})))"


def sql_haversine_km(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """The same formula as ANSI SQL text (DuckDB oracle parity)."""
    dlat = f"(RADIANS({lat2} - {lat1}) / 2.0)"
    dlon = f"(RADIANS({lon2} - {lon1}) / 2.0)"
    h = (
        f"(SIN({dlat}) * SIN({dlat}) + COS(RADIANS({lat1})) * COS(RADIANS({lat2}))"
        f" * SIN({dlon}) * SIN({dlon}))"
    )
    return f"(2.0 * {EARTH_RADIUS_KM} * ASIN(SQRT({h})))"


def disk_margins_deg(qy: str, d_km: float) -> tuple[str, str]:
    """Conservative (superset) lat/lon half-extents in degrees of a d_km
    great-circle disk centered at latitude qy.

    lat: central angle >= |dlat|, so |dlat| <= d/R exactly.
    lon: haversine >= 2R * cos(phi_max) * sin(dlon/2) >= (2R cos(phi_max)/pi)
         * dlon for dlon in [0, pi], so dlon <= pi*d / (2R cos(phi_max)) rad
         = 90*d / (R cos(phi_max)) deg, with phi_max = |qy| + dlat the worst
         latitude inside the band. When the band reaches past 89.9 deg the
         cos bound degenerates, so the margin switches to the FULL longitude
         range (360) — an arbitrary clamp there would silently drop
         near-pole pairs; full cover is conservative, never lossy.

    Both margins are Spark SQL text (qy a SQL fragment).
    """
    import math

    dlat = math.degrees(d_km / EARTH_RADIUS_KM)
    phi_max = f"(abs({qy}) + {sql_double(dlat)})"
    dlon = (
        f"CASE WHEN {phi_max} >= 89.9D THEN 360.0D ELSE "
        f"{sql_double(90.0 * d_km / EARTH_RADIUS_KM)} / cos(radians({phi_max})) END"
    )
    return sql_double(dlat), dlon
