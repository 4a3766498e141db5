"""Ellipsoidal spherical-Mercator projection used throughout keepright.

Reference: /root/reference/planet/Mercator.java:10-39 and the matching
PHP functions merc_x/merc_y/merc_lon/merc_lat in
/root/reference/checks/helpers.php:238-306.

All keepright geometries carry coordinates in *these* Mercator meters
(not Web-Mercator: the y-axis uses the ellipsoidal eccentricity term),
so every distance threshold in the checks (10 m, 30 m, 80 m, 100 m)
is a distance in this projection.  We reproduce the formula exactly —
including the R_MINOR constant and the ±89.5° latitude clamp — rather
than "fixing" it.

The numpy implementations are the single source of truth: the data
generator, the Spark decode path (via pandas UDFs below) and the test
oracles all call the same functions, so x/y values are bit-identical
everywhere.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

R_MAJOR = 6378137.0
R_MINOR = 6356752.3142
_TEMP = R_MINOR / R_MAJOR
_ES = 1.0 - _TEMP * _TEMP
_ECCENT = np.sqrt(_ES)
_COM = 0.5 * _ECCENT
_DEG2RAD = np.pi / 180.0
_RAD2DEG = 180.0 / np.pi


def merc_x(lon: np.ndarray) -> np.ndarray:
    """lon degrees → Mercator meters (Mercator.java:16-18)."""
    return R_MAJOR * (np.asarray(lon, dtype=np.float64) * _DEG2RAD)


def merc_y(lat: np.ndarray) -> np.ndarray:
    """lat degrees → Mercator meters (Mercator.java:20-38).

    Latitude is clamped to ±89.5° exactly as the reference does.
    """
    lat = np.clip(np.asarray(lat, dtype=np.float64), -89.5, 89.5)
    phi = lat * _DEG2RAD
    sinphi = np.sin(phi)
    con = _ECCENT * sinphi
    con = np.power((1.0 - con) / (1.0 + con), _COM)
    ts = np.tan(0.5 * ((np.pi * 0.5) - phi)) / con
    return 0.0 - R_MAJOR * np.log(ts)


def merc_lon(x: np.ndarray) -> np.ndarray:
    """Mercator meters → lon degrees (helpers.php:284-287)."""
    return (np.asarray(x, dtype=np.float64) / R_MAJOR) * _RAD2DEG


def merc_lat(y: np.ndarray) -> np.ndarray:
    """Mercator meters → lat degrees; iterative inverse
    (helpers.php:290-306: fixed-point iteration, tol 1e-9, ≤15 iters).

    We run all 15 iterations unconditionally (no early exit) so the
    result is a pure function of y with one fixed op sequence — the
    DuckDB oracle unrolls the same 15 steps and must produce
    bit-identical doubles.  The difference vs the reference's early
    exit is below 1e-11 degrees (the iteration contracts by ~e²≈0.0067
    per step past the tolerance).
    """
    y = np.asarray(y, dtype=np.float64)
    ts = np.exp(-y / R_MAJOR)
    phi = (np.pi / 2.0) - 2.0 * np.arctan(ts)
    for _ in range(15):
        con = _ECCENT * np.sin(phi)
        dphi = (
            (np.pi / 2.0)
            - 2.0 * np.arctan(ts * np.power((1.0 - con) / (1.0 + con), _COM))
            - phi
        )
        phi = phi + dphi
    return phi * _RAD2DEG


def merc_lat_wrap(
    select_sql: str, y_col: str, out: str = "mlat", iterations: int = 15
) -> str:
    """Wrap a SELECT producing column ``y_col`` in nested projections
    that compute merc_lat(y_col) AS <out> with the same 15-step
    fixed-point iteration as the numpy implementation.

    Nested subqueries (not lateral column aliases!) — DuckDB expands
    lateral aliases by textual substitution, which is exponential in
    the iteration count; projection operators evaluate each step once.
    """
    drop = ["_ts"]
    q = f"(SELECT *, EXP(-({y_col}) / {R_MAJOR!r}) AS _ts FROM ({select_sql}))"
    q = f"(SELECT *, (PI()/2.0 - 2.0*ATAN(_ts)) AS _phi0 FROM {q})"
    drop.append("_phi0")
    for i in range(iterations):
        q = f"(SELECT *, ({_ECCENT!r} * SIN(_phi{i})) AS _con{i} FROM {q})"
        q = (
            f"(SELECT *, (_phi{i} + (PI()/2.0 - 2.0*ATAN(_ts * "
            f"POW((1.0 - _con{i})/(1.0 + _con{i}), {_COM!r})) "
            f"- _phi{i})) AS _phi{i + 1} FROM {q})"
        )
        drop += [f"_con{i}", f"_phi{i + 1}"]
    q = (
        f"(SELECT * EXCLUDE ({', '.join(drop)}), "
        f"(_phi{iterations} * {_RAD2DEG!r}) AS {out} FROM {q})"
    )
    return q


def merc_lon_sql(x_expr: str) -> str:
    """DuckDB expression for merc_lon (helpers.php:284-287)."""
    return f"((({x_expr}) / {R_MAJOR!r}) * {_RAD2DEG!r})"


@pandas_udf(DoubleType())
def merc_x_udf(lon: pd.Series) -> pd.Series:
    return pd.Series(merc_x(lon.to_numpy(dtype=np.float64)))


@pandas_udf(DoubleType())
def merc_y_udf(lat: pd.Series) -> pd.Series:
    return pd.Series(merc_y(lat.to_numpy(dtype=np.float64)))


@pandas_udf(DoubleType())
def merc_lat_udf(y: pd.Series) -> pd.Series:
    return pd.Series(merc_lat(y.to_numpy(dtype=np.float64)))
