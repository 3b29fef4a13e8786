"""Output checks, run outside the timed region.

Every call must return exactly one row per PoI with the api's output
columns and values in range; on a fixed PoI sample, independent NumPy
mirrors of the closed-form city recompute ``mean_ndvi`` and
``access_euclid``; and a digest of each output must repeat when the
same plan is executed again.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from greenex_py_spark.data import driver_city as city

SAMPLE_IDS = tuple(range(1, 11))   # PoIs the NumPy mirrors recompute
ROUND_TOL = 1.5e-3                 # one step of the api's 3-dp rounding


def digest(out: pd.DataFrame) -> str:
    frame = out.sort_values("id").reset_index(drop=True)
    frame = frame[sorted(frame.columns)]
    h = pd.util.hash_pandas_object(frame, index=False).to_numpy()
    return hashlib.sha256(h.tobytes()).hexdigest()


def _pct(series: pd.Series) -> pd.Series:
    return series.str.rstrip("%").astype(float)


def _circle_pixels(x: float, y: float, r: float):
    """Pixel indices (ix, iy) of the 10 m city raster whose centers lie
    in the disc, as the api's euclidean AoI masks them."""
    ix = np.arange(max(0, int(np.floor((x - r - city.X0) / city.RES))),
                   min(city.NPX - 1, int(np.floor((x + r - city.X0) / city.RES))) + 1)
    iy = np.arange(max(0, int(np.floor((y - r - city.Y0) / city.RES))),
                   min(city.NPX - 1, int(np.floor((y + r - city.Y0) / city.RES))) + 1)
    IX, IY = np.meshgrid(ix, iy)
    cx = city.X0 + (IX + 0.5) * city.RES
    cy = city.Y0 + (IY + 0.5) * city.RES
    inside = (cx - x) ** 2 + (cy - y) ** 2 <= r * r
    return IX[inside], IY[inside]


def mirror_mean_ndvi(x: float, y: float, r: float) -> tuple[float, float]:
    ix, iy = _circle_pixels(x, y, r)
    v = np.maximum(city.ndvi_value(city.X0 + (ix + 0.5) * city.RES,
                                   city.Y0 + (iy + 0.5) * city.RES), 0.0)
    mean = v.mean()
    return mean, np.sqrt(max((v * v).mean() - mean * mean, 0.0))


def mirror_access_euclid(x: float, y: float, target: float) -> tuple[bool, float]:
    g = city.greenspace_numpy()
    dx = np.maximum(0.0, np.maximum(g["minx"] - x, x - g["maxx"]))
    dy = np.maximum(0.0, np.maximum(g["miny"] - y, y - g["maxy"]))
    cand = dx * dx + dy * dy <= target * target
    if not cand.any():
        return False, target
    # Spark rounds half away from zero
    d = np.floor(np.sqrt((g["cx"][cand] - x) ** 2 + (g["cy"][cand] - y) ** 2) + 0.5).min()
    return bool(d <= target), float(min(d, target))


def _range_problems(name: str, out: pd.DataFrame) -> list[str]:
    bad: list[str] = []
    if name == "mean_ndvi":
        if out.mean_NDVI.isna().any() or not out.mean_NDVI.between(0, 1).all():
            bad.append("mean_NDVI outside [0, 1]")
        if out.std_NDVI.isna().any() or (out.std_NDVI < 0).any():
            bad.append("std_NDVI negative or null")
    elif name == "gs_pct_network":
        # PoIs whose ego set has no edge get a null cover, as in the reference
        if not _pct(out.greenspace_cover.dropna()).between(0, 100).all():
            bad.append("greenspace_cover outside [0, 100]")
    elif name == "access_euclid":
        d, within = out.distance_to_greenspace, out.greenspace_within_300m
        if d.isna().any() or not d.between(0, 300).all():
            bad.append("distance outside [0, target]")
        if (d[~within.astype(bool)] != 300.0).any():
            bad.append("a miss is not clamped to the target")
    elif name in ("viewshed", "streetview"):
        gvi = out.GVI.dropna()
        if not gvi.between(0, 1).all():
            bad.append("GVI outside [0, 1]")
        if (out.nr_of_points[out.GVI.notna()] < 1).any():
            bad.append("GVI without points")
    return bad


def _mirror_problems(name: str, out: pd.DataFrame) -> list[str]:
    sample = out[out.id.isin(SAMPLE_IDS)].sort_values("id")
    bad: list[str] = []
    for r in sample.itertuples(index=False):
        if name == "mean_ndvi":
            mean, std = mirror_mean_ndvi(r.x, r.y, 300.0)
            if abs(r.mean_NDVI - mean) > ROUND_TOL or abs(r.std_NDVI - std) > ROUND_TOL:
                bad.append(f"id {r.id}: NDVI {r.mean_NDVI}/{r.std_NDVI} vs mirror {mean}/{std}")
        elif name == "access_euclid":
            within, dist = mirror_access_euclid(r.x, r.y, 300.0)
            if bool(r.greenspace_within_300m) != within or r.distance_to_greenspace != dist:
                bad.append(f"id {r.id}: access {r.greenspace_within_300m}/"
                           f"{r.distance_to_greenspace} vs mirror {within}/{dist}")
    return bad


def problems(name: str, out_cols: tuple[str, ...], out: pd.DataFrame, n_pois: int) -> list[str]:
    """Everything wrong with one call's collected output (empty = pass)."""
    want_cols = {"id", "x", "y", *out_cols}
    if set(out.columns) != want_cols:
        return [f"columns {sorted(out.columns)} != {sorted(want_cols)}"]
    ids = out.id.to_numpy()
    if len(out) != n_pois or len(np.unique(ids)) != n_pois or ids.min() != 1 or ids.max() != n_pois:
        return [f"{len(out)} rows / {len(np.unique(ids))} ids for {n_pois} PoIs"]
    return _range_problems(name, out) + _mirror_problems(name, out)
