"""Seeded input tables for the exposure-API benchmark.

Everything here is plain NumPy/pandas: the same ``seed`` gives the same
frames, and Spark only ever receives the finished tables.  The rasters
and greenspace layers are the package's closed-form city fixtures
(``driver_city`` / ``city_fixture``), so only the PoIs, the street
network and the street-view image table depend on the seed.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from greenex_py_spark.data import driver_city as city

CORE_SHARE = 0.6          # share of PoIs inside the 1 km urban core
LATTICE_STEP = 100.0      # street lattice pitch, m
LATTICE_JITTER = 20.0     # max node offset from its lattice point, m
EDGE_DROP = 0.03          # share of lattice street segments removed
NULL_GVI_SHARE = 0.06     # share of images without a GVI value


def _rng(seed: int, stream: int) -> np.random.Generator:
    # independent streams per table, so resizing one table leaves the
    # others unchanged for the same seed
    return np.random.default_rng([int(seed), stream])


def pois(seed: int, n: int) -> pd.DataFrame:
    """[id, x, y]: ``CORE_SHARE`` of the PoIs uniform in the urban core,
    the rest uniform over the whole city (the center-clustered layout of
    the ``driver_city`` geocoder)."""
    rng = _rng(seed, 1)
    core = rng.random(n) < CORE_SHARE
    u = rng.random((n, 2))
    x = np.where(core, city.CORE_X0 + u[:, 0] * city.CORE_EXTENT, city.X0 + u[:, 0] * city.EXTENT)
    y = np.where(core, city.CORE_Y0 + u[:, 1] * city.CORE_EXTENT, city.Y0 + u[:, 1] * city.EXTENT)
    return pd.DataFrame({"id": np.arange(1, n + 1, dtype=np.int64), "x": x, "y": y})


def street_network(seed: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(nodes [node_id, x, y], edges [src, dst, length, geom_xs, geom_ys]).

    A jittered lattice over the whole city at ``LATTICE_STEP`` pitch with
    ``EDGE_DROP`` of its segments removed; every kept segment appears in
    both directions, as an undirected OSM street does."""
    rng = _rng(seed, 2)
    side = int(city.EXTENT // LATTICE_STEP) + 1
    ids = np.arange(side * side, dtype=np.int64)
    gx, gy = ids % side, ids // side
    jit = rng.uniform(-LATTICE_JITTER, LATTICE_JITTER, size=(len(ids), 2))
    nx = city.X0 + gx * LATTICE_STEP + jit[:, 0]
    ny = city.Y0 + gy * LATTICE_STEP + jit[:, 1]
    right = ids[gx + 1 < side]
    up = ids[gy + 1 < side]
    src = np.concatenate([right, up])
    dst = np.concatenate([right + 1, up + side])
    keep = rng.random(len(src)) >= EDGE_DROP
    src, dst = src[keep], dst[keep]
    src, dst = np.concatenate([src, dst]), np.concatenate([dst, src])
    order = np.lexsort((dst, src))
    src, dst = src[order], dst[order]
    x1, y1, x2, y2 = nx[src], ny[src], nx[dst], ny[dst]
    nodes = pd.DataFrame({"node_id": ids, "x": nx, "y": ny})
    edges = pd.DataFrame(
        {
            "src": src,
            "dst": dst,
            "length": np.hypot(x2 - x1, y2 - y1),
            "geom_xs": list(np.stack([x1, x2], axis=1)),
            "geom_ys": list(np.stack([y1, y2], axis=1)),
        }
    )
    return nodes, edges


NODES_SCHEMA = "node_id long, x double, y double"
EDGES_SCHEMA = "src long, dst long, length double, geom_xs array<double>, geom_ys array<double>"


def streetview_images(seed: int, n: int) -> pd.DataFrame:
    """[image_id, x, y, GVI]: per-image GVI as the segmentation stage
    emits it; images follow the PoI layout (dense core, sparse city) and
    ``NULL_GVI_SHARE`` of them carry no value."""
    rng = _rng(seed, 3)
    core = rng.random(n) < CORE_SHARE
    u = rng.random((n, 2))
    x = np.where(core, city.CORE_X0 + u[:, 0] * city.CORE_EXTENT, city.X0 + u[:, 0] * city.EXTENT)
    y = np.where(core, city.CORE_Y0 + u[:, 1] * city.CORE_EXTENT, city.Y0 + u[:, 1] * city.EXTENT)
    gvi = np.round(rng.random(n), 4)
    gvi[rng.random(n) < NULL_GVI_SHARE] = np.nan
    return pd.DataFrame(
        {"image_id": np.arange(1, n + 1, dtype=np.int64), "x": x, "y": y, "GVI": gvi}
    )


IMAGES_SCHEMA = "image_id long, x double, y double, GVI double"
POIS_SCHEMA = "id long, x double, y double"


TILES_SCHEMA = (
    "layer string, tx int, ty int, x0 double, y0 double, "
    "res double, w int, h int, px {}"
)
NDVI_TILES_SCHEMA = TILES_SCHEMA.format("array<double>")
SURFACE_SCHEMA = TILES_SCHEMA.format("binary")


def _tile_rows(layer: str, full: np.ndarray, tile_px: int, res: float, encode) -> list[dict]:
    """One row per ``tile_px`` square of ``full`` (row 0 = southmost), laid
    out as the fixture tile tables are."""
    n_tiles = (full.shape[0] + tile_px - 1) // tile_px
    rows = []
    for ty in range(n_tiles):
        for tx in range(n_tiles):
            a = full[ty * tile_px:(ty + 1) * tile_px, tx * tile_px:(tx + 1) * tile_px]
            rows.append({"layer": layer, "tx": tx, "ty": ty,
                         "x0": city.X0 + tx * tile_px * res, "y0": city.Y0 + ty * tile_px * res,
                         "res": res, "w": a.shape[1], "h": a.shape[0], "px": encode(a)})
    return rows


def ndvi_tiles() -> pd.DataFrame:
    """The ``driver_city`` 10 m NDVI tile table, as ``driver_city.tiles_df``
    builds it, assembled on the driver so that creating it starts no
    Python worker."""
    centers = (np.arange(city.NPX) + 0.5) * city.RES
    full = city.ndvi_value((city.X0 + centers)[None, :], (city.Y0 + centers)[:, None])
    return pd.DataFrame(_tile_rows("ndvi", full, city.TILE_PX, city.RES, np.ravel))


def surface_tiles() -> pd.DataFrame:
    """The ``city_fixture`` dsm/dtm/green surface tile table, as
    ``city_fixture.surface_tiles_df`` builds it, at a fraction of its
    set-up cost: the green layer paints the greenspace rectangles instead
    of testing every pixel against every rectangle."""
    from greenex_py_spark.data import city_fixture as fx

    ix = np.arange(fx.DSM_NPX)
    rasters = {
        "dsm": fx.dsm_value(ix[None, :], ix[:, None]),
        "dtm": fx.dtm_value(ix[None, :], ix[:, None]),
        "green": green_raster(),
    }
    rows = []
    for layer, full in rasters.items():
        rows += _tile_rows(layer, full, 256, fx.DSM_RES,
                           lambda a: np.ascontiguousarray(a, dtype=np.float32).tobytes())
    return pd.DataFrame(rows)


def green_raster() -> np.ndarray:
    """``city_fixture.green_value`` over the whole 5 m raster: a pixel is
    green iff its center lies in a half-open greenspace rectangle."""
    from greenex_py_spark.data import city_fixture as fx

    res, n = fx.DSM_RES, fx.DSM_NPX
    g = city.greenspace_numpy()
    out = np.zeros((n, n), dtype=np.float64)
    # center (i + 0.5)·res + X0 in [minx, maxx)  ⇔  lo <= i < hi
    lo_x = np.ceil((g["minx"] - city.X0) / res - 0.5).astype(np.int64)
    hi_x = np.ceil((g["maxx"] - city.X0) / res - 0.5).astype(np.int64)
    lo_y = np.ceil((g["miny"] - city.Y0) / res - 0.5).astype(np.int64)
    hi_y = np.ceil((g["maxy"] - city.Y0) / res - 0.5).astype(np.int64)
    for i in range(city.N_GS):
        out[max(lo_y[i], 0):max(hi_y[i], 0), max(lo_x[i], 0):max(hi_x[i], 0)] = 1.0
    return out
