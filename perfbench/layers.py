"""Layer spans for the traced run.

While ``patched`` is active, each public layer function below is
replaced by a wrapper that opens a span, calls the original, and
``localCheckpoint``s what it returns, so the span covers that layer's
own work and everything downstream reads the materialized result.  The
operators and the api look these functions up at call time, so a layer
called from inside another lands as a child span of its caller.  The
wrappers live here, in the benchmark; the program is not changed.
"""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame

from greenex_py_spark.geo.grid import GridSpec
from greenex_py_spark.operators import accessibility, network, spatial_join, visibility, zonal

# span name → (owner, attribute); in pipeline order per family
LAYER_FUNCTIONS = {
    "zonal.aoi_circle": (zonal, "aoi_circle"),
    "geo.grid.from_tiles": (GridSpec, "from_tiles"),
    "zonal.zonal_stats_aoi": (zonal, "zonal_stats_aoi"),
    "spatial_join.cell_candidates": (spatial_join, "cell_candidates"),
    "network.nearest_node": (network, "nearest_node"),
    "network.bounded_network_distances_auto": (network, "bounded_network_distances_auto"),
    "network.greenspace_pct_isochrone": (network, "greenspace_pct_isochrone"),
    "visibility.sample_points_viewshed": (visibility, "sample_points_viewshed"),
    "visibility.viewshed_gvi_points": (visibility, "viewshed_gvi_points"),
    "visibility.viewshed_gvi": (visibility, "viewshed_gvi"),
    "visibility.streetview_gvi_aggregate": (visibility, "streetview_gvi_aggregate"),
    "accessibility.rect_buffer_candidates": (accessibility, "rect_buffer_candidates"),
    "accessibility.shortest_distance_greenspace": (accessibility, "shortest_distance_greenspace"),
}


@dataclass
class Record:
    name: str
    args: tuple
    kwargs: dict
    out: object


def _materialize(out):
    if isinstance(out, DataFrame):
        return out.localCheckpoint()
    if isinstance(out, tuple):
        return tuple(_materialize(o) for o in out)
    return out


@contextmanager
def patched(tracer, records: list[Record]):
    """Install the span wrappers; restore the originals on exit."""
    saved = {}
    for name, (owner, attr) in LAYER_FUNCTIONS.items():
        raw = owner.__dict__[attr]
        saved[name] = raw
        fn = raw.__func__ if isinstance(raw, staticmethod) else raw

        def traced(*args, __name=name, __fn=fn, **kwargs):
            with tracer.span(__name):
                out = _materialize(__fn(*args, **kwargs))
            records.append(Record(__name, args, kwargs, out))
            return out

        setattr(owner, attr, staticmethod(traced) if isinstance(raw, staticmethod) else traced)
    try:
        yield
    finally:
        for name, (owner, attr) in LAYER_FUNCTIONS.items():
            setattr(owner, attr, saved[name])


# ---------------------------------------------------------------------------
# counts at the layer boundaries (computed after the call, outside spans)
# ---------------------------------------------------------------------------

# ratio name → (what the numerator counts, what the denominator counts)
RATIOS = {
    "zonal.tile_rows_per_aoi": ("tile rows joined to AoIs", "AoIs"),
    "zonal.pixel_yield": ("pixels inside AoI masks", "pixels shipped to the kernel"),
    "network.reach_rows_per_poi": ("ego-set rows", "snapped PoIs"),
    "visibility.samples_per_poi": ("viewshed sample points", "PoIs"),
    "visibility.halo_replication": ("halo tile rows", "distinct tiles"),
    "visibility.streetview_pair_yield": ("matched (PoI, image) pairs", "pairs compared"),
    "accessibility.candidate_yield": ("pairs within target", "cell-candidate pairs"),
}


def _zonal_counts(aoi: DataFrame, tiles: DataFrame, grid: GridSpec) -> tuple[int, int, int, int]:
    a = aoi.select("kind", "x", "y", "r", "minx", "miny", "maxx", "maxy").toPandas()
    meta = {(int(t.tx), int(t.ty)): int(t.w) * int(t.h)
            for t in tiles.select("tx", "ty", "w", "h").toPandas().itertuples(index=False)}
    res, tm = grid.res, grid.tile_m
    rows = shipped = inside = 0
    for r in a.itertuples(index=False):
        tx0 = max(0, int(np.floor((r.minx - grid.origin_x) / tm)))
        tx1 = min(grid.n_tiles_x - 1, int(np.floor((r.maxx - grid.origin_x) / tm)))
        ty0 = max(0, int(np.floor((r.miny - grid.origin_y) / tm)))
        ty1 = min(grid.n_tiles_y - 1, int(np.floor((r.maxy - grid.origin_y) / tm)))
        for tx in range(tx0, tx1 + 1):
            for ty in range(ty0, ty1 + 1):
                if (tx, ty) in meta:
                    rows += 1
                    shipped += meta[(tx, ty)]
        if r.kind == "circle":
            ix = np.arange(max(0, int(np.floor((r.minx - grid.origin_x) / res))),
                           min(grid.npx_x - 1, int(np.floor((r.maxx - grid.origin_x) / res))) + 1)
            iy = np.arange(max(0, int(np.floor((r.miny - grid.origin_y) / res))),
                           min(grid.npx_y - 1, int(np.floor((r.maxy - grid.origin_y) / res))) + 1)
            cx = grid.origin_x + (ix + 0.5) * res
            cy = grid.origin_y + (iy + 0.5) * res
            inside += int(((cx[None, :] - r.x) ** 2 + (cy[:, None] - r.y) ** 2 <= r.r ** 2).sum())
    return rows, len(a), inside, shipped


def _halo_counts(tiles: DataFrame, grid: GridSpec) -> tuple[int, int]:
    t = tiles.select("tx", "ty").toPandas()
    halo = 0
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            halo += int((t.tx + dx).between(0, grid.n_tiles_x - 1)
                        .mul((t.ty + dy).between(0, grid.n_tiles_y - 1)).sum())
    return halo, len(t)


def counts(records: list[Record]) -> dict[str, list[float]]:
    """ratio name → [numerator, denominator] summed over the records of
    one traced call."""
    out: dict[str, list[float]] = {}

    def add(name, num, den):
        acc = out.setdefault(name, [0.0, 0.0])
        acc[0] += num
        acc[1] += den

    grids = [r.out for r in records if r.name == "geo.grid.from_tiles"]
    cell_rows = [r.out.count() for r in records if r.name == "spatial_join.cell_candidates"]
    for r in records:
        if r.name == "zonal.zonal_stats_aoi":
            aoi, tiles = r.args[0], r.args[1]
            grid = r.kwargs.get("grid") or grids[0]
            rows, n_aoi, inside, shipped = _zonal_counts(aoi, tiles, grid)
            add("zonal.tile_rows_per_aoi", rows, n_aoi)
            add("zonal.pixel_yield", inside, shipped)
        elif r.name == "network.bounded_network_distances_auto":
            add("network.reach_rows_per_poi", r.out.count(), r.args[0].count())
        elif r.name == "visibility.sample_points_viewshed":
            add("visibility.samples_per_poi", r.out.count(), r.args[0].count())
        elif r.name == "visibility.viewshed_gvi_points":
            tiles = r.args[1]
            grid = r.kwargs.get("grid") or grids[-1]
            add("visibility.halo_replication", *_halo_counts(tiles, grid))
        elif r.name == "visibility.streetview_gvi_aggregate":
            images, buffers = r.args[0], r.args[1]
            matched = r.out.agg({"nr_of_points": "sum"}).first()[0] or 0
            n_img = images.filter(images.GVI.isNotNull()).count()
            add("visibility.streetview_pair_yield", matched, n_img * buffers.count())
        elif r.name == "accessibility.rect_buffer_candidates":
            add("accessibility.candidate_yield", r.out.count(), sum(cell_rows))
    return out
