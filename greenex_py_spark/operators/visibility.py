"""Visibility family: viewshed GVI + streetview GVI (SURVEY.md §3.3).

Re-expresses ``get_viewshed_GVI`` (/root/reference/GreenExp/visibility.py:
50-293) as a distributed pipeline:

1. **sample points** — edges ∩ PoI buffer (segment-circle test, J9) →
   per-edge interpolation (G6 *linspace* scheme: ``num=int(len/d)+1``,
   or per-edge centroid when shorter than sample_dist —
   visibility.py:579-587) → explode (T3);
2. **halo-join GVI** — each home raster tile that holds a sample point
   is cogrouped with its 3×3 tile halo (the standard halo-exchange
   shape, no global shuffle of pixels): a broadcast equi-join sends a
   tile only to the homes that need it, and a tile north or south of
   its home only as the R rows the home's windows read, cropped in the
   JVM before the Arrow boundary; the Arrow kernel assembles per-point
   (2R+1)² windows from the mosaic and runs the vectorized viewshed
   (geo/raster.py) — reference bug replicated by default;
3. **A5 aggregation** — ``groupBy(id).agg(round(avg(GVI),3), count)``;
   NaN semantics follow np.mean (any NaN point → NaN PoI GVI).

Streetview GVI (visibility.py:296-437) reduces to its in-scope core:
sample points on the road network every N meters (G6 *step* scheme),
dedup, a cell join of the images against PoI buffers (J1), per-PoI
mean/count over an externally-supplied per-point GVI table (A6 —
Mapillary download and Mask2Former segmentation are external stages;
see functions/multimodal for the stubbed decode plumbing).

Raster convention: row r = floor((y - Y0)/res) (south-up). The kernel is
row-flip symmetric, so results match the reference's north-up outputs on
the same geometry.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..geo import kernels, raster
from ..geo.grid import GridSpec


# ---------------------------------------------------------------------------
# sample-point generation
# ---------------------------------------------------------------------------


def sample_points_viewshed(
    points: DataFrame,
    edges: DataFrame,
    buffer_dist: float,
    sample_dist: float,
    id_col: str = "id",
) -> DataFrame:
    """[id, sp_id, x, y] — reference sampling (visibility.py:568-587).

    Candidate edges via broadcast segment-circle test (edge tables after
    bbox pruning are small; at scale swap in the cell-cover equi-join
    exactly as spatial_join.cell_candidates does for polygons).
    """
    e = edges.select(
        "src", "dst", "length",
        F.col("geom_xs").alias("xs"), F.col("geom_ys").alias("ys"),
        F.element_at("geom_xs", 1).alias("ax"), F.element_at("geom_ys", 1).alias("ay"),
        F.element_at("geom_xs", -1).alias("bx"), F.element_at("geom_ys", -1).alias("by"),
    )
    pts = points.select(F.col(id_col).alias("id"), "x", "y")
    # segment-circle intersection (both endpoints' segment vs buffer)
    dx = F.col("bx") - F.col("ax")
    dy = F.col("by") - F.col("ay")
    l2 = dx * dx + dy * dy
    t = F.greatest(
        F.lit(0.0),
        F.least(F.lit(1.0), ((F.col("x") - F.col("ax")) * dx + (F.col("y") - F.col("ay")) * dy)
                / F.when(l2 == 0.0, F.lit(1.0)).otherwise(l2)),
    )
    px = F.col("ax") + t * dx
    py = F.col("ay") + t * dy
    hit = (px - F.col("x")) ** 2 + (py - F.col("y")) ** 2 <= F.lit(float(buffer_dist) ** 2)
    cand = pts.join(F.broadcast(e), hit)

    def interp(pdf_iter):
        for pdf in pdf_iter:
            rows = []
            for r in pdf.itertuples(index=False):
                xs = np.asarray(r.xs, dtype=np.float64)
                ys = np.asarray(r.ys, dtype=np.float64)
                if r.length < sample_dist:
                    # centroid of the line (shapely .centroid of LineString
                    # = length-weighted midpoint; for a single segment the
                    # midpoint — visibility.py:580-582)
                    seg = np.hypot(np.diff(xs), np.diff(ys))
                    if seg.sum() == 0:
                        cx, cy = xs[0], ys[0]
                    else:
                        mid = seg.sum() / 2.0
                        p = kernels._interp_along(xs, ys, seg, np.array([mid]))
                        cx, cy = p[0, 0], p[0, 1]
                    rows.append((r.id, r.src, r.dst, 0, cx, cy))
                else:
                    p = kernels.interpolate_linspace(xs, ys, sample_dist)
                    rows.extend(
                        (r.id, r.src, r.dst, k, p[k, 0], p[k, 1]) for k in range(len(p))
                    )
            yield pd.DataFrame(
                rows, columns=["id", "src", "dst", "k", "spx", "spy"]
            ) if rows else pd.DataFrame(
                {c: [] for c in ["id", "src", "dst", "k", "spx", "spy"]}
            )

    sampled = cand.select("id", "src", "dst", "length", "xs", "ys").mapInPandas(
        interp, schema="id long, src long, dst long, k int, spx double, spy double"
    )
    w = Window.partitionBy("id").orderBy("src", "dst", "k")
    return sampled.select(
        "id",
        F.row_number().over(w).alias("sp_id"),
        F.col("spx").alias("x"),
        F.col("spy").alias("y"),
    )


def sample_points_streetview(
    edges: DataFrame,
    step: float = 50.0,
) -> DataFrame:
    """[x, y] — road-network points every ``step`` m (G6 *step* scheme,
    ``range(0, int(len), N)``, endpoint excluded — visibility.py:633-635),
    deduped on geometry (T1, visibility.py:647)."""

    def interp(pdf_iter):
        for pdf in pdf_iter:
            rows = []
            for r in pdf.itertuples(index=False):
                p = kernels.interpolate_step(
                    np.asarray(r.xs, dtype=np.float64),
                    np.asarray(r.ys, dtype=np.float64),
                    step,
                )
                rows.extend((p[k, 0], p[k, 1]) for k in range(len(p)))
            yield (
                pd.DataFrame(rows, columns=["x", "y"])
                if rows else pd.DataFrame({"x": [], "y": []})
            )

    # duplicate-edge removal first (T6, visibility.py:597-612)
    e = edges.filter(F.col("src") < F.col("dst"))
    return (
        e.select(F.col("geom_xs").alias("xs"), F.col("geom_ys").alias("ys"))
        .mapInPandas(interp, schema="x double, y double")
        .dropDuplicates(["x", "y"])
    )


# ---------------------------------------------------------------------------
# distributed viewshed GVI (halo cogroup)
# ---------------------------------------------------------------------------


def viewshed_gvi_points(
    sampled: DataFrame,
    tiles: DataFrame,
    viewing_dist: float = 250.0,
    observer_height: float = 1.7,
    target_height: float = 0.0,
    replicate_bug: bool = True,
    grid: GridSpec | None = None,
) -> DataFrame:
    """[id, sp_id, x, y, GVI] — per-sample-point GVI.

    ``grid`` describes the surface-tile geometry; ``None`` recovers it
    from the tile table metadata (GridSpec.from_tiles — two tiny agg
    jobs on the first call over a tile table, none on later calls in
    the session; gate queries pass it explicitly).

    ``tiles``: union of dsm/dtm/green tile tables (same schema, distinct
    ``layer`` values).  The home-tiled sample points are materialized
    once (``localCheckpoint``); each home tile that holds a sample point
    gets its ≤ 9-tile halo through a broadcast equi-join, and a halo
    tile north or south of its home is cropped in the JVM to the
    ``R = viewing_dist // res`` rows the home's windows read.  The
    halo is cogrouped with the sample points on the home tile id, and
    the Arrow kernel assembles the mosaic once per group and computes
    every point vectorized.

    Precondition: ``R <= tile_px``, so every window fits the 3×3 halo;
    a larger ``R`` raises ``ValueError``.
    """
    from .zonal import _crop_rows

    grid = grid or GridSpec.from_tiles(tiles)
    tile_px, res = grid.tile_px, grid.res
    ox, oy = grid.origin_x, grid.origin_y
    npx_x, npx_y = grid.npx_x, grid.npx_y
    R = int(viewing_dist // res)
    if R > tile_px:
        raise ValueError(
            f"viewing_dist={viewing_dist} at res={res} is a {R}-px window radius, "
            f"more than tile_px={tile_px}: the 3x3 tile halo cannot hold it; "
            f"use tiles of at least {R} px or a shorter viewing_dist"
        )

    # one small row per sample point, read by the cogroup and the halo's
    # home set alike, so the sampling kernel runs once
    pts = sampled.withColumn(
        "htx", F.floor((F.col("x") - ox) / (tile_px * res)).cast("int")
    ).withColumn(
        "hty", F.floor((F.col("y") - oy) / (tile_px * res)).cast("int")
    ).localCheckpoint()

    # (tile, offset) pairs of the ≤ 9-tile halo of each home that holds
    # a sample point: the tile at (htx - _dx, hty - _dy)
    offsets = F.explode(F.sequence(F.lit(-1), F.lit(1)))
    need = (
        pts.select("htx", "hty").distinct()
        .filter(
            (F.col("htx") >= 0) & (F.col("htx") < grid.n_tiles_x)
            & (F.col("hty") >= 0) & (F.col("hty") < grid.n_tiles_y)
        )
        .withColumn("_dx", offsets)
        .withColumn("_dy", offsets)
        .select(
            (F.col("htx") - F.col("_dx")).alias("tx"),
            (F.col("hty") - F.col("_dy")).alias("ty"),
            "_dx", "_dy",
        )
    )
    halo = tiles.join(F.broadcast(need), ["tx", "ty"]).withColumns(
        {"htx": F.col("tx") + F.col("_dx"), "hty": F.col("ty") + F.col("_dy")}
    )
    # windows reach R rows past their home tile: the top rows of the
    # tile to the south (_dy = 1), the bottom rows of the one to the north
    strip = F.least(F.lit(R), F.col("h"))
    halo = _crop_rows(
        halo,
        F.when(F.col("_dy") == 1, F.col("h") - strip).otherwise(F.lit(0)),
        F.when(F.col("_dy") == 0, F.col("h")).otherwise(strip),
    ).drop("_dx", "_dy")

    def kernel(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        cols = ["id", "sp_id", "x", "y", "GVI"]
        if len(left) == 0:
            return pd.DataFrame({c: [] for c in cols})
        htx = int(left["htx"].iloc[0])
        hty = int(left["hty"].iloc[0])
        base_ix = (htx - 1) * tile_px
        base_iy = (hty - 1) * tile_px
        mos = {
            layer: np.zeros((3 * tile_px, 3 * tile_px)) for layer in ("dsm", "dtm", "green")
        }
        for t in right.itertuples(index=False):
            buf = t.px
            if isinstance(buf, (bytes, bytearray)):
                a = np.frombuffer(buf, dtype=np.float32).astype(np.float64).reshape(t.h, t.w)
            else:
                a = np.asarray(buf, dtype=np.float64).reshape(t.h, t.w)
            r0 = t.ty * tile_px + t.row0 - base_iy
            c0 = t.tx * tile_px - base_ix
            mos[t.layer][r0 : r0 + t.h, c0 : c0 + t.w] = a
        ixc = ((left["x"].to_numpy(np.float64) - ox) // res).astype(np.int64)
        iyc = ((left["y"].to_numpy(np.float64) - oy) // res).astype(np.int64)
        # reference envelope: points whose window leaves the raster
        # would crash/NaN the reference — engine yields null
        ok = (ixc - R >= 0) & (iyc - R >= 0) & (ixc + R + 1 <= npx_x) & (iyc + R + 1 <= npx_y)
        gvi = np.full(len(left), np.nan)
        if ok.any():
            # GVI depends only on the observer PIXEL: sample points from
            # both edge directions, overlapping PoI buffers and nearby
            # PoIs land on identical pixels (measured 78× duplication on
            # the clustered fixture at sf0.1).  Ray-cast once per unique
            # pixel, scatter back — bit-identical, order-of-magnitude
            # less kernel work.
            keys = iyc[ok] * np.int64(npx_x) + ixc[ok]
            uniq, inv = np.unique(keys, return_inverse=True)
            uy = uniq // npx_x
            ux = uniq - uy * npx_x
            uvals = raster.gvi_batch(
                mos["dsm"], mos["dtm"], mos["green"],
                uy - base_iy, ux - base_ix,
                R, res, observer_height, target_height, replicate_bug,
            )
            gvi[ok] = uvals[inv]
        return pd.DataFrame(
            {
                "id": left["id"].to_numpy(np.int64),
                "sp_id": left["sp_id"].to_numpy(np.int64),
                "x": left["x"].to_numpy(np.float64),
                "y": left["y"].to_numpy(np.float64),
                # explicit None (not NaN) → null in the Arrow batch, as before
                "GVI": [None if not np.isfinite(v) else float(v) for v in gvi],
            }
        )

    return (
        pts.groupBy("htx", "hty")
        .cogroup(halo.groupBy("htx", "hty"))
        .applyInPandas(kernel, schema="id long, sp_id long, x double, y double, GVI double")
    )


def viewshed_gvi(
    points: DataFrame,
    edges: DataFrame,
    tiles: DataFrame,
    buffer_dist: float = 100.0,
    viewing_dist: float = 250.0,
    sample_dist: float = 50.0,
    observer_height: float = 1.7,
    id_col: str = "id",
    **kw,
) -> tuple[DataFrame, DataFrame]:
    """Full get_viewshed_GVI pipeline → (per-PoI table, per-point table).

    Per-PoI: [id, GVI, nr_of_points] with np.mean NaN semantics
    (visibility.py:564: any NaN sample ⇒ NaN mean; count = all points).
    """
    sampled = sample_points_viewshed(points, edges, buffer_dist, sample_dist, id_col)
    per_point = viewshed_gvi_points(
        sampled, tiles, viewing_dist, observer_height, **kw
    )
    agg = per_point.groupBy("id").agg(
        F.when(
            F.count("GVI") == F.count("*"), F.round(F.avg("GVI"), 3)
        ).alias("GVI"),
        F.count("*").alias("nr_of_points"),
    )
    return agg.withColumnRenamed("id", id_col), per_point


def streetview_gvi_aggregate(
    gvi_points: DataFrame,
    buffers: DataFrame,
    buffer_dist: float = 150.0,
    id_col: str = "id",
) -> DataFrame:
    """[id, GVI, nr_of_points] — A6 aggregation (visibility.py:1040-1052):
    per-point GVI table (external segmentation output) joined to PoI
    circular buffers; pandas groupby mean/count semantics (NaN GVI rows
    excluded from BOTH mean and count).

    Pairs come from the cell join: each image is a point bbox, the
    broadcast cover padded by ``buffer_dist``; each PoI probes its home
    cell, and the exact ``d² <= buffer_dist²`` test filters — so a PoI
    meets only the images of its neighbourhood, each exactly once.
    Only ``id, x, y`` of the PoIs and ``x, y, GVI`` of the image table
    are read, so no other column of either side can clash."""
    from .spatial_join import cell_candidates

    imgs = gvi_points.filter(F.col("GVI").isNotNull()).select(
        F.col("x").alias("minx"), F.col("y").alias("miny"),
        F.col("x").alias("maxx"), F.col("y").alias("maxy"), "GVI",
    )
    b = buffers.select(F.col(id_col).alias("id"), "x", "y")
    hit = (F.col("minx") - F.col("x")) ** 2 + (F.col("miny") - F.col("y")) ** 2 <= F.lit(
        float(buffer_dist) ** 2
    )
    joined = cell_candidates(b, imgs, pad=float(buffer_dist)).filter(hit)
    return (
        joined.groupBy("id")
        .agg(F.round(F.avg("GVI"), 3).alias("GVI"), F.count("GVI").alias("nr_of_points"))
        .withColumnRenamed("id", id_col)
    )
